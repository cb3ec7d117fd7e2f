"""Driver-side cost guards for the two ``similarity_mix`` queries.

At bench scale these queries cost driver time, not executor time: each
Spark job pays scheduling latency, and each py4j command building a
Column expression is a socket round trip to the JVM. Both counts are
exact for a given plan and pyspark version, so they are pinned here
(measured at sf0.001, pyspark 4.1): a change that re-grows the
expression builders or the job chain fails this test instead of
showing up later as a slower benchmark.
"""

from __future__ import annotations

import pytest
from py4j import clientserver

from forex_data_pipeline_spark import catalog

catalog._ensure_loaded()

# name -> (max py4j commands while building the DataFrame, max Spark
# jobs for build + collect). Measured: ann_pq_topk 1329 commands / 14
# jobs, ts_similarity_pairs 591 / 4; the per-Column expression builders
# and chained PQ training they replaced measured 8839 / 17 and 850 / 7.
_BOUNDS = {
    "ann_pq_topk": (1400, 15),
    "ts_similarity_pairs": (650, 5),
}


@pytest.mark.parametrize("name", sorted(_BOUNDS))
def test_similarity_driver_cost_is_bounded(spark, sf_dir, monkeypatch, name):
    max_cmds, max_jobs = _BOUNDS[name]
    fn = catalog.REGISTRY[name].fn
    fn(spark, sf_dir)  # first-use JVM lookups are not per-query cost

    sent = []
    send = clientserver.ClientServerConnection.send_command

    def counting(self, command):
        # py4j's proxy garbage collection ("m\nd\n") follows Python's
        # GC timing, not the query
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command)

    sc = spark.sparkContext
    group = f"driver-cost:{name}"
    sc.setJobGroup(group, name)
    try:
        monkeypatch.setattr(
            clientserver.ClientServerConnection, "send_command", counting
        )
        df = fn(spark, sf_dir)
        n_cmds = len(sent)
        monkeypatch.undo()
        assert df.collect()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n_cmds <= max_cmds, f"{name}: {n_cmds} py4j commands to build"
    assert n_jobs <= max_jobs, f"{name}: {n_jobs} jobs"
