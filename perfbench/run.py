#!/usr/bin/env python3
"""The repo benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload similarity_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The session is ``local[<cores>]`` from the
engine's own ``get_spark``; every file the run makes lives in a
``.perfbench_*`` directory under the root that is removed at exit. The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it is the full record (host fingerprint,
canaries, set-up phases, sample counts, per-op results and, when
tracing, the spans). See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The gated end-to-end metrics. ``op_p50_s`` is in the full record only:
#: with a fixed op count it moves with ``wall_s``, and on
#: ``medallion_daily`` it is ``wall_s``.
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}

_EXEC = ("jobs", "stages", "tasks", "failed_tasks")
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalog.build_task_run_s": "s",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    **{f"exec.{k}": "count" for k in _EXEC},
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_exec_mem_mb": "MB",
    "exec.core_idle_frac": "ratio",
    "tables.input_mb": "MB",
    "tables.input_rows": "count",
    "sources.rest.to_spark_s": "s",
    "pipeline.medallion.bronze_ingest_s": "s",
    "pipeline.medallion.silver_run_s": "s",
    "pipeline.medallion.gold_run_s": "s",
    "pipeline.medallion.gold_checks_s": "s",
    "pipeline.medallion.jobs_per_day": "count",
    "sources.writers.bytes_written_per_input_byte": "ratio",
    "sources.writers.files_written_per_day": "count",
    "sources.writers.gold_files": "count",
    "streaming.candles_stream.trigger_ms_p50": "ms",
    "streaming.candles_stream.add_batch_ms_p50": "ms",
    "streaming.candles_stream.query_planning_ms_p50": "ms",
    "streaming.candles_stream.commit_ms_p50": "ms",
    "streaming.candles_stream.state_rows": "count",
    "streaming.candles_stream.state_mem_mb": "MB",
    "streaming.candles_stream.state_commit_ms_p50": "ms",
    "streaming.candles_stream.state_partitions": "count",
    "streaming.candles_stream.input_rows_per_batch": "count",
    "host.canary_jvm_s": "s",
    "host.canary_job_ms": "ms",
    "trace.overhead_frac": "ratio",
    "trace.accounted_frac": "ratio",
}


def _prepare_env(work: str) -> None:
    """Everything the session, its Python workers and DuckDB write goes
    under ``work``; the workers get the repo on their import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed-size heap: the JVM's resident set then does not depend on
    # when the collector chose to grow the heap
    mem = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in paths if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join([
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'sql-warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options '-Xms{mem} -Djava.io.tmpdir={tmp}'",
            "pyspark-shell",
        ]),
    )
    tempfile.tempdir = tmp
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "scripts")]


def _start_session():
    from forex_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _quantile(xs: list[float], q: float) -> float:
    return float(statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1])


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 work: str, session_s: float, sf: float | None = None,
                 corrupt_expected: bool = False) -> tuple[dict, dict]:
    """Run one workload; returns (full record, contract result line)."""
    import host
    from tracing import Tracer
    from workloads import WORKLOADS, Run

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    fp = host.fingerprint(spark, ROOT, jvm_pid)
    run = Run(name, seed, seconds, trace, work, sf=sf,
              corrupt_expected=corrupt_expected, spark=spark, tracer=Tracer(trace))
    run.setup["session.get_spark_s"] = session_s
    WORKLOADS[name](run)
    peak = host.peak_rss_mb(jvm_pid)
    canary = host.canaries(spark)

    lat = [o["s"] for o in run.ops]
    failed = sum(not o["ok"] for o in run.ops)
    wall = statistics.median(run.walls)
    e2e = {
        "setup_s": sum(run.setup.values()),
        "wall_s": wall,
        "peak_rss_mb": peak,
    }
    summary = {
        **e2e,
        "op_p50_s": statistics.median(lat),
        # a p90 needs at least ten samples beyond it
        "op_p90_s": _quantile(lat, 90) if len(lat) >= 100 else None,
        "rows_per_s": run.rows_per_wall / wall
        if name in ("medallion_daily", "stream_candles") else None,
        "failed_frac": failed / len(run.ops),
        "samples": {"ops": len(lat), "walls": len(run.walls),
                    "stage": len(run.stage_samples)},
    }
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "host": fp, **canary, "setup": run.setup,
        "stage_samples": run.stage_samples, "summary": summary,
        "walls": run.walls, "ops": run.ops, "notes": run.notes,
    }
    if trace:
        layers = {k: 0.0 for k in LAYER_UNITS}
        layers["trace.overhead_frac"] = statistics.median(run.traced_walls) / wall - 1.0
        layers.update(run.layers)
        layers["session.get_spark_s"] = session_s
        layers["session.warmup_s"] = run.setup.get("warmup_s", 0.0)
        layers["host.canary_jvm_s"] = canary["canary_jvm_s"]
        layers["host.canary_job_ms"] = canary["canary_job_ms"]
        layers["trace.accounted_frac"] = run.tracer.root_seconds() / sum(run.traced_walls)
        record.update(layers=layers, traced_walls=run.traced_walls,
                      self_s=run.tracer.self_times(), spans=run.tracer.spans)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    result = {
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": metrics,
    }
    return record, result


def selftest(work: str) -> int:
    """Every workload at sf0.001 and minimal length, traced and not:
    every metric present with its unit; a wrong expected hash must fail."""
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = _start_session()
    session_s = time.perf_counter() - t0
    problems = []
    try:
        for i, name in enumerate(WORKLOADS):
            for trace, units in ((False, E2E_UNITS), (True, LAYER_UNITS)):
                sub = os.path.join(work, f"{name}-{int(trace)}")
                os.makedirs(sub)
                _, res = run_workload(spark, name, seed=i, seconds=1, trace=trace,
                                      work=sub, session_s=session_s, sf=0.001)
                got = {k: m["unit"] for k, m in res["metrics"].items()}
                if got != units:
                    problems.append(f"{name} trace={int(trace)}: metrics {got}")
                if res["failed"] or not res["correct"]:
                    problems.append(f"{name} trace={int(trace)}: {res['failed']} failed")
                print(f"selftest {name} trace={int(trace)}: "
                      f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        for name in ("similarity_mix", "stream_candles"):
            sub = os.path.join(work, f"{name}-corrupt")
            os.makedirs(sub)
            _, res = run_workload(spark, name, seed=0, seconds=1, trace=False,
                                  work=sub, session_s=session_s, sf=0.001,
                                  corrupt_expected=True)
            if res["failed"] == 0 or res["correct"]:
                problems.append(f"{name}: wrong expected hash went unnoticed")
            print(f"selftest {name} wrong hash: failed={res['failed']}", flush=True)
    finally:
        _stop_session(spark)
    for p in problems:
        print("FAIL", p)
    print("selftest", "ok" if not problems else "FAILED")
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix=".perfbench_", dir=ROOT)
    try:
        _prepare_env(work)
        if args.selftest:
            return selftest(work)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
        t0 = time.perf_counter()
        spark = _start_session()
        session_s = time.perf_counter() - t0
        try:
            record, result = run_workload(
                spark, args.workload, args.seed, args.seconds, bool(args.trace),
                work, session_s)
        finally:
            _stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
