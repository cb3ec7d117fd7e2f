"""The benchmark's workloads. Each is a closed loop with one client: the
next op is submitted only after the previous result is back.

A workload function takes a ``Run`` and fills it: set-up phases, timed
ops (latency and a correctness verdict each), the wall time of each
fixed op sequence, and, when tracing, the per-layer figures. Inputs are
made from the seed alone; the program only ever sees the generated files.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
import uuid
from dataclasses import dataclass, field
from datetime import date, timedelta

import duckdb
import numpy as np
import pandas as pd

import datagen
from tracing import MB, ProgressListener, StatusStore, Tracer, add_into

#: Registered queries per query-mix workload, and the scale factor.
QUERY_MIXES: dict[str, tuple[float, tuple[str, ...]]] = {
    "olap_mix": (0.01, (
        "candles_5m", "candles_multi_tf", "medallion_gold",
        "dedup_keyed_latest", "pricing_summary", "join_revenue_by_nation",
        "star_join_revenue", "topk_orders_per_customer", "global_topk_orders",
        "asof_join_purchases", "cohort_retention", "rolling_correlation_30",
        "twap_daily", "ewma_macd", "fk_integrity_check",
        "equi_depth_histogram", "asof_join_skew_bucketed",
    )),
    "similarity_mix": (0.01, ("ann_pq_topk", "ts_similarity_pairs")),
}

#: Measured warm cost of one op sequence at local[4] (seconds); sets how
#: many sequences fit in ``--seconds``. The count depends only on
#: ``--seconds``, so every run of a workload does the same work.
_PASS_EST_S = {"olap_mix": 10.0, "similarity_mix": 5.0}
_DAY_EST_S = 5.5
_BATCH_EST_S = 0.7
#: ``wall_s`` is the median over a run's op sequences (query passes or
#: days); at least three, so that it is a median and not a mean, and one
#: slow sequence in a burst of host load does not move it.
MIN_SEQUENCES = 3

#: Input staging is cheap and repeatable, so set-up stages it this many
#: times and reports the median.
STAGE_REPEATS = 3

_SYMBOLS = ("EUR/USD", "GBP/USD", "USD/JPY", "AUD/USD", "USD/CHF")
_HISTORY_DAYS = 60  # the reference's gold lookback
_STREAM_SLICES = 60
_WARM_SLICES = 10  # drained before timing, from the far end of the 30 days


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    sf: float | None = None
    corrupt_expected: bool = False
    spark: object = None
    setup: dict[str, float] = field(default_factory=dict)
    stage_samples: list[float] = field(default_factory=list)
    ops: list[dict] = field(default_factory=list)
    walls: list[float] = field(default_factory=list)
    traced_walls: list[float] = field(default_factory=list)
    rows_per_wall: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    tracer: Tracer = field(default_factory=lambda: Tracer(False))
    notes: dict = field(default_factory=dict)

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def timed(self, key: str, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        self.setup[key] = self.setup.get(key, 0.0) + time.perf_counter() - t0
        return out

    def stage(self, fn, *args):
        """Run a staging step ``STAGE_REPEATS`` times; keep the last."""
        for _ in range(STAGE_REPEATS):
            t0 = time.perf_counter()
            out = fn(*args)
            self.stage_samples.append(time.perf_counter() - t0)
        self.setup["stage_s"] = statistics.median(self.stage_samples)
        return out


def _duck(run: Run, data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{run.work}/duckdb'")
    for t in datagen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def release_state(spark) -> None:
    """Free the previous op's executor-side state before the next one:
    clear the cache, collect garbage on both sides, and unpersist every
    persistent RDD (dead ``localCheckpoint`` blocks otherwise pile up)."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    prdds = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
    for i in range(prdds.size()):
        prdds.apply(i)._2().unpersist(True)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------- query mixes


def query_mix(run: Run) -> None:
    from forex_data_pipeline_spark import catalog
    from driver_sim import value_hash

    sf, names = QUERY_MIXES[run.workload]
    sf = run.sf or sf
    spark = run.spark
    run.timed("catalog_import_s", catalog._ensure_loaded)
    data = os.path.join(run.work, "data")
    rows = run.stage(lambda: datagen.write_tables(run.seed, sf, _fresh(data)))
    run.notes.update(sf=sf, input_rows=rows, queries=list(names))

    # expected results from the DuckDB oracles (row count and value
    # hash), or, for a query without one, from its own first result
    t0 = time.perf_counter()
    con = _duck(run, data)
    expected: dict[str, tuple[int, str]] = {}
    for name in names:
        sql = catalog.REGISTRY[name].oracle
        if sql is not None:
            odf = con.execute(sql).df()
            expected[name] = (len(odf), value_hash(odf))
    con.close()
    run.setup["oracle_s"] = time.perf_counter() - t0
    if run.corrupt_expected:
        victim = next(n for n in names if n in expected)
        expected[victim] = (expected[victim][0], "0" * 32)

    # warm-up pass: the same op as the timed ones; a query without an
    # oracle is then held to its own first result
    t0 = time.perf_counter()
    warm = run.notes["warmup_ops"] = {}
    for name in run.rng(1).permutation(names):
        release_state(spark)
        t1 = time.perf_counter()
        pdf = _query_op(spark, catalog.REGISTRY[name], data, Tracer(False), None, -1, {})
        warm[name] = time.perf_counter() - t1
        expected.setdefault(name, (len(pdf), value_hash(pdf)))
    run.setup["warmup_s"] = time.perf_counter() - t0

    store = StatusStore(spark) if run.trace else None
    acc = {"build": {}, "exec": {}, "build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0}
    passes = max(MIN_SEQUENCES, round(run.seconds / _PASS_EST_S[run.workload]))
    order_rng = run.rng(2)
    op_id = 0
    # a traced run alternates untraced and traced passes, one of each per
    # pass an untraced run makes
    for p in range(passes * (2 if run.trace else 1)):
        traced = run.trace and p % 2 == 1
        tracer = run.tracer if traced else Tracer(False)
        order = order_rng.permutation(names)
        results = []
        t_pass = time.perf_counter()
        for name in order:
            with tracer.span("harness.release_state", op_id):
                release_state(spark)
                if traced:
                    store.take()  # drop what untraced ops left behind
            t0 = time.perf_counter()
            with tracer.span("op", op_id):
                pdf = _query_op(spark, catalog.REGISTRY[name], data, tracer,
                                store if traced else None, op_id, acc)
            results.append((name, time.perf_counter() - t0, pdf))
            op_id += 1
        wall = time.perf_counter() - t_pass
        (run.traced_walls if traced else run.walls).append(wall)
        if not traced:
            # checked after the pass, outside every timed section
            run.ops.extend(
                {"name": name, "s": dt,
                 "ok": expected[name] == (len(pdf), value_hash(pdf))}
                for name, dt, pdf in results)
    run.rows_per_wall = rows

    if run.trace:
        n_ops = passes * len(names)
        b, e = acc["build"], acc["exec"]
        cores = spark.sparkContext.defaultParallelism
        run.layers.update({
            "catalog.build_s": acc["build_s"] / n_ops,
            "catalog.build_jobs": b.get("jobs", 0.0) / n_ops,
            "catalog.build_task_run_s": b.get("task_run_s", 0.0) / n_ops,
            "plan.plan_s": acc["plan_s"] / n_ops,
            "exec.exec_s": acc["exec_s"] / n_ops,
            "exec.core_idle_frac": 1.0 - e.get("task_run_s", 0.0)
            / max(acc["exec_s"] * cores, 1e-9),
        })
        _exec_layers(run, e, n_ops)
        run.layers["tables.input_mb"] = (
            b.get("input_mb", 0.0) + e.get("input_mb", 0.0)) / n_ops
        run.layers["tables.input_rows"] = (
            b.get("input_rows", 0.0) + e.get("input_rows", 0.0)) / n_ops


def _query_op(spark, spec, data, tracer, store, op_id, acc) -> pd.DataFrame:
    """One op: build the DataFrame, plan it, bring its result to the
    driver. The same code runs traced and untraced; only the spans and
    status-store reads differ."""
    t0 = time.perf_counter()
    with tracer.span("catalog.build", op_id):
        df = spec.fn(spark, data)
    t1 = time.perf_counter()
    if store is not None:
        with tracer.span("trace.collect", op_id):
            add_into(acc["build"], store.take())
    t2 = time.perf_counter()
    with tracer.span("plan", op_id):
        df._jdf.queryExecution().executedPlan()
    t3 = time.perf_counter()
    with tracer.span("exec", op_id):
        pdf = df.toPandas()
    t4 = time.perf_counter()
    if store is not None:
        acc["build_s"] += t1 - t0
        acc["plan_s"] += t3 - t2
        acc["exec_s"] += t4 - t3
        with tracer.span("trace.collect", op_id):
            add_into(acc["exec"], store.take())
    return pdf


def _exec_layers(run: Run, e: dict[str, float], n_ops: int) -> None:
    for k in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
              "task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb"):
        run.layers[f"exec.{k}"] = e.get(k, 0.0) / n_ops
    run.layers["exec.peak_exec_mem_mb"] = e.get("peak_exec_mem_mb", 0.0)


# ------------------------------------------------------------ medallion_daily


def _gold_rows(stamps: list[pd.DatetimeIndex]) -> int:
    """Expected gold row count: one candle per occupied bucket per
    timeframe over every bar ingested so far."""
    from forex_data_pipeline_spark.operators.candles import REFERENCE_TIMEFRAMES

    epoch = np.concatenate([s.asi8 // 10**9 for s in stamps])
    return sum(
        len(np.unique((epoch + tf.shift_seconds) // tf.seconds))
        for tf in REFERENCE_TIMEFRAMES
    )


def _tree(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def medallion_daily(run: Run) -> None:
    from forex_data_pipeline_spark.cli import synthetic_transport
    from forex_data_pipeline_spark.pipeline import medallion as m
    from forex_data_pipeline_spark.sources.rest import TimeSeriesRestSource

    spark = run.spark
    rng = run.rng(3)
    symbol = _SYMBOLS[int(rng.integers(len(_SYMBOLS)))]
    start = date(2024, 1, 1) + timedelta(days=int(rng.integers(0, 300)))
    # per-day time still falls over the first days after the warm-up day;
    # the median of the timed days absorbs that
    n_days = max(MIN_SEQUENCES, round(run.seconds / _DAY_EST_S))
    wh = os.path.join(run.work, "warehouse")
    cfg = m.PipelineConfig(base_dir=wh, symbol=symbol)
    source = TimeSeriesRestSource(transport=synthetic_transport, symbol=symbol)
    run.notes.update(symbol=symbol, start_day=start.isoformat(),
                     history_days=_HISTORY_DAYS, timed_days=n_days)

    history = [(start - timedelta(days=_HISTORY_DAYS + 1 - i)).isoformat()
               for i in range(_HISTORY_DAYS)]
    warm_day = (start - timedelta(days=1)).isoformat()
    days = [(start + timedelta(days=i)).isoformat() for i in range(n_days)]

    def fetch_history() -> pd.DataFrame:
        return pd.concat([source.validate(source.fetch_day(d)) for d in history])

    hist = run.stage(fetch_history)
    stamps = [hist.index]

    def backfill() -> None:
        out = hist.reset_index()
        out["datetime"] = out["datetime"].astype("datetime64[us]")
        out["extraction_date"] = out["extraction_date"].astype("datetime64[us]")
        m.run_batch(spark, cfg, spark.createDataFrame(out))

    run.timed("backfill_s", backfill)

    def one_day(day: str, op: int, tracer: Tracer, store: StatusStore | None,
                acc: dict) -> dict[str, int]:
        def phase(name: str, fn, *args):
            t0 = time.perf_counter()
            with tracer.span(name, op):
                out = fn(*args)
            if store is not None:
                acc[name] = acc.get(name, 0.0) + time.perf_counter() - t0
                with tracer.span("trace.collect", op):
                    add_into(acc.setdefault("exec", {}), store.take())
            return out

        raw = phase("sources.rest.to_spark", source.to_spark, spark, day)
        phase("pipeline.medallion.bronze_ingest", m.bronze_ingest, cfg, raw)
        phase("pipeline.medallion.silver_run", m.silver_run, spark, cfg)
        phase("pipeline.medallion.gold_run", m.gold_run, spark, cfg)
        return phase("pipeline.medallion.gold_checks", m.gold_checks, spark, cfg)

    t0 = time.perf_counter()
    one_day(warm_day, -1, Tracer(False), None, {})
    stamps.append(source.validate(source.fetch_day(warm_day)).index)
    run.setup["warmup_s"] = time.perf_counter() - t0

    store = StatusStore(spark) if run.trace else None
    acc: dict = {}
    written_bytes = written_files = input_bytes = 0.0
    for op, day in enumerate(days):
        traced = run.trace and op % 2 == 1  # alternate, as the query mixes do
        tracer = run.tracer if traced else Tracer(False)
        release_state(spark)
        before = _tree(wh) if traced else None
        if traced:
            store.take()  # drop what untraced days left behind
        t0 = time.perf_counter()
        with tracer.span("op", op):
            checks = one_day(day, op, tracer, store if traced else None, acc)
        dt = time.perf_counter() - t0
        bars = source.validate(source.fetch_day(day))
        stamps.append(bars.index)
        expect = _gold_rows(stamps)
        got = spark.read.parquet(cfg.gold_path).count()
        ok = not any(checks.values()) and got == expect
        if traced:
            after = _tree(wh)
            changed = [p for p, v in after.items() if before.get(p) != v]
            written_files += len(changed)
            written_bytes += sum(after[p][0] for p in changed)
            input_bytes += bars.memory_usage(deep=True).sum()
            run.traced_walls.append(dt)
        else:
            run.walls.append(dt)
            run.ops.append({"name": day, "s": dt, "ok": ok,
                            "gold_rows": got, "violations": sum(checks.values())})
        if not ok:
            run.notes.setdefault("bad_days", []).append(
                {"day": day, "checks": checks, "gold_rows": got, "expected": expect})
    # the op sequence is one day, the reference's unit of work: wall_s is
    # the median day, which a burst of host load on one day does not move
    run.rows_per_wall = 288

    if run.trace:
        n_days = len(days) - len(run.ops)  # the traced ones
        e = acc.get("exec", {})
        op_s = sum(v for k, v in acc.items() if k != "exec")
        run.layers.update({
            "sources.rest.to_spark_s": acc["sources.rest.to_spark"] / n_days,
            "pipeline.medallion.bronze_ingest_s":
                acc["pipeline.medallion.bronze_ingest"] / n_days,
            "pipeline.medallion.silver_run_s":
                acc["pipeline.medallion.silver_run"] / n_days,
            "pipeline.medallion.gold_run_s": acc["pipeline.medallion.gold_run"] / n_days,
            "pipeline.medallion.gold_checks_s":
                acc["pipeline.medallion.gold_checks"] / n_days,
            "pipeline.medallion.jobs_per_day": e.get("jobs", 0.0) / n_days,
            "sources.writers.bytes_written_per_input_byte":
                written_bytes / max(input_bytes, 1.0),
            "sources.writers.files_written_per_day": written_files / n_days,
            "sources.writers.gold_files": float(sum(
                1 for p in _tree(cfg.gold_path) if p.endswith(".parquet"))),
            "exec.exec_s": op_s / n_days,
            "exec.core_idle_frac": 1.0 - e.get("task_run_s", 0.0)
            / max(op_s * spark.sparkContext.defaultParallelism, 1e-9),
            "tables.input_mb": e.get("input_mb", 0.0) / n_days,
            "tables.input_rows": e.get("input_rows", 0.0) / n_days,
        })
        _exec_layers(run, e, n_days)


# ------------------------------------------------------------- stream_candles


def stream_candles(run: Run) -> None:
    from forex_data_pipeline_spark import catalog
    from forex_data_pipeline_spark.streaming.candles_stream import (
        read_tick_stream,
        run_available_now_to_table,
        state_partitions_for,
        streaming_candles,
    )
    from driver_sim import value_hash

    spark = run.spark
    sf = run.sf or 0.1
    run.timed("catalog_import_s", catalog._ensure_loaded)
    n_files = min(_STREAM_SLICES - _WARM_SLICES,
                  max(4, round(run.seconds / _BATCH_EST_S)))
    slices = os.path.join(run.work, "slices")
    run.stage(lambda: datagen.write_event_slices(
        run.seed, sf, _fresh(slices), _STREAM_SLICES))
    files = sorted(os.listdir(slices))
    src, warm = os.path.join(run.work, "src"), os.path.join(run.work, "warm")
    for d, chosen in ((src, files[:n_files]), (warm, files[-_WARM_SLICES:])):
        os.makedirs(d)
        for f in chosen:
            os.rename(os.path.join(slices, f), os.path.join(d, f))
    schema = spark.read.parquet(src).schema

    con = _duck(run, run.work)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/*.parquet')")
    t0 = time.perf_counter()
    oracle = con.execute(catalog.REGISTRY["streaming_candles_5m"].oracle).df()
    n_rows = con.execute("SELECT count(*) FROM events").fetchone()[0]
    con.close()
    expected = "0" * 32 if run.corrupt_expected else value_hash(oracle)
    run.setup["oracle_s"] = time.perf_counter() - t0
    run.notes.update(sf=sf, files=n_files, input_rows=n_rows)

    listener = ProgressListener()
    spark.streams.addListener(listener)

    def drain(source_dir: str, tracer: Tracer):
        ticks = read_tick_stream(spark, source_dir, schema, max_files_per_trigger=1)
        candles = streaming_candles(ticks, "ts", "value", ["event_type"])
        table = f"bench_candles_{uuid.uuid4().hex[:8]}"
        ckpt = os.path.join(run.work, "ckpt", table)
        with tracer.span("op"):
            parts = state_partitions_for(spark, source_dir)
            q = run_available_now_to_table(candles, table, ckpt,
                                           shuffle_partitions=parts)
        return table, str(q.id), parts

    try:
        t0 = time.perf_counter()
        listener.wait_terminated(drain(warm, Tracer(False))[1])
        run.setup["warmup_s"] = time.perf_counter() - t0

        for traced in ((False, True) if run.trace else (False,)):
            tracer = run.tracer if traced else Tracer(False)
            release_state(spark)
            store = StatusStore(spark) if traced else None
            t0 = time.perf_counter()
            table, qid, parts = drain(src, tracer)
            wall = time.perf_counter() - t0
            e = store.take() if traced else {}
            listener.wait_terminated(qid)
            batches = listener.batches(qid)
            got = value_hash(spark.table(table).select(
                "candle_start", "event_type", "open_value", "high_value",
                "low_value", "close_value", "n_ticks").toPandas())
            ok = got == expected
            if traced:
                run.traced_walls.append(wall)
                _stream_layers(run, batches, e, parts, wall)
            else:
                run.walls.append(wall)
                run.ops.extend({"name": f"batch{p.batchId}",
                                "s": p.durationMs["triggerExecution"] / 1e3,
                                "ok": ok} for p in batches)
            spark.sql(f"DROP VIEW IF EXISTS {table}")
    finally:
        spark.streams.removeListener(listener)
    run.rows_per_wall = n_rows


def _stream_layers(run: Run, batches: list, e: dict, parts: int, wall: float) -> None:
    def p50(key: str) -> float:
        return statistics.median(p.durationMs.get(key, 0) for p in batches)

    last = batches[-1].stateOperators[0]
    n = len(batches)
    run.layers.update({
        "streaming.candles_stream.trigger_ms_p50": p50("triggerExecution"),
        "streaming.candles_stream.add_batch_ms_p50": p50("addBatch"),
        "streaming.candles_stream.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.candles_stream.commit_ms_p50": statistics.median(
            p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
            for p in batches),
        "streaming.candles_stream.state_rows": float(last.numRowsTotal),
        "streaming.candles_stream.state_mem_mb": last.memoryUsedBytes / MB,
        "streaming.candles_stream.state_commit_ms_p50": statistics.median(
            p.stateOperators[0].commitTimeMs for p in batches),
        "streaming.candles_stream.state_partitions": float(parts),
        "streaming.candles_stream.input_rows_per_batch": statistics.median(
            p.numInputRows for p in batches),
        "exec.exec_s": wall / n,
        "exec.core_idle_frac": 1.0 - e.get("task_run_s", 0.0)
        / max(wall * run.spark.sparkContext.defaultParallelism, 1e-9),
        "tables.input_mb": e.get("input_mb", 0.0) / n,
        "tables.input_rows": e.get("input_rows", 0.0) / n,
    })
    _exec_layers(run, e, n)


WORKLOADS = {
    "olap_mix": query_mix,
    "similarity_mix": query_mix,
    "medallion_daily": medallion_daily,
    "stream_candles": stream_candles,
}
