"""Pipeline-level tests (SURVEY §5 plan): golden full-run, incremental ≡
full recompute across merge seams, idempotent re-runs — the behaviors
stg_eurusd.sql:18-21 / fct:25-29 exist to guarantee."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest

from forex_data_pipeline_spark.pipeline.medallion import (
    PipelineConfig,
    run_batch,
)
from forex_data_pipeline_spark.operators.candles import Timeframe

TFS = (Timeframe("5m", 300, 7200), Timeframe("1h", 3600, 7200),
       Timeframe("24h", 86400, 0))

SILVER_COLS = ["symbol", "observed_at", "open_price", "high_price",
               "low_price", "close_price"]
GOLD_COLS = ["unique_id", "symbol", "timeframe", "candle_start",
             "open_value", "high_value", "low_value", "close_value",
             "n_ticks", "price_diff", "sma_20", "sma_50"]


def make_ticks(start: str, periods: int, dup_every: int = 50) -> pd.DataFrame:
    """Deterministic 5-min tick batch shaped like the reference's raw
    payload: STRING OHLC columns (stg casts them, stg_eurusd.sql:27-31),
    with exact-duplicate rows injected every ``dup_every`` rows."""
    ts = pd.date_range(start=start, periods=periods, freq="5min")
    base = 1.08 + (pd.Series(range(periods)) * 7919 % 1000) / 10000.0
    df = pd.DataFrame(
        {
            "datetime": ts,
            "open": base.map("{:.6f}".format),
            "high": (base + 0.0005).map("{:.6f}".format),
            "low": (base - 0.0005).map("{:.6f}".format),
            "close": (base + 0.0001).map("{:.6f}".format),
        }
    )
    dups = df.iloc[::dup_every]
    return (
        pd.concat([df, dups])
        .sample(frac=1.0, random_state=7)  # out-of-order arrival
        .reset_index(drop=True)
    )


def _cfg(tmp_path, name: str) -> PipelineConfig:
    return PipelineConfig(
        base_dir=f"{tmp_path}/{name}",
        timeframes=TFS,
        sma_windows=(20, 50),
    )


def _collect(spark, path, cols):
    return (
        spark.read.parquet(path)
        .select(*cols)
        .toPandas()
        .sort_values(cols[:4])
        .reset_index(drop=True)
    )


def test_full_pipeline_green(spark, tmp_path):
    cfg = _cfg(tmp_path, "full")
    raw = spark.createDataFrame(make_ticks("2024-03-01", 288 * 8))
    checks = run_batch(spark, cfg, raw)
    assert all(v == 0 for v in checks.values()), checks
    gold = spark.read.parquet(cfg.gold_path)
    assert {r["timeframe"] for r in gold.select("timeframe").distinct().collect()} == {
        "5m", "1h", "24h"
    }
    # 8 days of 24h candles; intraday counts follow the grid
    assert gold.filter("timeframe = '24h'").count() == 8
    day1_5m = gold.filter(
        "timeframe = '5m' AND candle_start >= '2024-03-02' "
        "AND candle_start < '2024-03-03'"
    )
    assert day1_5m.count() == 288
    assert day1_5m.filter("n_ticks != 1").count() == 0  # dedup held


def test_incremental_equals_full_recompute(spark, tmp_path):
    """Three daily batches with overlapping re-fetches (late duplicates)
    must converge to byte-identical silver+gold vs one full run."""
    # gold recomputes from its own watermark, so each seam sits at the
    # newest candle: it lands mid-candle for every coarser timeframe and
    # the SMA-50 window reaches far past it — both the per-tf boundary
    # snap and the existing-gold context path must engage for equality.
    inc = _cfg(tmp_path, "inc")
    full = _cfg(tmp_path, "fullr")

    # batches overlap by half a day — the high-watermark filter (P3)
    # must drop the re-fetched tail, the merge (S9) must never dup.
    b1 = make_ticks("2024-03-01", 288 * 3)
    b2 = make_ticks("2024-03-03 12:00", 288 * 3)   # overlaps day 3
    b3 = make_ticks("2024-03-06", 288 * 2)         # overlaps b2's tail
    for b in (b1, b2, b3):
        run_batch(spark, inc, spark.createDataFrame(b))

    run_batch(
        spark, full,
        spark.createDataFrame(pd.concat([b1, b2, b3], ignore_index=True)),
    )

    for path_attr, cols in (("silver_path", SILVER_COLS), ("gold_path", GOLD_COLS)):
        got = _collect(spark, getattr(inc, path_attr), cols)
        exp = _collect(spark, getattr(full, path_attr), cols)
        pd.testing.assert_frame_equal(got, exp, check_like=True)


def test_incremental_rest_days_equal_full_batch_default_config(
    spark, tmp_path
):
    """A backfill and then three REST days through the seam path, with
    the default config (7 reference timeframes, SMA 20/50), must equal
    one full-batch run on every non-audit column of silver and gold."""
    from datetime import datetime
    from functools import reduce

    from forex_data_pipeline_spark.cli import synthetic_transport
    from forex_data_pipeline_spark.pipeline.medallion import run_daily
    from forex_data_pipeline_spark.sources.rest import TimeSeriesRestSource

    src = TimeSeriesRestSource(
        transport=synthetic_transport, now=lambda: datetime(2024, 3, 20)
    )
    days = [f"2024-03-{d:02d}" for d in range(1, 9)]

    def raw(ds):
        return reduce(
            lambda a, b: a.unionByName(b), [src.to_spark(spark, d) for d in ds]
        )

    inc = PipelineConfig(base_dir=f"{tmp_path}/inc")
    full = PipelineConfig(base_dir=f"{tmp_path}/full")
    run_batch(spark, inc, raw(days[:5]))  # backfill
    for d in days[5:]:
        assert not any(run_daily(spark, inc, src, d).values())
    run_batch(spark, full, raw(days))

    for path_attr, cols in (("silver_path", SILVER_COLS), ("gold_path", GOLD_COLS)):
        got = _collect(spark, getattr(inc, path_attr), cols)
        exp = _collect(spark, getattr(full, path_attr), cols)
        pd.testing.assert_frame_equal(got, exp, check_like=True)


def test_idempotent_rerun(spark, tmp_path):
    """Re-running the same batch must be a no-op (exactly-once semantics
    the reference gets from MERGE + watermark, SURVEY §2.10)."""
    cfg = _cfg(tmp_path, "idem")
    raw = make_ticks("2024-03-01", 288 * 2)
    run_batch(spark, cfg, spark.createDataFrame(raw))
    before_s = _collect(spark, cfg.silver_path, SILVER_COLS)
    before_g = _collect(spark, cfg.gold_path, GOLD_COLS)

    run_batch(spark, cfg, spark.createDataFrame(raw))  # same batch again
    after_s = _collect(spark, cfg.silver_path, SILVER_COLS)
    after_g = _collect(spark, cfg.gold_path, GOLD_COLS)

    pd.testing.assert_frame_equal(before_s, after_s)
    pd.testing.assert_frame_equal(before_g, after_g)


def test_quality_checks_catch_violations(spark, tmp_path):
    """The Q1-Q3 machinery must actually fire on bad data."""
    from forex_data_pipeline_spark.operators.quality import (
        accepted_values_violations,
        unique_violations,
    )

    bad = spark.createDataFrame(
        [("a", "5m"), ("a", "5m"), ("b", "99x")], "unique_id string, timeframe string"
    )
    assert unique_violations(bad, ["unique_id", "timeframe"]).count() == 1
    assert accepted_values_violations(bad, "timeframe", ["5m"]).count() == 1


def test_gold_checks_one_pass_counts_match_single_purpose_helpers(
    spark, tmp_path
):
    """gold_checks computes its four counts in one action; on a
    hand-built bad gold table each must still report its violation kind
    and equal the count of the matching single-purpose helper."""
    from datetime import datetime

    from forex_data_pipeline_spark.operators.quality import (
        accepted_values_violations,
        not_null_violations,
        unique_violations,
    )
    from forex_data_pipeline_spark.pipeline.medallion import gold_checks

    cfg = _cfg(tmp_path, "bad")
    t = datetime(2024, 3, 1)
    spark.createDataFrame(
        [
            ("a", "5m", t), ("a", "1h", t),                  # dup key
            ("b", "5m", t), ("b", "1h", t), ("b", "24h", t),  # dup key
            (None, "5m", t), (None, "1h", t),  # null keys (a dup group too)
            ("c", "5m", None),                 # null candle_start
            ("d", "99x", t), ("e", None, t),   # rejected timeframes
        ],
        "unique_id string, timeframe string, candle_start timestamp_ntz",
    ).write.parquet(cfg.gold_path)

    checks = gold_checks(spark, cfg)
    gold = spark.read.parquet(cfg.gold_path)
    assert checks == {
        "unique__unique_id": unique_violations(gold, ["unique_id"]).count(),
        "not_null__unique_id": not_null_violations(gold, "unique_id").count(),
        "not_null__candle_start":
            not_null_violations(gold, "candle_start").count(),
        "accepted_values__timeframe": accepted_values_violations(
            gold, "timeframe", [tf.name for tf in TFS]
        ).count(),
    }
    assert checks == {
        "unique__unique_id": 3,
        "not_null__unique_id": 2,
        "not_null__candle_start": 1,
        "accepted_values__timeframe": 2,
    }


def test_run_daily_from_rest_source(spark, tmp_path):
    """EP1+EP3: vendor payload (via fake transport) → bronze → silver →
    gold, quality-green, with the S2 retry wrapper in the path."""
    from datetime import datetime

    from forex_data_pipeline_spark.pipeline.medallion import run_daily
    from forex_data_pipeline_spark.sources.rest import (
        RetryPolicy,
        TimeSeriesRestSource,
    )

    calls = {"n": 0}

    def transport(symbol, interval, start, end, outputsize):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("rate limit")  # exercise the retry path
        pdf = make_ticks(start, 288).set_index("datetime")
        pdf.index.name = "datetime"
        return pdf

    src = TimeSeriesRestSource(
        transport=transport,
        retry=RetryPolicy(sleep=lambda _s: None),
        now=lambda: datetime(2026, 1, 3, 1, 0, 0),
    )
    cfg = _cfg(tmp_path, "daily")
    checks = run_daily(spark, cfg, src, "2026-01-02")
    assert checks is not None
    assert all(v == 0 for v in checks.values()), checks
    gold = spark.read.parquet(cfg.gold_path)
    assert gold.count() > 0
    assert calls["n"] == 2  # one throttle + one success


def test_observed_quality_metrics_piggyback_on_action(spark, sf_dir):
    """observe() metrics must match the standalone violation queries
    while costing zero extra scans (they ride the count() action)."""
    from forex_data_pipeline_spark.operators.quality import observed_quality
    from forex_data_pipeline_spark.tables import load

    od = load(spark, sf_dir, "orders")
    observed, obs = observed_quality(
        od,
        not_null_cols=("o_custkey",),
        accepted={"o_orderstatus": ("O", "F", "P")},
    )
    n = observed.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["nulls_o_custkey"] == 0
    assert got["rejected_o_orderstatus"] == 0


# ---------------------------------------------------------------------------
# Round 6: concurrent model runner (dbt `threads: 4` parity)
# ---------------------------------------------------------------------------


def test_runner_validates_dag():
    from forex_data_pipeline_spark.pipeline.runner import Model, validate

    with pytest.raises(ValueError, match="duplicate"):
        validate([Model("a", lambda s: None), Model("a", lambda s: None)])
    with pytest.raises(ValueError, match="unknown"):
        validate([Model("a", lambda s: None, ("ghost",))])
    with pytest.raises(ValueError, match="cycle"):
        validate(
            [
                Model("a", lambda s: None, ("b",)),
                Model("b", lambda s: None, ("a",)),
            ]
        )


def test_runner_failure_skips_downstream_only(spark):
    from forex_data_pipeline_spark.pipeline.runner import Model, run_models

    def boom(sp):
        raise RuntimeError("boom")

    res = run_models(
        spark,
        [
            Model("ok_root", lambda sp: 1),
            Model("bad", boom),
            Model("child_of_bad", lambda sp: 2, ("bad",)),
            Model("grandchild", lambda sp: 3, ("child_of_bad",)),
            Model("independent", lambda sp: 4, ("ok_root",)),
        ],
        threads=2,
    )
    assert res["ok_root"].status == "success"
    assert res["bad"].status == "error"
    assert res["child_of_bad"].status == "skipped"
    assert res["grandchild"].status == "skipped"
    assert res["independent"].status == "success"


def test_concurrent_two_symbols_overlap_and_match_sequential(
    spark, tmp_path
):
    """Two independent symbol pipelines through the threaded runner:
    (a) silver and gold tables are IDENTICAL to running each pipeline
    sequentially; (b) the monotonic start/finish stamps prove at least
    one pair of models from different symbols actually overlapped —
    the dbt `threads: 4` behavior, not a serialized DAG walk."""
    from forex_data_pipeline_spark.pipeline.runner import (
        run_batch_concurrent,
    )

    ticks = make_ticks("2024-01-01", 4000)

    def mk(prefix, symbol):
        cfg = PipelineConfig(
            base_dir=f"{tmp_path}/{prefix}/{symbol.replace('/', '_')}",
            symbol=symbol,
            timeframes=TFS,
            sma_windows=(20, 50),
        )
        return cfg

    # sequential reference run
    seq_tables = {}
    for sym in ("EUR/USD", "GBP/USD"):
        cfg = mk("seq", sym)
        raw = spark.createDataFrame(ticks)
        run_batch(spark, cfg, raw)
        seq_tables[sym] = _collect(spark, cfg.gold_path, GOLD_COLS)

    # concurrent run
    cfgs = [(mk("conc", sym), spark.createDataFrame(ticks))
            for sym in ("EUR/USD", "GBP/USD")]
    res = run_batch_concurrent(spark, cfgs, threads=4)
    assert all(r.status == "success" for r in res.values()), {
        n: (r.status, r.error) for n, r in res.items()
    }

    for cfg, _ in cfgs:
        got = _collect(spark, cfg.gold_path, GOLD_COLS)
        ref = seq_tables[cfg.symbol]
        pd.testing.assert_frame_equal(
            got.drop(columns=["unique_id"]).reset_index(drop=True),
            ref.drop(columns=["unique_id"]).reset_index(drop=True),
        )

    # overlap proof: some model of symbol A ran inside the span of a
    # model of symbol B
    def spans(sym_key):
        return [
            (r.started, r.finished)
            for n, r in res.items()
            if n.endswith(sym_key)
        ]

    overlapped = any(
        a_start < b_end and b_start < a_end
        for a_start, a_end in spans("eur_usd")
        for b_start, b_end in spans("gbp_usd")
    )
    assert overlapped, res
