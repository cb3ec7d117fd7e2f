"""The medallion pipeline: bronze → silver → gold → quality checks.

Reference parity, generalized (SURVEY §3, §7 Phase 2):

- **bronze**: raw tick batch + literal metadata columns (P5: ``symbol``,
  ``extraction_date`` — extract_forex.py:137-139), written as
  hive-partitioned parquet ``year=/month=`` (S4, extract_forex.py:168).
- **silver** (stg_eurusd.sql:14-42): typed projection (P1), incremental
  high-watermark filter (P3), QUALIFY-style dedup on the event key (D2),
  audit timestamp (P6), MERGE upsert on the key (S9).
- **gold** (fct_eurusd_timeframes.sql:15-86): incremental reprocess
  from gold's own watermark (P4), multi-timeframe candles
  (T1-T4/U1/A1-A6), window indicators (W2-W4), md5 surrogate key
  (F1-F3), MERGE on unique_id.
- **checks**: Q1-Q3 dbt-test equivalents over gold, in one action.

Parameterized by (symbol, timeframes, sma windows) instead of the
reference's hard-coded EUR/USD — one code path serves any series.

Incremental-correctness contract (SURVEY §7 hard-part 2): window
indicators at the merge seam must see full history. The reference buys
that with a 60-day lookback (``max(sma window) × max(timeframe)`` for
SMA-50 × 24 h) and re-aggregates the whole tail every run; here the
history is read back from the gold table as already-final candles, so
a day re-aggregates only the buckets it can have changed (``gold_run``).
A day's cost follows the new day, not the table's history.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import timedelta

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.candles import (
    REFERENCE_TIMEFRAMES,
    Timeframe,
    bucket_epoch,
    epoch_seconds,
    multi_timeframe_ohlc,
)
from ..operators.dedup import keyed_latest
from ..operators.indicators import with_indicators
from ..operators.quality import observed_quality, unique_violations
from ..sources.writers import (
    high_watermark,
    merge_upsert,
    read_table,
    write_partitioned,
)


@dataclass
class PipelineConfig:
    base_dir: str
    symbol: str = "EUR/USD"
    timeframes: Sequence[Timeframe] = field(default=REFERENCE_TIMEFRAMES)
    sma_windows: Sequence[int] = (20, 50)

    @property
    def bronze_path(self) -> str:
        sym = self.symbol.replace("/", "_").lower()  # extract_forex.py:165
        return f"{self.base_dir}/bronze/{sym}"

    @property
    def silver_path(self) -> str:
        return f"{self.base_dir}/silver"

    @property
    def gold_path(self) -> str:
        return f"{self.base_dir}/gold"


def bronze_ingest(cfg: PipelineConfig, raw: DataFrame) -> None:
    """Raw batch (string OHLC columns + ``datetime``, like the Twelve
    Data payload) → metadata columns → partitioned parquet append."""
    enriched = (
        raw.withColumn("symbol", F.lit(cfg.symbol))            # P5
        .withColumn("extraction_date", F.current_timestamp())  # P5
        .withColumn("year", F.year("datetime"))
        .withColumn("month", F.month("datetime"))
    )
    write_partitioned(
        enriched, cfg.bronze_path, ("year", "month"), mode="append",
        coalesce_small=True,
    )


def silver_transform(bronze: DataFrame, watermark=None) -> DataFrame:
    """stg_eurusd.sql:14-42 semantics on a bronze DataFrame."""
    typed = bronze.select(                                     # P1
        F.col("datetime").cast("timestamp_ntz").alias("observed_at"),
        F.col("open").cast("double").alias("open_price"),
        F.col("high").cast("double").alias("high_price"),
        F.col("low").cast("double").alias("low_price"),
        F.col("close").cast("double").alias("close_price"),
        F.col("symbol"),
    )
    if watermark is not None:                                  # P3
        typed = typed.filter(F.col("observed_at") > F.lit(watermark))
    deduped = keyed_latest(                                    # D2
        typed,
        ["symbol", "observed_at"],
        [F.col("observed_at").desc()],
    )
    return deduped.withColumn("dbt_updated_at", F.current_timestamp())  # P6


def silver_run(spark: SparkSession, cfg: PipelineConfig) -> None:
    bronze = spark.read.parquet(cfg.bronze_path)
    silver = read_table(spark, cfg.silver_path)
    batch = silver_transform(bronze, high_watermark(silver, "observed_at"))
    merge_upsert(
        spark, cfg.silver_path, batch, ["symbol", "observed_at"],
        existing=silver,
    )


def _finalize_gold(candles_with_indicators: DataFrame) -> DataFrame:
    return candles_with_indicators.withColumn(
        "unique_id",                                           # F1-F3, fct:83
        F.md5(
            F.concat_ws(
                "|", "symbol", "timeframe",
                F.col("candle_start").cast("string"),
            )
        ),
    ).withColumn("dbt_updated_at", F.current_timestamp())


def gold_transform(cfg: PipelineConfig, silver: DataFrame) -> DataFrame:
    """fct_eurusd_timeframes.sql:15-86 semantics, full recompute.

    Uses close_price as the candle value stream (the reference carries
    all four OHLC inputs through; the candle's own open/high/low/close
    are recomputed from the 5-min closes per timeframe, which is the
    same computation shape with one value column)."""
    candles = multi_timeframe_ohlc(
        silver, "observed_at", "close_price", ["symbol"],
        timeframes=cfg.timeframes,
    )
    indicated = with_indicators(
        candles, ["symbol", "timeframe"], "candle_start",
        "close_value", cfg.sma_windows,
    )
    return _finalize_gold(indicated)


def gold_run(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Incremental gold (P4 + S9) — seam-exact, unlike the reference.

    The reference re-aggregates a 60-day tail of silver and MERGEs it
    (fct:25-29). That design has two seam defects: (a) the lookback edge
    slices candles mid-bucket, so the edge candle is re-aggregated from
    partial ticks and overwrites a complete one; (b) SMA windows at the
    head of the recomputed tail are truncated, overwriting correct old
    values. It also pays for 60 days to land one.

    Here the recompute starts at gold's own watermark ``wm`` (its
    latest candle_start). Silver admits only rows newer than its own
    watermark (P3), which is never behind gold's, so every candle that
    ends at or before ``wm`` is final: no row that could change it
    arrives any more. Each seam defect is fixed:

    1. Recompute candles only from each timeframe's OWN boundary at/below
       ``wm`` (per-tf snap — no partial aggregates; with mixed clock
       shifts no single instant is a boundary for every timeframe).
    2. Take indicator *context* — the candles of the max(sma) buckets
       before each timeframe's edge, i.e. the max(sma) preceding
       candles of a series with no empty bucket there — from the
       EXISTING gold table. Those candles are final, so re-reading them
       is exact and costs one pruned read of an already-materialized
       table instead of weeks of silver.
    3. Indicators are computed over context ∪ recomputed, then only
       rows at/after the merge edge are upserted.

    A day thus re-aggregates about one coarsest bucket of silver,
    whatever the history length. The gold table is read once: the
    watermark, the context and the merge share the frame.
    """
    silver = spark.read.parquet(cfg.silver_path)
    gold = read_table(spark, cfg.gold_path)
    wm = high_watermark(gold, "candle_start")
    if wm is None:
        merge_upsert(
            spark, cfg.gold_path, gold_transform(cfg, silver), ["unique_id"],
            sort_within=("timeframe", "candle_start"),  # cluster_by, fct:11
            existing=gold,
        )
        return

    sma_max = max(cfg.sma_windows)
    max_dur = max(tf.seconds for tf in cfg.timeframes)
    max_shift = max(tf.shift_seconds for tf in cfg.timeframes)

    # Coarse driver-side prefilter → parquet row-group/partition pruning;
    # the per-tf exploded filter inside multi_timeframe_ohlc is exact.
    scan_lo = wm - timedelta(seconds=max_dur + max_shift)
    recomputed = multi_timeframe_ohlc(
        silver.filter(F.col("observed_at") >= F.lit(scan_lo)),
        "observed_at", "close_price", ["symbol"],
        timeframes=cfg.timeframes,
        min_candle_start=wm,
        keep_spec=True,
    )

    existing = gold.withColumns({
        "dur_s": _tf_lookup(cfg, "seconds"),
        "shift_s": _tf_lookup(cfg, "shift_seconds"),
    })
    # each row's own timeframe bucket of wm: the per-tf merge edge
    edge = bucket_epoch(F.lit(wm), F.col("dur_s"), F.col("shift_s"))
    cs_epoch = epoch_seconds(F.col("candle_start"))
    context = existing.filter(
        (cs_epoch < edge) & (cs_epoch >= edge - sma_max * F.col("dur_s"))
    ).select(
        "symbol", "timeframe", "dur_s", "shift_s", "candle_start",
        "open_value", "high_value", "low_value", "close_value", "n_ticks",
    )

    unioned = context.unionByName(recomputed.select(*context.columns))
    indicated = with_indicators(
        unioned, ["symbol", "timeframe"], "candle_start",
        "close_value", cfg.sma_windows,
    )
    to_merge = indicated.filter(cs_epoch >= edge).drop("dur_s", "shift_s")
    merge_upsert(
        spark, cfg.gold_path, _finalize_gold(to_merge), ["unique_id"],
        sort_within=("timeframe", "candle_start"),      # cluster_by, fct:11
        existing=gold,
    )


def _tf_lookup(cfg: PipelineConfig, attr: str) -> Column:
    """A ``Timeframe`` attribute of each row's ``timeframe``, as a
    literal map lookup (NULL for a timeframe outside ``cfg``)."""
    return F.create_map(*[
        F.lit(v) for tf in cfg.timeframes for v in (tf.name, getattr(tf, attr))
    ])[F.col("timeframe")]


def gold_checks(spark: SparkSession, cfg: PipelineConfig) -> dict[str, int]:
    """Q1-Q3 (marts_eurusd.yml:1-21) over the materialized gold table,
    in one action: the not_null and accepted_values counts are observed
    metrics that ride the unique check's count."""
    gold, obs = observed_quality(
        spark.read.parquet(cfg.gold_path),
        not_null_cols=("unique_id", "candle_start"),
        accepted={"timeframe": [tf.name for tf in cfg.timeframes]},
    )
    dupes = unique_violations(gold, ["unique_id"]).count()
    got = obs.get
    return {
        "unique__unique_id": dupes,
        "not_null__unique_id": got["nulls_unique_id"],
        "not_null__candle_start": got["nulls_candle_start"],
        "accepted_values__timeframe": got["rejected_timeframe"],
    }


def run_batch(
    spark: SparkSession, cfg: PipelineConfig, raw: DataFrame
) -> dict[str, int]:
    """EP3 equivalent (daily_run.yml DAG as plain control flow):
    extract→bronze→silver→gold→checks for one raw batch."""
    bronze_ingest(cfg, raw)
    silver_run(spark, cfg)
    gold_run(spark, cfg)
    return gold_checks(spark, cfg)


def run_daily(
    spark: SparkSession,
    cfg: PipelineConfig,
    source,
    date_str: str,
) -> dict[str, int] | None:
    """EP1 + EP3 end-to-end for one UTC day: REST fetch through the
    retry wrapper (S1/S2, sources/rest.py), then the medallion DAG.
    Returns the quality-check result, or None when the vendor returned
    an empty day (the reference aborts that run with a non-zero exit,
    extract_forex.py:245-247)."""
    raw = source.to_spark(spark, date_str)
    if raw is None:
        return None
    return run_batch(spark, cfg, raw)
