"""Tiered continuous-aggregate rollup (reference A1: ``change_granularity``,
``modules/preprocessing.py:23-44`` — ``df.resample(g).mean()`` — recast as
``groupBy(conv_id, date_trunc(tier, ts))``).

The rollup carries *exactly re-aggregatable* partials ``(cnt, sum, min,
max)`` per feature, so coarser tiers (1m→1h→1d) are computed by
re-aggregating the finer tier — never rescanning raw turns.  ``avg`` is
derived as ``sum/cnt`` at every tier, which makes the cascade identity
``rollup_1h == cascade(rollup_1m)`` hold bit-for-bit (sum re-aggregation
order is the only float hazard; counts and mins/maxes are exact).

``latency_p95`` is tier-local: exact ``percentile`` over raw latencies at
the finest tier, and over the finer tier's bucket averages at coarser
tiers (documented downsample semantic — percentiles are not mergeable
without a sketch).  For a true-tier p95 that merges up the cascade, use
the log-histogram sketch column (``operators/sketch.py``:
``sketch_from_raw`` → ``sketch_cascade`` → ``sketch_quantile`` /
``attach_sketch_p95``, relative error ≤ ~2.2 %).

Scale notes:
  * The groupBy shuffles on ``(conv_id, bucket)`` — high cardinality, no
    skew risk even for hot conversations because the bucket splits them.
  * Partial (map-side) aggregation applies to every agg here; the shuffle
    carries one row per (conv, bucket) per map task, not per turn.
  * Never reads ``text`` — column pruning keeps the scan to
    (conv_id, tool, ts [, latency]); verified via ``.explain`` ReadSchema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import partitioning as P

TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}
# cascade order; retention horizons are configured per deployment
TIER_ORDER = ["1m", "1h", "1d"]

_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def tier_seconds(tier: str) -> int:
    """Width of a tier string in seconds — ``"5m"`` → 300, ``"1h"`` → 3600."""
    n, unit = tier[:-1], tier[-1:]
    if not n.isdigit() or int(n) == 0 or unit not in _UNIT_SECONDS:
        raise ValueError(f"bad tier {tier!r}: expected <N><s|m|h|d>, N > 0")
    return int(n) * _UNIT_SECONDS[unit]


def bucket_expr(c, tier: str):
    """Bucket-start expression for any tier width (time_bucket semantics).

    Named tiers (``1m``/``1h``/``1d``) keep ``date_trunc`` — calendar-aligned
    and partition-prunable.  Arbitrary widths (``5m``, ``15m``, ``6h``) floor
    the epoch: ``timestamp_seconds(floor(epoch(ts)/w)*w)`` — still a pure
    column expression (whole-stage codegen, groupable, prunable via min/max
    stats), epoch-aligned like TimescaleDB's sub-day ``time_bucket``.
    """
    if tier in TIERS:
        return F.date_trunc(TIERS[tier], c)
    w = tier_seconds(tier)
    c = F.col(c) if isinstance(c, str) else c
    sec = c.cast("timestamp").cast("double")
    return F.timestamp_seconds(F.floor(sec / F.lit(w)).cast("long") * F.lit(w))

FEATURES = ["latency"]  # numeric per-turn features rolled up


def turn_features(df: DataFrame, latency_col: str | None = None) -> DataFrame:
    """Derive per-turn features from raw transcript rows.

    inter-turn latency = ``ts - lag(ts)`` seconds within a conversation in
    stable ``turn_idx`` order (reference W6 family, lag/lead edges
    ``modules/preprocessing.py:259-265``); tool-call indicator from the
    nullable ``tool`` column.  Raw ``text`` passes through untouched
    (per-turn text-equality invariant).

    **Skew**: a plain ``lag() over (partition by conv_id)`` sorts every
    turn of a conversation on ONE task (a 10 M-turn conversation pinned
    the rollup stage at 1.3 effective cores on 8,
    scripts/SKEW_SCALING_r06.json).  The segmented form partitions the
    window on ``(conv_id, turn_idx div HOT_KEY_ROWS)`` and carries the
    one cross-block value each block's first row needs — the previous
    non-empty block's last ``ts`` — via a per-(conv, block) summary.
    Within a conversation ordered by ``turn_idx`` that value IS the
    immediately preceding row's, so both forms are value-equal.

    **Gate**: ``turn_idx`` is the per-conversation index, so
    ``max(turn_idx) < HOT_KEY_ROWS`` means every row sits in block 0 and
    the segmented form would only pay its premium
    (plans/partitioning.HOT_KEY_ROWS).  That one pruned single-column
    aggregate (no shuffle) runs up front and picks the plain window
    unless some conversation crosses the threshold.  Eager: one Spark
    job at plan-build time, so never called on streaming frames (a
    stream's epochs reach it through the repair, streaming/rollup_stream.py).
    """
    if latency_col and latency_col in df.columns:
        lat = F.col(latency_col)
        return df.withColumn("latency", lat).withColumn(
            "is_tool", F.col("tool").isNotNull().cast("int")
        )
    blk_rows = P.HOT_KEY_ROWS
    mx = df.agg(F.max("turn_idx")).first()[0]
    # the intermediate cast("timestamp") makes this work for both
    # TIMESTAMP and TIMESTAMP_NTZ sources (Spark 4 forbids NTZ→double
    # directly; session TZ is pinned UTC so NTZ→LTZ is deterministic)
    sec = F.col("ts").cast("timestamp").cast("double")
    if (mx or 0) < blk_rows:
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        lat = sec - F.lag(sec).over(w)
        return df.withColumn("latency", lat).withColumn(
            "is_tool", F.col("tool").isNotNull().cast("int")
        )
    b = F.floor(F.col("turn_idx") / F.lit(blk_rows))
    # one never-NULL block key (plans/partitioning): a NULL conv_id still
    # meets its carry, and the block window reuses the join's exchange
    blk = F.struct(F.col("conv_id"), b.alias("_b"))
    wb = Window.partitionBy("_blk").orderBy("turn_idx")
    # non-empty blocks only, so lag() over blocks skips empty turn_idx
    # ranges correctly; summary is |rows|/HOT_KEY_ROWS rows — scan-pruned
    # to three columns, joined on the block which never hot-keys
    summ = df.groupBy("conv_id", b.alias("_b")).agg(
        F.max_by(sec, F.col("turn_idx")).alias("_blk_last")
    )
    w_s = Window.partitionBy("conv_id").orderBy("_b")
    summ = summ.select(
        F.struct("conv_id", "_b").alias("_blk"),
        F.lag("_blk_last").over(w_s).alias("_carry"),
    )
    # only a block's FIRST row takes the carry: a later row whose
    # predecessor has a NULL ts keeps the plain form's NULL lag
    prev = F.when(F.row_number().over(wb) == 1, F.col("_carry")).otherwise(
        F.lag(sec).over(wb)
    )
    out = (
        df.withColumn("_blk", blk)
        .join(summ, "_blk", "left")
        .withColumn("latency", sec - prev)
        .drop("_blk", "_carry")
    )
    return out.withColumn("is_tool", F.col("tool").isNotNull().cast("int"))


def rollup_from_raw(turns: DataFrame, tier: str = "1m") -> DataFrame:
    """Finest-tier rollup straight from per-turn rows (any tier width)."""
    return (
        turns.groupBy(
            "conv_id", bucket_expr(F.col("ts"), tier).alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("turn_cnt"),
            F.sum("is_tool").alias("tool_call_cnt"),
            F.sum("latency").alias("latency_sum"),
            F.count("latency").alias("latency_cnt"),
            F.min("latency").alias("latency_min"),
            F.max("latency").alias("latency_max"),
            F.expr("percentile(latency, 0.95)").alias("latency_p95"),
        )
        .withColumn("latency_avg", F.col("latency_sum") / F.col("latency_cnt"))
        .withColumn("tier", F.lit(tier))
    )


def cascade(finer: DataFrame, to_tier: str, from_tier: str | None = None) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (no raw-turn rescan).

    Exact for cnt/sum/min/max (and therefore avg = sum/cnt); p95 is the
    percentile of the finer tier's bucket averages (see module docstring).
    ``to_tier`` may be any width whose seconds are a multiple of the finer
    tier's (e.g. 1m→5m→1h).  Pass ``from_tier`` when known and the multiple
    invariant is VALIDATED here — a non-multiple would otherwise silently
    split finer buckets across coarse ones (wrong aggregates, no error).
    Without ``from_tier`` the caller owns the invariant.
    """
    if from_tier is not None:
        w_to, w_from = tier_seconds(to_tier), tier_seconds(from_tier)
        if w_to % w_from != 0:
            raise ValueError(
                f"cascade {from_tier}->{to_tier}: coarse width {w_to}s is not a "
                f"multiple of finer width {w_from}s — finer buckets would be "
                "split across coarse buckets (silent wrong aggregates)"
            )
    return (
        finer.groupBy(
            "conv_id",
            bucket_expr(F.col("bucket_start"), to_tier).alias("bucket_start"),
        )
        .agg(
            F.sum("turn_cnt").alias("turn_cnt"),
            F.sum("tool_call_cnt").alias("tool_call_cnt"),
            F.sum("latency_sum").alias("latency_sum"),
            F.sum("latency_cnt").alias("latency_cnt"),
            F.min("latency_min").alias("latency_min"),
            F.max("latency_max").alias("latency_max"),
            F.expr("percentile(latency_avg, 0.95)").alias("latency_p95"),
        )
        .withColumn("latency_avg", F.col("latency_sum") / F.col("latency_cnt"))
        .withColumn("tier", F.lit(to_tier))
    )


def retention_filter(tier_df: DataFrame, keep_after: str) -> DataFrame:
    """Retention = drop buckets older than the tier horizon.  On Iceberg
    this is a metadata-only partition drop (``DELETE WHERE bucket_start <
    horizon`` + snapshot expiry); on the Parquet fallback it's a partition-
    pruned overwrite."""
    return tier_df.filter(F.col("bucket_start") >= F.lit(keep_after).cast("timestamp"))
