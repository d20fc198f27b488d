"""Partitioning & skew handling (north rule: conversations range-
partitioned by (conv_id, ts-bucket) with salting for hot conversations).

Two distinct skew surfaces:

  * **Relational ops** (rollup groupBy, interval joins): the bucket column
    already splits hot conversations; AQE skew-join handles the rest.
    Nothing custom.
  * **Grouped pandas UDFs** (matrix profile per conv): AQE does NOT split
    a single group.  A 10^8-turn conversation lands on one task.  The fix
    is explicit: detect hot keys by count, then either (a) sub-key the
    group by ts-window (the MP chunk-pair path,
    operators/matrix_profile.matrix_profile_distributed), or (b) salt the
    key for ops that are associative over rows (encode, per-bucket stats).

Salts are deterministic (`pmod(xxhash64(...), S)`) — no rand() — so
re-runs and checkpoint resumes see identical partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def max_group_rows(df: DataFrame, *keys: str) -> int:
    """Exact hot-key witness: the largest per-key row count.  One
    column-pruned partial-aggregated pass over the key columns — the
    cheap probe the asof/sessionize/funnel ``seg_rows="auto"`` gates run
    before choosing the skew-insured plan (same policy as
    rollup.turn_features: don't pre-pay the segmented form's premium on
    uniform data, detect the hazard with an exact witness instead).
    Gap-fill needs no such gate: its window sorts cover only the sparse
    rollup rows (gapfill.gap_fill_rollup)."""
    row = df.groupBy(*[F.col(k) for k in keys]).count().agg(
        F.max("count")
    ).first()
    return int(row[0] or 0)


def hot_keys(df: DataFrame, key: str = "conv_id", threshold: int = 100_000) -> DataFrame:
    """Conversations whose row count exceeds the per-task budget."""
    return df.groupBy(key).count().filter(F.col("count") > threshold).select(key)


def with_salt(
    df: DataFrame,
    n_salts: int,
    key: str = "conv_id",
    threshold: int | None = None,
    salt_col: str = "salt",
) -> DataFrame:
    """Deterministic salt in [0, n_salts): hash of (key, ts) so rows of a
    hot key spread evenly.  With ``threshold``, only hot keys get salted
    (cold keys keep salt 0 → no extra merge pass for them)."""
    salt = F.pmod(F.xxhash64(key, "ts"), F.lit(n_salts)).cast("int")
    if threshold is not None:
        hot = hot_keys(df, key, threshold).withColumn("_is_hot", F.lit(True))
        df = df.join(F.broadcast(hot), key, "left")
        salt = F.when(F.col("_is_hot"), salt).otherwise(F.lit(0))
        return df.withColumn(salt_col, salt).drop("_is_hot")
    return df.withColumn(salt_col, salt)


def spread_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Force a physical hash exchange on the FULL grouping key before a
    sub-keyed grouped UDF.

    Why this must be explicit: ``groupBy(k, sub).applyInPandas`` only
    *requires* ``ClusteredDistribution([k, sub])`` — and an upstream
    ``HashPartitioning([k])`` (left by any Window/join/groupBy on the
    parent key alone) SATISFIES that requirement, so Catalyst skips the
    spreading exchange and every sub-keyed group of a hot key lands on
    ONE task.  Measured on the skew harness input (one conversation =
    67 % of all turns): the week-windowed matrix profile ran its ~40
    heavy (conv, week) groups in a single 400 k-row partition at ~1.1
    effective cores on an 8-core leg (scripts/SKEW_SCALING_r06.json,
    first execution) — the sub-keying existed logically but never
    physically.  An explicit ``repartition(n, keys)`` pins
    ``HashPartitioning(keys)``, which the grouped UDF then reuses (no
    second exchange), and costs nothing in the common case where the
    optimizer would have inserted the identical exchange anyway.

    The partition COUNT must be explicit too: a column-only
    ``repartition(keys)`` is AQE-coalescible, and these exchanges are
    exactly the byte-light / compute-heavy shape AQE's size-based
    coalescing mis-plans — a few MB of grid rows carrying minutes of
    O(n²) kernel work get coalesced back onto one task (observed: the
    regression test's 8-week hot conversation collapsed to 1 partition
    under column-only repartition).  A user-specified count disables
    coalescing for this exchange only; empty partitions are cheap."""
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # AQE-enabled platforms may hold a non-numeric value ("auto");
        # fall back to the cluster's default parallelism (ADVICE r06 #4)
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys])


def range_partition_by_conv_bucket(
    df: DataFrame, n_partitions: int, bucket_col: str = "bucket_start"
) -> DataFrame:
    """Range-partition on (conv_id, ts-bucket): co-locates each
    conversation's time range, keeps bucket order within files (good for
    chunk encode + Iceberg sort order), and bounds partition width for
    hot conversations because the bucket participates in the range key."""
    return df.repartitionByRange(n_partitions, "conv_id", bucket_col)


def conv_bucket(key: str = "conv_id", n_buckets: int = 1024):
    """Stable conversation bucket for table layout / checkpoint keys."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
