"""Mergeable distinct-count sketch (KMV / k-minimum-values) per tier bucket.

Problem: "distinct conversations per minute/hour/day" is the other
classic continuous-aggregate statistic (besides percentiles —
operators/sketch.py) that is NOT mergeable exactly: a coarse tier's
``count(distinct conv_id)`` cannot be derived from the finer tier's
counts, and rescanning raw turns at 10^12 rows per cascade is off the
table.  The standard fix is a mergeable distinct sketch stored on the
tier row (TimescaleDB/Druid keep an HLL; Spark 3.5+ ships DataSketches
``hll_sketch_agg``).  We use **KMV** (Bar-Yossef et al. 2002,
"Counting distinct elements in a data stream") instead of HLL because
KMV is *deterministic and relational*:

  * **Sketch** = the ``k`` lexicographically-smallest ``md5(conv_key)``
    hex strings among the conversations present in the bucket (fixed-
    width lowercase hex, so string order == numeric order).
  * **Exact merge identity**: the k smallest of a union ARE the k
    smallest of the per-part k-smallest unions — so
    ``kmv(hour) == merge(kmv(minute_1..60))`` holds EXACTLY (array
    equality), the same contract as the quantile sketch's map equality.
    A conversation ranking j ≤ k in the hour ranks ≤ j in every minute
    it appears in (its dominators there are a subset), so it survives
    every per-minute cut.
  * **Estimator**: with ``u_k`` = the k-th smallest hash mapped to
    [0, 1), ``E[distinct] = (k-1)/u_k`` (unbiased); when the sketch
    holds fewer than k hashes it IS the exact distinct set, so the
    estimate is exact below k.  Relative stderr ≈ 1/sqrt(k-2).
  * **Oracle-checkable.**  md5 + string sort + an integer read of hex
    digits are plain SQL; DuckDB re-derives the whole pipeline VALUE-
    LEVEL (an HLL register array cannot be reproduced in SQL — same
    reason sketch.py is a histogram and not a t-digest).

Scale shape (100 TB): raw rows first collapse to distinct
``(bucket, hash)`` pairs with map-side partial aggregation (the only
shuffle that sees data volume, and it carries 16-byte hashes, never
text); the per-bucket top-k then rides Spark's rank-limit pushdown
(``WindowGroupLimit``: each map task emits at most k rows per bucket
before the exchange — plan-shape test); cascades explode ≤ k entries
per child bucket, so a 1m→1h merge shuffles ≤ 60·k short strings per
hour regardless of raw cardinality.  The estimate is a pure column
expression over the packed array.

The same identity serves two more shapes with no raw rescan:
trailing windows (``kmv_sliding`` — rolling-DAU) and set overlap
(``union_expr`` + inclusion-exclusion — day-over-day returning
conversations).

Hash-to-[0,1) mapping reads the first 8 hex digits as an integer,
``CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)``, and divides once
by 2^32.  The integer is below 2^32, so the BIGINT, its double and the
power-of-two divide are all exact: the value equals a Horner sum over
the digits bit for bit, which is how the DuckDB oracle derives it
(``plans/oracles._kmv_u``), independently.  No libm, no
platform-dependent parsing.

Every output column of ``_pack_topk`` and ``kmv_estimate`` is one SQL
expression (``F.expr``): a Column tree costs py4j commands per node.
Measured in py4j commands sent to build, memory commands not counted:
``kmv_estimate`` 817 as a Column tree, 8 now (the 8-digit Horner tree
over ``ascii`` this mapping replaced took 733 on its own); and on the
``transcripts`` test fixture ``kmv_estimate(kmv_cascade(...))`` (1m → 1d)
over a stored ``distinct_1m`` 969, 44 with the cascade's plan, 36 of them
the cascade (its bucket expression as SQL text: 88 and 80 as a Column;
``tests/test_job_budget.py``).  ``u_expr`` and ``estimate_expr`` also
take a Column, for which they build a Column tree (``u_expr``: 50).

``kmv_cascade`` takes one of two paths (``operators/local``).  A probe
job collects at most ``local.DRIVER_MERGE_ENTRIES + 1`` exploded
``(coarse bucket, hash)`` entries, the plan's own first projection, so
Spark computes the coarse bucket on both paths.  Within the cap (a
dashboard day of one-minute partials holds a few hundred) each bucket's
distinct hashes are sorted on the driver and the first k kept in a local
table, so the caller's ``kmv_estimate(...).collect()`` runs no further
job: one job per read, against three for the plan, and 36 py4j commands
with the probe.  A larger input gets the plan, ``_cascade_plan``, after
the probe; the cap is a measured crossover
(``scripts/MERGE_CROSSOVER_r09.json``).  ``plans/entry._kmv_frame``
calls ``_cascade_plan`` directly: its input is a plan not written out
yet, which the probe would compute twice.

Reference analogue: none (the reference is single-node and counts
distincts in RAM, e.g. pandas ``nunique`` in
``/root/reference/modules/preprocessing.py``); this is the price of
the same statistic at 10^12 turns, mirroring sketch.py's contract.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import local
from more_pattern_extraction_spark.operators.rollup import bucket_expr, bucket_sql, tier_seconds

#: default sketch size; relative stderr ~ 1/sqrt(k-2) ~ 4 % at 512
K_DEFAULT = 512


def conv_hash(col) -> F.Column:
    """Uniform 32-hex-char key for a conversation id of any type (numeric
    ids cast through string so Spark and SQL oracles hash identical
    bytes)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("string").cast("binary"))


def _u_sql(h: str) -> str:
    return f"CAST(conv(substring({h}, 1, 8), 16, 10) AS BIGINT) / 4294967296.0D"


def u_expr(h) -> F.Column:
    """Map a lowercase md5 hex string to [0, 1): the first 8 hex digits
    read as an integer (``conv`` to base 10, below 2^32, so exact in a
    BIGINT and in a double), one final divide by 2^32.  ``h`` is a column
    name or SQL text, which builds one SQL expression, or a Column."""
    if isinstance(h, str):
        return F.expr(_u_sql(h))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0)


def _pack_topk(pairs: DataFrame, k: int, part_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct (*part_cols, bucket_start, h) rows → per-key sorted
    k-smallest array.  The rank filter is the scale valve: Spark rewrites
    it to ``WindowGroupLimit``, so each map task forwards ≤ k rows per
    key into the window exchange.  ``part_cols`` adds storage-unit keys
    (e.g. ``conv_bucket``) for persisted PARTIAL sketches — the global
    sketch is recovered exactly by merging partials (module docstring)."""
    keys = [*part_cols, "bucket_start"]
    rank = f"row_number() OVER (PARTITION BY {', '.join(keys)} ORDER BY h)"
    return (
        pairs.withColumn("_rn", F.expr(rank))
        .filter(f"_rn <= {k}")
        .drop("_rn")
        .groupBy(*keys)
        .agg(F.expr("array_sort(collect_list(h)) AS conv_kmv"))
    )


def kmv_from_raw(
    turns: DataFrame,
    tier: str = "1m",
    k: int = K_DEFAULT,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    part_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-bucket KMV sketch at the finest tier, from raw turns: the
    raw-turn reference of the KMV algebra in the merge-identity tests.  The
    pipeline and the driver contract build from the tier row instead
    (``kmv_from_rollup``).

    The leading ``.distinct()`` is deliberate and load-bearing: rank
    limits bound *rows*, not *values*, so a hot conversation repeated
    10^7 times in one bucket would flood a duplicate-carrying window.
    Distinct (bucket, 16-byte hash) pairs combine map-side first; raw
    text/values never shuffle.

    ``part_cols`` builds per-storage-unit PARTIAL sketches instead (e.g.
    ``("conv_bucket",)`` — the pipeline's persisted ``distinct_1m``
    shape): each unit keeps its own k-smallest, and because a
    conversation hashes to exactly one unit the partials per bucket are
    disjoint — merging them (``kmv_cascade`` on the stored table, minus
    the unit column) recovers the global sketch EXACTLY, so repair can
    recompute one unit without touching the others.

    Returns ``(*part_cols, bucket_start, conv_kmv array<string>)``.
    """
    pairs = turns.select(
        *part_cols,
        bucket_expr(ts_col, tier).alias("bucket_start"),
        conv_hash(conv_col).alias("h"),
    ).distinct()
    return _pack_topk(pairs, k, part_cols)


def kmv_from_rollup(
    rollup: DataFrame, k: int = K_DEFAULT, conv_col: str = "conv_id",
    part_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-bucket KMV sketch from a per-(conv, bucket) tier frame — the
    tier table already holds EXACTLY one row per pair, so the expensive
    half of ``kmv_from_raw`` (the raw-scan distinct) disappears: hash +
    top-k over a column-pruned tier scan.  This is the pipeline's build
    path (measured ~60 % of a rollup stage from raw vs ~marginal from
    the tier the pipeline just wrote).  ``part_cols`` as in
    ``kmv_from_raw``."""
    pairs = rollup.select(
        *part_cols, "bucket_start", conv_hash(conv_col).alias("h")
    )
    return _pack_topk(pairs, k, part_cols)


def _check_widths(to_tier: str, from_tier: str | None) -> None:
    """Same width invariant as rollup.cascade: ``to_tier`` must be a
    multiple of the finer width or finer buckets would straddle coarse
    ones."""
    if from_tier is not None:
        w_to, w_from = tier_seconds(to_tier), tier_seconds(from_tier)
        if w_to % w_from:
            raise ValueError(
                f"kmv_cascade {from_tier}->{to_tier}: {w_to}s is not a "
                f"multiple of {w_from}s"
            )


def _entries(kmv: DataFrame, to_tier: str) -> DataFrame:
    """``(bucket_start, h)``: every child hash under its coarse bucket
    (SQL text: 7 py4j commands to build, against 51 as Columns)."""
    return kmv.selectExpr(f"{bucket_sql('bucket_start', to_tier)} AS bucket_start",
                          "explode(conv_kmv) AS h")


def _cascade_plan(
    kmv: DataFrame, to_tier: str, k: int = K_DEFAULT, from_tier: str | None = None,
) -> DataFrame:
    """``kmv_cascade``'s Spark plan, with no probe (module docstring).
    Shuffle: ≤ (children × k) 32-char strings per coarse bucket,
    independent of raw cardinality."""
    _check_widths(to_tier, from_tier)
    return _pack_topk(_entries(kmv, to_tier).distinct(), k)


#: the driver path's local frame: per coarse bucket its k smallest
#: hashes, as a JSON array
_LOCAL_SQL = (
    "timestamp_micros(col1) AS bucket_start, "
    "from_json(col2, 'ARRAY<STRING>') AS conv_kmv"
)


def kmv_cascade(
    kmv: DataFrame, to_tier: str, k: int = K_DEFAULT,
    from_tier: str | None = None,
) -> DataFrame:
    """Merge finer-tier sketches into a coarser tier — EXACTLY equal to
    building the sketch from raw at the coarse tier (module docstring;
    merge-identity pytest).  Pass ``from_tier`` when known and the width
    invariant (``_check_widths``) is validated here, before any job.

    Eager: the probe runs when this is called (module docstring: two
    paths)."""
    _check_widths(to_tier, from_tier)
    rows = local.probe(_entries(kmv, to_tier).selectExpr("unix_micros(bucket_start)", "h"),
                       local.DRIVER_MERGE_ENTRIES)
    if rows is None:
        return _cascade_plan(kmv, to_tier, k)
    hashes: dict[int | None, set[str]] = {}
    for bucket, h in rows:
        hashes.setdefault(bucket, set()).add(h)
    values = [f"({local.sql_lit(bucket)}, {local.sql_lit(json.dumps(sorted(hs)[:k]))})"
              for bucket, hs in hashes.items()]
    return local.values_frame(kmv.sparkSession, _LOCAL_SQL, values, 2)


def kmv_sliding(
    kmv: DataFrame, window_buckets: int, step_s: int, k: int = K_DEFAULT
) -> DataFrame:
    """Trailing-window distinct sketch served at every child bucket that
    has data: the sketch at serving point H covers child buckets
    ``(H - (window_buckets-1)·step_s, …, H]`` — the rolling-DAU shape
    ("distinct conversations in the trailing 24 h, hourly") — derived
    entirely from stored sketches, no raw rescan.

    Same identity as the cascade, applied to overlapping bucket sets: a
    hash in the window's true top-k ranks ≤ k in every child it appears
    in, so the union of child top-k's contains the window's top-k.
    Each child entry fans out to ``window_buckets`` serving points
    (≤ window_buckets·k short strings per serving point — bounded,
    independent of raw cardinality), then the usual distinct →
    WindowGroupLimit top-k → pack."""
    hours = kmv.select("bucket_start")
    span = F.expr(f"INTERVAL {step_s * (window_buckets - 1)} SECONDS")
    step = F.expr(f"INTERVAL {step_s} SECONDS")
    entries = kmv.select("bucket_start", F.explode("conv_kmv").alias("h"))
    contrib = entries.select(
        F.explode(
            F.sequence(
                F.col("bucket_start"), F.col("bucket_start") + span, step
            )
        ).alias("serve"),
        "h",
    )
    pairs = (
        contrib.join(
            hours.withColumnRenamed("bucket_start", "serve").distinct(),
            "serve",
            "left_semi",
        )
        .withColumnRenamed("serve", "bucket_start")
        .distinct()
    )
    return _pack_topk(pairs, k)


def estimate_expr(arr, k: int) -> F.Column:
    """Column-level KMV estimate for a sketch array: exact ``size`` below
    k (the sketch IS the distinct set there), else the unbiased
    ``(k-1)/u_k``.  Rounded to 6 per the oracle-parity convention.
    ``arr`` is a column name or SQL text, which builds one SQL
    expression, or a Column (``union_expr``)."""
    if isinstance(arr, str):
        return F.expr(
            f"round(CASE WHEN size({arr}) < {k} THEN CAST(size({arr}) AS DOUBLE) "
            f"ELSE {k - 1}.0D / ({_u_sql(f'element_at({arr}, {k})')}) END, 6)"
        )
    size = F.size(arr)
    return F.round(
        F.when(size < k, size.cast("double")).otherwise(
            F.lit(float(k - 1)) / u_expr(F.element_at(arr, k))
        ),
        6,
    )


def union_expr(a, b, k: int) -> F.Column:
    """Merged sketch of two ≤k-entry sketch arrays as a pure column
    expression (k smallest distinct of the concatenation — the merge
    identity again, no shuffle).  NULL-tolerant: a missing side merges
    as empty."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    empty = F.array().cast("array<string>")
    return F.slice(
        F.array_sort(
            F.array_distinct(F.concat(F.coalesce(a, empty), F.coalesce(b, empty)))
        ),
        1,
        k,
    )


def kmv_estimate(
    kmv: DataFrame, k: int = K_DEFAULT, out_col: str = "distinct_convs_est"
) -> DataFrame:
    """Distinct-count estimate per bucket (``estimate_expr``).  Adds
    ``n_kmv`` (bigint) and ``out_col`` (double)."""
    return kmv.withColumn("n_kmv", F.expr("CAST(size(conv_kmv) AS BIGINT)")).withColumn(
        out_col, estimate_expr("conv_kmv", k)
    )
