"""Mergeable quantile sketch for cascade-tier percentiles.

Problem (rollup.py module docstring, VERDICT r03 "what's missing" #2):
``latency_p95`` at coarse tiers was the percentile of the finer tier's
bucket *averages* — a different statistic from the true tier p95 —
because exact percentiles are not mergeable and rescanning raw turns at
100 TB is off the table.  The fix is a mergeable per-bucket sketch,
merged up the 1m→1h→1d cascade instead of recomputed.

This sketch is a **deterministic log-binned histogram** held as a sparse
``map<int, bigint>`` column:

    bin(x) = 0                                   if x <= LO
           = min(CAP, 1 + floor(log2(x/LO) * B)) otherwise

with ``LO = 1e-3`` (seconds), ``B = 16`` bins per octave (bin ratio
``r = 2^(1/16) ≈ 1.0443``), ``CAP = 511`` (covers up to
``LO·2^(511/16) ≈ 4.5e6 s`` ≈ 52 days of inter-turn latency).

Why a histogram and not a t-digest/KLL:

* **Pure Catalyst.**  Build is two relational aggregations (both with
  map-side partial aggregation); merge is a ``groupBy(bin).sum`` —
  zero Python anywhere, whole-stage-codegen friendly, and the shuffle
  carries ≤ 512 entries per bucket regardless of raw cardinality.
* **Deterministic merge.**  Binning is per-value, so
  ``sketch(A ∪ B) == merge(sketch(A), sketch(B))`` holds EXACTLY (map
  equality, not approximately) — the merge-identity contract a
  t-digest cannot offer (its centroids depend on insertion order).
* **Hard error bound.**  The discrete q-quantile (k-th smallest value,
  ``k = ceil(q·n)``) falls inside the chosen bin
  ``[LO·r^(b-1), LO·r^b]``; reporting the geometric midpoint
  ``LO·r^(b-1/2)`` bounds the relative error by ``√r − 1 ≈ 2.19 %``
  (values ≤ LO report LO: absolute error ≤ LO there).
* **Oracle-checkable.**  The whole pipeline is expressible in ANSI SQL,
  so DuckDB can verify it VALUE-LEVEL (a t-digest's internals cannot be
  reproduced in SQL).

Each output column of ``sketch_cascade`` and ``sketch_quantile`` is one
SQL expression (``selectExpr``/``F.expr``, SQL lambdas for the
``aggregate`` and ``map_zip_with`` folds): a Column tree costs py4j
commands per node, and at dashboard sizes building and planning a query
costs more CPU than running it.  Measured on the ``transcripts`` test
fixture, py4j commands sent to build ``sketch_quantile(sketch_cascade(
...))`` (1h → 1d) over a stored ``rollup_1h``: 704 as Column lambdas,
38 with the cascade's plan (``tests/test_job_budget.py``).  Literals are
written as doubles (``0.95D``): a bare ``0.95`` is a DECIMAL in Spark SQL
and would change the ``ceil(q·n)`` the oracle matches.

``sketch_cascade`` takes one of two paths (``operators/local``).  A probe
job collects at most ``local.DRIVER_MERGE_ENTRIES + 1`` exploded entries
``(conv_id, coarse bucket, bin, count)``, the plan's own first
projection, so Spark computes the coarse bucket on both paths.  Within
the cap (a dashboard p95 merges ≤ 24 hourly maps) the bins are summed on
the driver into a local table, so the caller's
``sketch_quantile(...).collect()`` runs no further job: one job per
read, against two for the plan, and 30–32 py4j commands with the probe.
A larger input gets the plan, ``_cascade_plan``, after the probe; the
cap is a measured crossover (``scripts/MERGE_CROSSOVER_r09.json``).  The
tier DAG (``plans/stages``) and ``plans/entry.rollup_p95_cascade`` call
``_cascade_plan`` directly: their inputs are plans not written out yet,
which the probe would compute twice.  ``sketch_quantile`` over the local
table still costs about 38 ms; it stays one SQL fold, with no numpy twin.

Reference analogue: quantile thresholding A11
(``/root/reference/modules/underperformance_estimator.py:41``,
``np.quantile`` over an in-RAM array — exact because single-node; the
sketch is the price of mergeability at 10^12 turns).

Oracle-parity assumption (documented, ADVICE r04): the DuckDB oracle
re-derives ``bin_expr`` with its own ``log2``/``floor``; value-level
hash equality therefore assumes Spark (JVM ``Math.log``) and DuckDB
(libm) agree on ``floor(log2(x/LO)*B)`` for every tested value.  A
1-ulp ``log2`` divergence only matters when ``log2(x/LO)*B`` lands
within ~1 ulp of an integer — i.e. x within a relative ~2^-48 of a bin
edge — which the deterministic synthetic latencies (millisecond-grained
ratios of small integers) never do.  The SKETCH itself does not rely on
this: binning is deterministic per-engine, the merge identity is exact
regardless, and the ±2.19 % error bound is unaffected by which side of
an edge a boundary value falls.  If a future libm/JDK bump ever flips a
bin on the tested grid, re-derive both sides from precomputed edge
arrays compared with an epsilon instead of live ``log2``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import local
from more_pattern_extraction_spark.operators.rollup import TIERS, bucket_sql

LO = 1e-3      # underflow edge, seconds
BPO = 16       # bins per octave → ratio r = 2**(1/16)
CAP = 511      # max bin id; edge(CAP) = LO * 2**(CAP/16) ≈ 4.5e6 s
#: documented relative error bound of sketch_quantile for values > LO
REL_ERR_BOUND = 2 ** (1 / (2 * BPO)) - 1  # √r − 1 ≈ 0.0219


def bin_expr(col) -> F.Column:
    """Deterministic log2 bin id (int) for a positive latency column."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c <= F.lit(LO), F.lit(0))
        .otherwise(
            F.least(
                F.lit(CAP),
                (F.lit(1) + F.floor(F.log2(c / F.lit(LO)) * F.lit(BPO))).cast("int"),
            )
        )
        .cast("int")
    )


def sketch_from_raw(
    turns: DataFrame, tier: str = "1m", value_col: str = "latency"
) -> DataFrame:
    """Per-(conv, bucket) latency sketch at the finest tier.

    Two shuffles, both tiny: (conv, bucket, bin) counts combine map-side
    (≤ 512 distinct bins per bucket per map task reach the wire), then
    ≤ 512 rows per bucket pack into the map.  Raw values never shuffle.

    Returns ``(conv_id, bucket_start, latency_sketch map<int,bigint>)``.
    """
    unit = TIERS[tier]
    binned = (
        turns.filter(F.col(value_col).isNotNull())
        .groupBy(
            "conv_id",
            F.date_trunc(unit, F.col("ts")).alias("bucket_start"),
            bin_expr(value_col).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return binned.groupBy("conv_id", "bucket_start").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("bin", "cnt")))
        ).alias("latency_sketch")
    )


#: ``sketch_cascade``'s fold: the per-bin sum of a coarse bucket's child
#: maps, entries sorted by bin
_MERGE_SQL = (
    "map_from_entries(array_sort(map_entries(aggregate(_maps, "
    "CAST(map() AS MAP<INT, BIGINT>), "
    "(acc, m) -> map_zip_with(acc, m, (_k, v1, v2) -> coalesce(v1, 0) + coalesce(v2, 0))))))"
)


def _cascade_plan(sk: DataFrame, to_tier: str) -> DataFrame:
    """``sketch_cascade``'s Spark plan, with no probe (module docstring).

    ONE shuffle: group the child maps per coarse bucket (collect_list is
    partial-aggregated, so the wire carries the same ≤ 512-entry maps the
    old explode carried as rows, in fewer, wider rows), then fold them
    with ``map_zip_with`` — a pure expression, no second exchange.  The
    old explode → groupBy(bin) → groupBy(bucket) form paid two exchanges
    per cascade hop because HashPartitioning(conv, bucket, bin) cannot
    serve the (conv, bucket) re-pack.  Entry order is canonicalized by
    sorting, and per-bin sums are order-independent, so the packed map is
    bit-identical to the old form's.

    Each column is one SQL expression (module docstring: py4j cost)."""
    # NULL/empty child sketches (a tier row whose bucket had no non-null
    # latencies gets a NULL map from attach_sketch_p95's left join) must
    # not produce a coarse row — the old explode form dropped them
    # implicitly (explode of NULL/empty emits no rows), the grouped form
    # needs the explicit filter (size(NULL) is -1, so > 0 covers both)
    return (
        sk.filter("size(latency_sketch) > 0")
        .groupBy("conv_id", F.expr(f"{bucket_sql('bucket_start', to_tier)} AS bucket_start"))
        .agg(F.expr("collect_list(latency_sketch) AS _maps"))
        .selectExpr("conv_id", "bucket_start", f"{_MERGE_SQL} AS latency_sketch")
    )


#: the driver path's local frame: per (conv_id, coarse bucket) the bins
#: and their summed counts, each list a comma-joined string
_LOCAL_SQL = (
    "CAST(col1 AS STRING) AS conv_id, timestamp_micros(col2) AS bucket_start, "
    "map_from_arrays(CAST(split(col3, ',') AS ARRAY<INT>), "
    "CAST(split(col4, ',') AS ARRAY<BIGINT>)) AS latency_sketch"
)


def sketch_cascade(sk: DataFrame, to_tier: str) -> DataFrame:
    """Merge finer-tier sketches into a coarser tier — EXACTLY equal to
    building the sketch from raw at the coarse tier (per-value binning;
    merge-identity pytest).

    Eager: the probe runs when this is called (module docstring: two
    paths).  Within the cap the per-bin sums, entries sorted by bin, come
    back as a local frame; ``explode`` drops NULL and empty maps as the
    plan's filter does.  The driver path keys on a string ``conv_id``, as
    every tier table stores it; other types take the plan, unprobed."""
    if dict(sk.dtypes)["conv_id"] != "string":
        return _cascade_plan(sk, to_tier)
    rows = local.probe(
        sk.selectExpr("conv_id", f"unix_micros({bucket_sql('bucket_start', to_tier)})",
                      "explode(latency_sketch)"),
        local.DRIVER_MERGE_ENTRIES,
    )
    if rows is None:
        return _cascade_plan(sk, to_tier)
    sums: dict[tuple, dict[int, int]] = {}
    for conv, bucket, b, cnt in rows:
        acc = sums.setdefault((conv, bucket), {})
        acc[b] = acc.get(b, 0) + (cnt or 0)  # the plan's fold reads NULL as 0
    values = []
    for (conv, bucket), acc in sums.items():
        bins = sorted(acc)
        values.append(f"({local.sql_lit(conv)}, {local.sql_lit(bucket)}, "
                      f"'{','.join(map(str, bins))}', '{','.join(str(acc[b]) for b in bins)}')")
    return local.values_frame(sk.sparkSession, _LOCAL_SQL, values, 4)


def _dbl(x: float) -> str:
    """A SQL double literal: a bare ``0.95`` is a DECIMAL in Spark SQL."""
    return f"{float(x)!r}D"


#: the sorted entries of a sketch map
_ENTRIES_SQL = "array_sort(map_entries(latency_sketch))"


def _rep_sql(b: str) -> str:
    """SQL of a bin's representative value: the geometric midpoint of its
    edges (bin 0 → LO; bin −1, the fold's "not chosen" of an empty map,
    → NULL).  Monotone in bin id."""
    lo = _dbl(LO)
    return (f"CASE WHEN {b} < 0 THEN NULL WHEN {b} = 0 THEN {lo} "
            f"ELSE {lo} * pow(2.0D, (CAST({b} AS DOUBLE) - 0.5D) / {_dbl(BPO)}) END")


def sketch_quantile(sk: DataFrame, q: float = 0.95, out_col: str = "latency_p95_sketch") -> DataFrame:
    """Discrete q-quantile from the sketch, relationally (one fold over
    the ≤ 512 sorted map entries; no shuffle, no Python).

    Picks the bin holding the k-th smallest value, ``k = max(1,
    ceil(q·n))`` (both engines evaluate ``ceil`` on the same IEEE
    product, so the oracle agrees bit-for-bit; ``q`` enters as a double
    literal, never a DECIMAL), and reports its representative value.
    An empty map (count 0) has no such bin and reports NULL.
    Error bound: module docstring.
    Adds ``latency_cnt_sketch`` (total count) and ``out_col``.
    """
    total = f"aggregate({_ENTRIES_SQL}, 0L, (acc, e) -> acc + e.value)"
    k = f"greatest(1L, ceil({_dbl(q)} * latency_cnt_sketch))"
    # fold: carry (cum, chosen bin); the first bin whose cumulative count
    # reaches k wins (bin = -1 → not chosen yet)
    picked = (
        f"aggregate({_ENTRIES_SQL}, named_struct('cum', 0L, 'bin', -1), "
        "(acc, e) -> named_struct('cum', acc.cum + e.value, 'bin', "
        f"CASE WHEN acc.bin >= 0 THEN acc.bin WHEN acc.cum + e.value >= {k} THEN e.key "
        "ELSE -1 END)).bin"
    )
    return sk.withColumn("latency_cnt_sketch", F.expr(total)).withColumn(
        out_col, F.expr(_rep_sql(picked))
    )


def attach_sketch_p95(
    rollup_df: DataFrame, sk: DataFrame, q: float = 0.95,
    keep_sketch: bool = False,
) -> DataFrame:
    """Join the sketch-derived quantile onto a rollup tier frame, so every
    tier row carries BOTH the documented percentile-of-averages
    (``latency_p95``, rollup.cascade) and the mergeable true-tier
    estimate (``latency_p95_sketch``).  Equi-join on the tier key — with
    both sides bucketed/partitioned on (conv_id, bucket_start) this is a
    co-located join, no extra shuffle beyond the aggregations.

    ``keep_sketch=True`` also carries the raw ``latency_sketch`` map —
    the persisted-tier shape (plans/pipeline.py): a tier TABLE must store
    the mergeable map so the next tier cascades from the stored artifact
    instead of rescanning raw turns (≤ 512 map entries per row)."""
    cols = sketch_quantile(sk, q).select(
        "conv_id", "bucket_start",
        *(["latency_sketch"] if keep_sketch else []),
        "latency_cnt_sketch", "latency_p95_sketch",
    )
    return rollup_df.join(cols, ["conv_id", "bucket_start"], "left")
