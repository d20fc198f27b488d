"""Driver-contract query registry (SURVEY.md §2 coverage → __spark_entry__).

Every implemented operator gets a ``queries()`` entry (Spark DataFrame
callable over ``/root/testdata/sf*``) and, where ANSI-SQL-expressible, a
DuckDB ``oracle_sql()`` string computing the same result with identical
column names/aliases.  The driver compares row count + schema + order-
insensitive value hash at sf0.01 — so:

  * every float output is ``round(x, 6)`` on BOTH sides (summation order
    differs between engines at the last ulp);
  * every window order has a deterministic tie-break (``ts, event_id``);
  * population/sample variance choice mirrors the reference
    (``np.var`` ddof=0 → ``var_pop`` for the dispersion index).

The ``events`` table stands in for transcripts (FIXTURES.md §6):
``user_id``→conv key, ``event_type``→role, ``value``→per-turn latency.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _pin_session(spark: SparkSession) -> None:
    """Runtime pins for a driver-provided session: UTC (timestamp parity
    with the DuckDB oracle) and non-ANSI division (x/0 → NULL, matching
    DuckDB; Spark 4's ANSI default would throw instead)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_W_TS = lambda: Window.partitionBy("user_id").orderBy("ts", "event_id")  # noqa: E731


# ---------------------------------------------------------------------------
# A1 — tiered rollup (reference change_granularity, preprocessing.py:23-44)
# ---------------------------------------------------------------------------

_ROLLUP_AGGS_SQL = """
  count(*) AS turn_cnt,
  count(*) FILTER (event_type = 'click') AS tool_call_cnt,
  round(sum(value), 6) AS latency_sum,
  count(value) AS latency_cnt,
  round(min(value), 6) AS latency_min,
  round(max(value), 6) AS latency_max,
  round(sum(value) / count(value), 6) AS latency_avg
"""


def _tier_rows(spark, sf_dir, tier: str = "1m", ts_before: str | None = None) -> DataFrame:
    """The engine's tier rows over ``events`` read as turns (``user_id`` →
    ``conv_id``, a ``click`` → a tool call, ``value`` → latency; a NULL
    ``event_type`` is no tool call, as in the oracle's ``FILTER``): the 1m
    tier from ``operators/rollup.rollup_from_raw``, coarser tiers cascaded
    from it by ``rollup.cascade``.  ``ts_before`` bounds the turns' ``ts``."""
    from more_pattern_extraction_spark.operators import rollup as R

    ev = _events(spark, sf_dir)
    if ts_before is not None:
        ev = ev.filter(F.col("ts") < ts_before)
    turns = ev.select(
        F.col("user_id").alias("conv_id"),
        "ts",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_tool"),
        F.col("value").alias("latency"),
    )
    r1m = R.rollup_from_raw(turns, "1m")
    return r1m if tier == "1m" else R.cascade(r1m, tier, from_tier="1m")


def _cascade_tier(spark, sf_dir, tier: str) -> DataFrame:
    """A tier of the engine's cascade (``_tier_rows``) in the contract's
    columns, floats rounded.  The oracle computes every tier directly from
    raw rows, so a coarser tier doubles as the cascade-identity check
    (FIXTURES.md §3) under the driver's value hash.

    ``tier`` is any ``operators/rollup.bucket_expr`` tier string: named
    calendar tiers (``1h``/``1d`` → date_trunc) or arbitrary epoch-aligned
    widths (``5m`` → floor(epoch/300)*300, time_bucket semantics)."""
    return _tier_rows(spark, sf_dir, tier).select(
        F.col("conv_id").alias("conv_key"),
        "bucket_start",
        "turn_cnt",
        "tool_call_cnt",
        F.round("latency_sum", 6).alias("latency_sum"),
        "latency_cnt",
        *[F.round(c, 6).alias(c) for c in ("latency_min", "latency_max", "latency_avg")],
    )


@register(
    "rollup_1m",
    f"""
    SELECT user_id AS conv_key, date_trunc('minute', ts) AS bucket_start,
           {_ROLLUP_AGGS_SQL}
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1m(spark, sf_dir):
    return _cascade_tier(spark, sf_dir, "1m")


@register(
    "rollup_1h_cascade",
    f"""
    SELECT user_id AS conv_key, date_trunc('hour', ts) AS bucket_start,
           {_ROLLUP_AGGS_SQL}
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1h_cascade(spark, sf_dir):
    return _cascade_tier(spark, sf_dir, "1h")


@register(
    "rollup_1d_cascade",
    f"""
    SELECT user_id AS conv_key, date_trunc('day', ts) AS bucket_start,
           {_ROLLUP_AGGS_SQL}
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1d_cascade(spark, sf_dir):
    return _cascade_tier(spark, sf_dir, "1d")


@register(
    "rollup_5m_cascade",
    f"""
    SELECT user_id AS conv_key,
           date_trunc('minute', ts)
             - (CAST(extract(minute FROM ts) AS INT) % 5) * INTERVAL 1 MINUTE
             AS bucket_start,
           {_ROLLUP_AGGS_SQL}
    FROM events GROUP BY 1, 2
    """,
)
def rollup_5m_cascade(spark, sf_dir):
    """Arbitrary-width continuous aggregate (TimescaleDB `time_bucket`
    semantics): the 1m tier cascaded to an epoch-aligned 5-minute tier via
    `operators/rollup.bucket_expr("5m")` — exact for cnt/sum/min/max/avg, no
    raw rescan.  The oracle derives the same 5m bucket calendar-side
    (minute-of-hour mod 5), equal to the epoch floor because the Unix epoch
    is hour-aligned and 300 s divides an hour."""
    return _cascade_tier(spark, sf_dir, "5m")


_RETENTION_HORIZON = "2024-01-15 00:00:00"  # mid-range of the fixture's Jan-2024 span


@register(
    "rollup_retention",
    f"""
    SELECT * FROM (
      SELECT user_id AS conv_key, date_trunc('minute', ts) AS bucket_start,
             {_ROLLUP_AGGS_SQL}
      FROM events GROUP BY 1, 2
    ) WHERE bucket_start >= TIMESTAMP '{_RETENTION_HORIZON}'
    """,
)
def rollup_retention(spark, sf_dir):
    """Retention horizon applied to the 1m tier (operators/rollup.
    retention_filter — at scale a partition-pruned drop / Iceberg
    metadata delete; here the same ``bucket_start >= horizon`` predicate,
    which Catalyst pushes into the parquet scan).  The horizon literal is
    mid-range of the Jan-2024 fixture so roughly half the buckets are
    dropped — a trivial all-pass / all-drop filter would not exercise the
    predicate."""
    from more_pattern_extraction_spark.operators.rollup import retention_filter

    return retention_filter(rollup_1m(spark, sf_dir), _RETENTION_HORIZON)


@register(
    "rollup_p95",
    """
    SELECT user_id AS conv_key, date_trunc('hour', ts) AS bucket_start,
           round(quantile_cont(value, 0.95), 6) AS latency_p95,
           round(quantile_cont(value * value * value, 0.5), 1) AS mce_median
    FROM events GROUP BY 1, 2
    """,
)
def rollup_p95(spark, sf_dir):
    """Exact percentile rollup (A11) + the reference's my_mce segment score
    (median of cubed residuals, estimator_util.py:52-53 → A10)."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.col("user_id").alias("conv_key"),
            F.date_trunc("hour", "ts").alias("bucket_start"),
        )
        .agg(
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("latency_p95"),
            F.round(F.expr("percentile(value * value * value, 0.5)"), 1).alias("mce_median"),
        )
    )


@register(
    "rollup_p95_cascade",
    """
    WITH b AS (
      SELECT user_id AS conv_key, date_trunc('hour', ts) AS bucket_start,
             CASE WHEN value <= 0.001 THEN 0
                  ELSE least(511, 1 + CAST(floor(log2(value / 0.001) * 16) AS INT))
             END AS bin,
             count(*) AS cnt
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2, 3
    ), t AS (
      SELECT conv_key, bucket_start, bin, cnt,
             sum(cnt) OVER (PARTITION BY conv_key, bucket_start ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY conv_key, bucket_start) AS total
      FROM b
    )
    SELECT conv_key, bucket_start,
           CAST(max(total) AS BIGINT) AS latency_cnt,
           round(min(CASE WHEN bin = 0 THEN 0.001
                          ELSE 0.001 * power(2.0, (bin - 0.5) / 16.0) END), 6)
             AS latency_p95_sketch
    FROM t
    WHERE cum >= greatest(1, ceil(0.95 * total))
    GROUP BY 1, 2
    """,
)
def rollup_p95_cascade(spark, sf_dir):
    """Mergeable true-tier p95 via the log-histogram sketch
    (operators/sketch.py, VERDICT r03 #4): 1m sketches from raw, MERGED
    to the 1h tier (no raw rescan — the 100 TB path), quantile from the
    merged sketch.  The oracle re-derives the identical binning/fold in
    SQL, so this row is value-level (reference analogue: quantile
    thresholding A11, underperformance_estimator.py:41)."""
    from more_pattern_extraction_spark.operators import sketch as SK

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("conv_id"), "ts", F.col("value").alias("latency")
    )
    # the plan builder, not sketch_cascade: its probe would compute the
    # unwritten 1m sketch twice
    sk1h = SK._cascade_plan(SK.sketch_from_raw(ev, "1m"), "1h")
    out = SK.sketch_quantile(sk1h, 0.95)
    return out.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "bucket_start",
        F.col("latency_cnt_sketch").alias("latency_cnt"),
        F.round("latency_p95_sketch", 6).alias("latency_p95_sketch"),
    )


def _kmv_frame(spark, sf_dir, tiers: list[str], k: int):
    """1m KMV sketches built from the engine's 1m tier rows
    (``kmv_from_rollup``, the builder of the ``distinct_1m`` stage),
    cascaded up ``tiers`` by the plan builder (``kmv_cascade``'s probe
    would compute each unwritten hop twice)."""
    from more_pattern_extraction_spark.operators import distinct as DK

    kmv = DK.kmv_from_rollup(_tier_rows(spark, sf_dir, "1m"), k)
    for frm, to in zip(tiers, tiers[1:]):
        kmv = DK._cascade_plan(kmv, to, k, from_tier=frm)
    return kmv


def _kmv_query(spark, sf_dir, tiers: list[str], k: int):
    """Shared body for the KMV distinct queries: ``_kmv_frame`` sketches,
    estimate attached.  The oracle builds the sketch DIRECTLY at the final
    tier, so the driver's value hash verifies the KMV merge identity on
    real data."""
    from more_pattern_extraction_spark.operators import distinct as DK

    kmv = _kmv_frame(spark, sf_dir, tiers, k)
    # the sketch array itself is value-checked as a scalar digest (the
    # driver comparator hashes scalar columns): md5 over the concatenated
    # sorted hex strings pins every element and its order
    return DK.kmv_estimate(kmv, k).select(
        "bucket_start",
        "n_kmv",
        F.md5(F.concat_ws("", "conv_kmv").cast("binary")).alias("kmv_digest"),
        "distinct_convs_est",
    )


@register("distinct_convs_kmv_1h")  # oracle: plans/oracles.kmv_distinct_sql (below)
def distinct_convs_kmv_1h(spark, sf_dir):
    """Mergeable distinct-conversation sketch (KMV, operators/distinct.py):
    1m sketches from the 1m tier, MERGED to 1h (no raw rescan — the
    continuous-aggregate path), unbiased (k-1)/u_k estimate.  k=16 < the sf0.01
    per-hour cardinality ceiling (28), so the estimator branch is
    exercised, not just the exact-below-k one.  Reference analogue: none
    (single-node pandas nunique); sibling contract to rollup_p95_cascade."""
    return _kmv_query(spark, sf_dir, ["1m", "1h"], k=16)


@register("distinct_convs_kmv_1d")
def distinct_convs_kmv_1d(spark, sf_dir):
    """Two-hop KMV cascade 1m→1h→1d at k=64 (sf0.01 day cardinality ≈
    125–141 > k, estimator branch on every bucket); the oracle builds
    directly at the day tier, value-checking BOTH merge hops."""
    return _kmv_query(spark, sf_dir, ["1m", "1h", "1d"], k=64)


@register("distinct_convs_kmv_churn")  # oracle: plans/oracles.kmv_churn_sql (below)
def distinct_convs_kmv_churn(spark, sf_dir):
    """Day-over-day returning-conversation estimate from stored day
    sketches (churn/retention analytics with no raw rescan):
    |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch is a pure
    column expression over the two ≤k arrays (operators/distinct
    union_expr — the merge identity once more).  The self-join on
    prev-day is a ~365-row day-level table at any scale.  k=64; sf0.01
    day cardinality ~125–141, heavy overlap (conversations recur), so
    the inclusion-exclusion path is exercised, not the exact-below-k
    one."""
    from more_pattern_extraction_spark.operators import distinct as DK

    k = 64
    kmv = _kmv_frame(spark, sf_dir, ["1m", "1h", "1d"], k)
    prev = kmv.select(
        (F.col("bucket_start") + F.expr("INTERVAL 1 DAY")).alias("bucket_start"),
        F.col("conv_kmv").alias("prev_kmv"),
    )
    j = kmv.join(prev, "bucket_start")
    est_prev = DK.estimate_expr("prev_kmv", k)
    est_cur = DK.estimate_expr("conv_kmv", k)
    est_union = DK.estimate_expr(DK.union_expr("prev_kmv", "conv_kmv", k), k)
    return j.select(
        "bucket_start",
        est_prev.alias("est_prev_day"),
        est_cur.alias("est_day"),
        est_union.alias("est_union"),
        F.round(est_prev + est_cur - est_union, 6).alias("returning_est"),
    )


@register("distinct_convs_kmv_24h")  # oracle: plans/oracles.kmv_sliding_sql (below)
def distinct_convs_kmv_24h(spark, sf_dir):
    """Trailing-24h distinct conversations served hourly (rolling-DAU
    shape, operators/distinct.kmv_sliding): 1h sketches (built 1m→1h)
    fan each entry out to the 24 serving hours it covers, then the usual
    top-k — no raw rescan.  The oracle builds every window's sketch
    DIRECTLY from raw pairs, so the value hash proves the sliding
    identity.  k=16 ≪ the ~125-conv 24h cardinality at sf0.01 —
    estimator branch on nearly every serving point."""
    from more_pattern_extraction_spark.operators import distinct as DK

    k = 16
    kmv1h = _kmv_frame(spark, sf_dir, ["1m", "1h"], k)
    out = DK.kmv_estimate(DK.kmv_sliding(kmv1h, 24, 3600, k), k)
    return out.select(
        "bucket_start",
        "n_kmv",
        F.md5(F.concat_ws("", "conv_kmv").cast("binary")).alias("kmv_digest"),
        "distinct_convs_est",
    )


# ---------------------------------------------------------------------------
# P2-P7 — filters/projections (preprocessing.py:46-168)
# ---------------------------------------------------------------------------


@register(
    "filter_range",
    "SELECT event_id, user_id, value FROM events WHERE value >= 50 AND value <= 400",
)
def filter_range(spark, sf_dir):
    """P2 filter_col (preprocessing.py:46-64): range predicate, pushed to
    the parquet scan by Catalyst."""
    return (
        _events(spark, sf_dir)
        .filter((F.col("value") >= 50) & (F.col("value") <= 400))
        .select("event_id", "user_id", "value")
    )


@register(
    "filter_dates",
    """SELECT event_id, ts FROM events
       WHERE ts >= timestamp '2024-01-10 00:00:00' AND ts <= timestamp '2024-01-20 00:00:00'""",
)
def filter_dates(spark, sf_dir):
    """P3 filter_dates (preprocessing.py:67-81) → ts-partition pruning."""
    return (
        _events(spark, sf_dir)
        .filter(F.col("ts").between("2024-01-10 00:00:00", "2024-01-20 00:00:00"))
        .select("event_id", "ts")
    )


@register(
    "between_time",
    "SELECT event_id, ts, value FROM events WHERE hour(ts) BETWEEN 11 AND 15",
)
def between_time(spark, sf_dir):
    """P4 intraday band filter (changepoint_detection.ipynb cell 6)."""
    return (
        _events(spark, sf_dir)
        .filter(F.hour("ts").between(11, 15))
        .select("event_id", "ts", "value")
    )


@register(
    "filter_reltol",
    """SELECT event_id,
              CASE WHEN abs(value - 150.0) < 150.0 * 0.5 THEN value END AS value_masked
       FROM events""",
)
def filter_reltol(spark, sf_dir):
    """P5 filter_df (preprocessing.py:147-168): relative-tolerance mask —
    failing rows become NULL, not dropped."""
    return _events(spark, sf_dir).select(
        "event_id",
        F.when(F.abs(F.col("value") - 150.0) < 150.0 * 0.5, F.col("value")).alias(
            "value_masked"
        ),
    )


@register(
    "distinct_pairs",
    "SELECT DISTINCT user_id, event_type FROM events WHERE value IS NOT NULL",
)
def distinct_pairs(spark, sf_dir):
    """P6 dropna + drop_duplicates (deviation_detection.ipynb cell 4)."""
    return (
        _events(spark, sf_dir)
        .na.drop(subset=["value"])
        .select("user_id", "event_type")
        .dropDuplicates()
    )


@register(
    "iqr_outlier_filter",
    """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN q USING (event_type)
    WHERE e.value >= q.q1 - 1.5 * (q.q3 - q.q1)
      AND e.value <= q.q3 + 1.5 * (q.q3 - q.q1)
    """,
)
def iqr_outlier_filter(spark, sf_dir):
    """P7 IQR outlier filter (underperformance_detection.ipynb cell 3):
    exact quartiles per group, broadcast back — one shuffle + broadcast
    join, no crossJoin."""
    ev = _events(spark, sf_dir)
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .filter(
            (F.col("value") >= F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
            & (F.col("value") <= F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
        )
        .select("event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# A2/A3 — scaling + dispersion (preprocessing.py:83-103, 211-250)
# ---------------------------------------------------------------------------


@register(
    "minmax_scale",
    """
    SELECT event_id,
           CASE WHEN max(value) OVER w > min(value) OVER w
                THEN round((value - min(value) OVER w)
                           / (max(value) OVER w - min(value) OVER w), 6)
           END AS value_scaled
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def minmax_scale(spark, sf_dir):
    """A2 scale_df / normalize (preprocessing.py:83-103, 239-250): per-
    conversation min-max to [0,1] via an unordered partition window (one
    shuffle, no join)."""
    w = Window.partitionBy("user_id")
    mn, mx = F.min("value").over(w), F.max("value").over(w)
    return _events(spark, sf_dir).select(
        "event_id",
        F.when(mx > mn, F.round((F.col("value") - mn) / (mx - mn), 6)).alias(
            "value_scaled"
        ),
    )


@register(
    "dispersion_stable",
    """
    WITH d AS (
      SELECT event_id,
             var_pop(value) OVER w / avg(value) OVER w AS disp,
             count(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, round(disp, 6) AS dispersion, disp < 0.5 AS is_stable
    FROM d WHERE n = 10
    """,
)
def dispersion_stable(spark, sf_dir):
    """A3 is_stable/filter_dispersed (preprocessing.py:211-237): windowed
    index of dispersion (population var / mean, matching np.var ddof=0)."""
    w = _W_TS().rowsBetween(-9, 0)
    d = _events(spark, sf_dir).select(
        "event_id",
        (F.var_pop("value").over(w) / F.avg("value").over(w)).alias("disp"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return d.filter(F.col("n") == 10).select(
        "event_id",
        F.round("disp", 6).alias("dispersion"),
        (F.col("disp") < 0.5).alias("is_stable"),
    )


# ---------------------------------------------------------------------------
# W4/W5/W6/W8 — rolling windows, closed-form slope, edges, peaks
# ---------------------------------------------------------------------------


@register(
    "rolling_mean",
    """
    SELECT event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6)
           AS roll_mean
    FROM events
    """,
)
def rolling_mean(spark, sf_dir):
    """W4 rolling mean (changepoint_detection.ipynb cell 9 et al.)."""
    w = _W_TS().rowsBetween(-5, 0)
    return _events(spark, sf_dir).select(
        "event_id", F.round(F.avg("value").over(w), 6).alias("roll_mean")
    )


@register(
    "rolling_slope",
    """
    WITH x AS (
      SELECT event_id, user_id, ts, value,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS pos
      FROM events
    ), s AS (
      SELECT event_id,
             count(*) OVER w AS n,
             avg(pos * value) OVER w AS axy,
             avg(pos) OVER w AS ax,
             avg(value) OVER w AS ay,
             avg(pos * pos) OVER w AS axx
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id,
           CASE WHEN n >= 2 THEN round((axy - ax * ay) / (axx - ax * ax), 6) END AS slope
    FROM s
    """,
)
def rolling_slope(spark, sf_dir):
    """W5 rolling OLS slope (estimator_util.py:12-21, learning.py:76-96) in
    closed form — pure window aggregates, no UDF: slope =
    (E[xy]-E[x]E[y]) / (E[x²]-E[x]²) with x = row position."""
    wo = _W_TS()
    w = wo.rowsBetween(-7, 0)
    x = _events(spark, sf_dir).withColumn(
        "pos", F.row_number().over(wo).cast("double")
    )
    n = F.count(F.lit(1)).over(w)
    axy = F.avg(F.col("pos") * F.col("value")).over(w)
    ax = F.avg("pos").over(w)
    ay = F.avg("value").over(w)
    axx = F.avg(F.col("pos") * F.col("pos")).over(w)
    return x.select(
        "event_id",
        F.when(n >= 2, F.round((axy - ax * ay) / (axx - ax * ax), 6)).alias("slope"),
    )


@register(
    "lag_edge_detect",
    """
    WITH l AS (
      SELECT event_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v
      FROM events
    )
    SELECT event_id FROM l WHERE value > 200 AND prev_v <= 200
    """,
)
def lag_edge_detect(spark, sf_dir):
    """W6 lag/lead edge detection (preprocessing.py:259-265 soiling_dates,
    changepoint_detection.ipynb cell 17 rain edges)."""
    l = _events(spark, sf_dir).withColumn("prev_v", F.lag("value").over(_W_TS()))
    return l.filter((F.col("value") > 200) & (F.col("prev_v") <= 200)).select("event_id")


@register(
    "peak_detect",
    """
    WITH l AS (
      SELECT event_id, value,
             lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv,
             lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nv
      FROM events
    )
    SELECT event_id, value AS peak_value FROM l WHERE value > pv AND value > nv
    """,
)
def peak_detect(spark, sf_dir):
    """W8 scipy.signal.find_peaks equivalent (estimator_util.py:16-21):
    strict local maxima via lag/lead."""
    w = _W_TS()
    l = (
        _events(spark, sf_dir)
        .withColumn("pv", F.lag("value").over(w))
        .withColumn("nv", F.lead("value").over(w))
    )
    return l.filter((F.col("value") > F.col("pv")) & (F.col("value") > F.col("nv"))).select(
        "event_id", F.col("value").alias("peak_value")
    )


@register(
    "hopping_window",
    """
    WITH h AS (
      SELECT event_type, value,
             unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
      FROM events
    )
    SELECT event_type, win_start, count(*) AS n, round(avg(value), 6) AS avg_value
    FROM h GROUP BY 1, 2
    """,
)
def hopping_window(spark, sf_dir):
    """W7 sliding-window scoring (learning.py:144-178, 90d/30d hop) as a
    Spark hopping window: window(ts, '2 hours', '1 hour')."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type", F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select("event_type", F.col("win.start").alias("win_start"), "n", "avg_value")
    )


# ---------------------------------------------------------------------------
# W13 — top-k / ranking (statistics.py:67-84, learning.py:393-394)
# ---------------------------------------------------------------------------


@register(
    "topk_per_group",
    """
    WITH r AS (
      SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
      FROM events
    )
    SELECT event_id, event_type, value, rn FROM r WHERE rn <= 5
    """,
)
def topk_per_group(spark, sf_dir):
    """W13 top-N selection → row_number over desc score, deterministic
    tie-break on event_id; Catalyst turns global variants into
    TakeOrderedAndProject."""
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_id", "event_type", "value", "rn")
    )


# ---------------------------------------------------------------------------
# A4/A5/A9 — error measures, correlation (statistics.py:43-64, 87-107)
# ---------------------------------------------------------------------------


@register(
    "score_metrics",
    """
    WITH p AS (
      SELECT event_type, value AS y,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS pred
      FROM events
    )
    SELECT event_type,
           round(1 - sum((y - pred) * (y - pred))
                     / (sum(y * y) - count(*) * avg(y) * avg(y)), 6) AS r2,
           round(avg(abs(y - pred)), 6) AS mae,
           round(avg(y - pred), 6) AS me,
           round(avg(abs(y - pred)) / avg(y), 6) AS mape,
           round(avg(y - pred) / avg(y), 6) AS mpe
    FROM p WHERE pred IS NOT NULL GROUP BY 1
    """,
)
def score_metrics(spark, sf_dir):
    """A4 score (statistics.py:43-64): R²/MAE/ME/MAPE/MPE as pure column
    aggregates; 'pred' is a trailing rolling mean standing in for the
    reference's regression prediction.  mape/mpe follow the reference's
    mape1/mpe1 definitions (÷ mean(y), statistics.py:7-40), as computed by
    ``operators/stats.regression_scores``."""
    from more_pattern_extraction_spark.operators import stats as ST

    w = _W_TS().rowsBetween(-5, -1)
    p = _events(spark, sf_dir).select(
        "event_type",
        F.col("value").alias("y"),
        F.avg("value").over(w).alias("pred"),
    ).filter(F.col("pred").isNotNull())
    s = ST.regression_scores(p, "y", "pred", ("event_type",))
    return s.select(
        "event_type", *[F.round(c, 6).alias(c) for c in ("r2", "mae", "me", "mape", "mpe")]
    )


@register(
    "corr_pairs",
    """
    SELECT event_type,
           round(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS corr_vk,
           round(covar_samp(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS cov_vk
    FROM events GROUP BY 1
    """,
)
def corr_pairs(spark, sf_dir):
    """A5 multi_corr building block (statistics.py:87-107): pairwise
    Pearson corr aggregates (the small matrix inverse stays driver-side)."""
    k = F.get_json_object("props", "$.k").cast("double")
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.round(F.corr(F.col("value"), k), 6).alias("corr_vk"),
            F.round(F.covar_samp(F.col("value"), k), 6).alias("cov_vk"),
        )
    )


# ---------------------------------------------------------------------------
# J1/J2 — interval-containment joins (learning.py:444-455 tester)
# ---------------------------------------------------------------------------


@register(
    "interval_join_flags",
    """
    WITH iv AS (
      SELECT user_id, ts - INTERVAL 5 MINUTE AS start_ts, ts + INTERVAL 5 MINUTE AS end_ts
      FROM events WHERE event_type = 'error'
    )
    SELECT e.user_id AS conv_key,
           count(*) AS n_points,
           count(DISTINCT CASE WHEN EXISTS (
             SELECT 1 FROM iv WHERE iv.user_id = e.user_id
                    AND e.ts >= iv.start_ts AND e.ts <= iv.end_ts
           ) THEN e.event_id END) AS n_flagged
    FROM events e GROUP BY 1
    """,
)
def interval_join_flags(spark, sf_dir):
    """J1 interval-containment join: label intervals (error ±5 min) →
    point-in-interval flag, exactly the reference's tester() annotation
    (learning.py:444-455).  The interval side is broadcast; the flag uses
    left_semi so multi-overlap doesn't duplicate points."""
    ev = _events(spark, sf_dir)
    iv = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"),
    )
    flagged = ev.alias("e").join(
        F.broadcast(iv).alias("i"),
        (F.col("e.user_id") == F.col("i.user_id"))
        & (F.col("e.ts") >= F.col("i.start_ts"))
        & (F.col("e.ts") <= F.col("i.end_ts")),
        "left_semi",
    )
    n_flag = flagged.groupBy(F.col("user_id").alias("conv_key")).agg(
        F.count(F.lit(1)).alias("n_flagged")
    )
    n_all = ev.groupBy(F.col("user_id").alias("conv_key")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    return n_all.join(n_flag, "conv_key", "left").select(
        "conv_key", "n_points", F.coalesce("n_flagged", F.lit(0)).alias("n_flagged")
    )


@register(
    "edge_intervals",
    """
    WITH iv AS (
      SELECT user_id, ts AS start_ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS end_ts
      FROM events WHERE event_type = 'error'
    )
    SELECT iv.user_id AS conv_key, iv.start_ts, iv.end_ts
    FROM iv
    WHERE iv.end_ts IS NOT NULL AND EXISTS (
      SELECT 1 FROM events e
      WHERE e.user_id = iv.user_id AND e.ts >= iv.start_ts AND e.ts <= iv.end_ts
        AND e.value >= 300
    )
    """,
)
def edge_intervals(spark, sf_dir):
    """P8/J2 event-interval extraction + containment filter: consecutive
    error events form (start, end] candidate intervals, kept when they
    contain a point with value ≥ 300 — the soiling_dates / rain-interval
    family (preprocessing.py:252-296, changepoint notebook cell 21)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.col("ts").alias("start_ts"), F.lead("ts").over(w).alias("end_ts"))
        .filter(F.col("end_ts").isNotNull())
    )
    pts = ev.filter(F.col("value") >= 300).select("user_id", "ts")
    kept = iv.alias("i").join(
        pts.alias("p"),
        (F.col("p.user_id") == F.col("i.user_id"))
        & (F.col("p.ts") >= F.col("i.start_ts"))
        & (F.col("p.ts") <= F.col("i.end_ts")),
        "left_semi",
    )
    return kept.select(F.col("user_id").alias("conv_key"), "start_ts", "end_ts")


# ---------------------------------------------------------------------------
# J4 — set ops / unions
# ---------------------------------------------------------------------------


@register(
    "union_by_name",
    """
    SELECT event_id, user_id, value, NULL AS event_type
    FROM events WHERE ts < timestamp '2024-01-15'
    UNION ALL BY NAME
    SELECT event_id, event_type FROM events WHERE ts >= timestamp '2024-01-15'
    """,
)
def union_by_name(spark, sf_dir):
    """J4 pd.concat axis=0 (deviation_detection.ipynb cell 4) →
    unionByName(allowMissingColumns=True)."""
    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("ts") < "2024-01-15").select("event_id", "user_id", "value")
    b = ev.filter(F.col("ts") >= "2024-01-15").select("event_id", "event_type")
    return a.unionByName(b, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# A11/A12 — quantile thresholding, summary stats
# ---------------------------------------------------------------------------


@register(
    "quantile_threshold",
    """
    WITH t AS (SELECT quantile_cont(abs(value), 0.9) AS thr FROM events)
    SELECT e.event_id, e.value FROM events e, t WHERE abs(e.value) > t.thr
    """,
)
def quantile_threshold(spark, sf_dir):
    """A11 quantile thresholding (estimator_util.py:19,
    underperformance_estimator.py:41): global exact quantile broadcast back
    as a scalar filter."""
    ev = _events(spark, sf_dir)
    thr = ev.agg(F.expr("percentile(abs(value), 0.9)").alias("thr"))
    return (
        ev.crossJoin(F.broadcast(thr))
        .filter(F.abs(F.col("value")) > F.col("thr"))
        .select("event_id", "value")
    )


@register(
    "summary_stats",
    """
    SELECT event_type, count(*) AS n, round(avg(value), 6) AS mean,
           round(stddev_samp(value), 6) AS std,
           round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
    FROM events GROUP BY 1
    """,
)
def summary_stats(spark, sf_dir):
    """A12 describe() (underperformance notebook cell 4)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("mean"),
            F.round(F.stddev_samp("value"), 6).alias("std"),
            F.round(F.min("value"), 6).alias("min_v"),
            F.round(F.max("value"), 6).alias("max_v"),
        )
    )


# ---------------------------------------------------------------------------
# Gap-fill (LOCF) on the dense grid — SQL-oracled end-to-end
# ---------------------------------------------------------------------------


@register(
    "gapfill_locf_1m",
    """
    WITH day1 AS (
      SELECT * FROM events WHERE ts < timestamp '2024-01-02'
    ), r AS (
      SELECT user_id, date_trunc('minute', ts) AS bucket_start,
             round(avg(value), 6) AS latency_avg
      FROM day1 GROUP BY 1, 2
    ), b AS (
      SELECT user_id, min(bucket_start) AS b0, max(bucket_start) AS b1 FROM r GROUP BY 1
    ), spine AS (
      SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 MINUTE)) AS bucket_start
      FROM b
    ), j AS (
      SELECT s.user_id, s.bucket_start, r.latency_avg,
             r.latency_avg IS NULL AS is_gap
      FROM spine s LEFT JOIN r USING (user_id, bucket_start)
    )
    SELECT user_id AS conv_key, bucket_start, is_gap,
           last_value(latency_avg IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY bucket_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latency_locf
    FROM j
    """,
)
def gapfill_locf_1m(spark, sf_dir):
    """End-to-end dense grid + LOCF on one day of 1m rollups through the
    engine's tier gap-fill (``gapfill.gap_fill_rollup``) — oracled in full
    SQL (reference chunk_interpolate LOCF leg, preprocessing.py:185-208)."""
    return _gap_filled(spark, sf_dir, limit=1).select(
        "conv_key", "bucket_start", "is_gap",
        F.col("latency_avg_locf").alias("latency_locf"),
    )


def _gap_filled(spark, sf_dir, limit: int) -> DataFrame:
    """``gap_fill_rollup`` over day 1 of the 1m tier rows, latency rounded
    first as in the oracle; ``is_gap`` is the oracle's ``latency_avg IS
    NULL``, which also holds on observed rows without a latency."""
    from more_pattern_extraction_spark.operators import gapfill as G

    r = _tier_rows(spark, sf_dir, ts_before="2024-01-02").select(
        "conv_id", "bucket_start", F.round("latency_avg", 6).alias("latency_avg")
    )
    return G.gap_fill_rollup(r, "1m", limit=limit).select(
        F.col("conv_id").alias("conv_key"),
        "bucket_start",
        F.col("latency_avg").isNull().alias("is_gap"),
        "latency_avg_locf",
        "latency_avg_filled",
    )


# ---------------------------------------------------------------------------
# W1/W2/W9-W11 — matrix profile, FLUSS, motifs, discords, neighbors
# ---------------------------------------------------------------------------

_MP_M = 16
_MP_EZ = 4  # ceil(m/4)


def _event_series(spark, sf_dir):
    """Positional per-conversation series (reference uses positions and
    dates interchangeably, plots.py:84-103)."""
    return _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("bucket_start"),
        "event_id",
        F.col("value").alias("latency_avg_filled"),
    )


@register(
    "matrix_profile",
    f"""
    WITH v AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
             value
      FROM events
    ), stats AS (
      SELECT user_id, pos AS i,
             avg(value) OVER w AS mu,
             var_pop(value) OVER w AS varp,
             count(*) OVER w AS cnt
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_MP_M - 1} FOLLOWING)
    ), subs AS (
      SELECT user_id, i, mu, sqrt(varp) AS sig FROM stats WHERE cnt = {_MP_M}
    ), pairs AS (
      SELECT a.user_id, a.i AS i, b.i AS j,
             a.mu AS mu_i, a.sig AS sig_i, b.mu AS mu_j, b.sig AS sig_j
      FROM subs a JOIN subs b USING (user_id)
      WHERE abs(a.i - b.i) > {_MP_EZ}
    ), dots AS (
      SELECT p.user_id, p.i, p.j, sum(va.value * vb.value) AS qt
      FROM pairs p
      JOIN v va ON va.user_id = p.user_id AND va.pos BETWEEN p.i AND p.i + {_MP_M - 1}
      JOIN v vb ON vb.user_id = p.user_id AND vb.pos = va.pos - p.i + p.j
      GROUP BY 1, 2, 3
    ), d AS (
      SELECT dots.user_id, dots.i,
             sqrt(greatest(0, 2 * {_MP_M} * (1 - (qt - {_MP_M} * mu_i * mu_j)
                                                 / ({_MP_M} * sig_i * sig_j)))) AS dist
      FROM dots JOIN pairs USING (user_id, i, j)
    )
    SELECT user_id AS conv_key, i AS pos, round(min(dist), 4) AS mp
    FROM d GROUP BY 1, 2
    """,
)
def matrix_profile(spark, sf_dir):
    """W1 self-join matrix profile (create_mp, patterns.py:313-364) via the
    STOMP kernel in a grouped pandas UDF — oracled against a brute-force
    all-pairs z-normalized-distance computation in pure SQL (the oracle
    shares no code with the kernel)."""
    from more_pattern_extraction_spark.operators import matrix_profile as MP

    series = _event_series(spark, sf_dir)
    mp = MP.matrix_profile(series, _MP_M, order_col="bucket_start")
    return mp.filter(F.col("mp") != float("inf")).select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        F.col("pos").cast("bigint").alias("pos"),
        F.round("mp", 4).alias("mp"),
    )


@register("matrix_profile_distributed")  # oracle: same brute-force SQL as matrix_profile
def matrix_profile_distributed(spark, sf_dir):
    """W1 exact distributed chunk-pair variant (halo chunks + AB-join +
    min-reduce); equality with the grouped path is pytest-verified."""
    from more_pattern_extraction_spark.operators import matrix_profile as MP

    series = _event_series(spark, sf_dir)
    mp = MP.matrix_profile_distributed(series, _MP_M, chunk_size=40)
    return mp.filter(F.col("mp") != float("inf")).select(
        F.col("conv_id").cast("bigint").alias("conv_key"), "pos",
        F.round("mp", 4).alias("mp"),
    )


def _conv_patterns(spark, sf_dir):
    """The pattern stage's one pass (``window_patterns``: profile, top-2
    discords, FLUSS regimes at L = m) over whole conversations: one NULL
    window each."""
    from more_pattern_extraction_spark.operators import matrix_profile as MP

    series = _event_series(spark, sf_dir).withColumn("win", F.lit(None).cast("timestamp"))
    return MP.window_patterns(series, _MP_M, k=2)


@register("fluss_regimes")  # oracle: plans/oracles.fluss_sql (assigned below)
def fluss_regimes(spark, sf_dir):
    """W2 FLUSS segmentation (segment_ts, patterns.py:368-402): the regime
    changes the pattern stage writes to ``regimes``."""
    return _conv_patterns(spark, sf_dir).filter(F.col("cac").isNotNull()).select(
        F.col("conv_id").cast("bigint").alias("conv_key"), F.lit(_MP_M).alias("L"),
        F.col("pos").alias("regime_pos"), F.round("cac", 6).alias("cac"),
    )


@register("motif_discovery")  # oracle: plans/oracles.motif_sql (unrolled greedy)
def motif_discovery(spark, sf_dir):
    """W10/W11 top-k motifs (get_top_k_motifs, similarity.py:8-29).
    max_neighbors=10 matches the oracle's unroll depth — both sides
    compute the identical capped greedy sequence."""
    from more_pattern_extraction_spark.operators import motifs as MO

    series = _event_series(spark, sf_dir)
    mo = MO.top_k_motifs(series, m=_MP_M, k=2, radius=3.0, ez=_MP_EZ, max_neighbors=10)
    return mo.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "motif_rank", "motif_pos", "pair_pos",
        F.round("distance", 4).alias("distance"),
        F.size("neighbors").alias("n_neighbors"),
    )


@register("discord_discovery")  # oracle: plans/oracles.discord_sql (assigned below)
def discord_discovery(spark, sf_dir):
    """Top-k discords: the rows the pattern stage writes to ``discords``."""
    return _conv_patterns(spark, sf_dir).filter(F.col("discord_rank").isNotNull()).select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "discord_rank", "pos", F.round("distance", 4).alias("distance"),
    )


@register("neighbor_search")  # oracle: plans/oracles.neighbor_search_sql (assigned below)
def neighbor_search(spark, sf_dir):
    """W9/J5 cross-series query matching (find_neighbors,
    similarity.py:32-104): one fixed query pattern matched into every
    conversation."""
    import numpy as np

    from more_pattern_extraction_spark.operators import motifs as MO

    series = _event_series(spark, sf_dir)
    q = np.sin(np.arange(_MP_M) * 0.4) * 100 + 150
    return MO.find_neighbors(
        series, q, min_dist=float("inf"), exclusion_zone=_MP_EZ, max_neighbors=3
    ).select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "neighbor_pos", F.round("distance", 4).alias("distance"),
    )


@register("matrix_profile_multidim")  # oracle: plans/oracles.multidim_sql (assigned below)
def matrix_profile_multidim_q(spark, sf_dir):
    """W11/W14 k-dimensional matrix profile (mstump, patterns.py:313-364):
    dims = (value, json props.k); k-dim profiles are non-decreasing in k
    (pytest-verified monotonicity)."""
    from more_pattern_extraction_spark.operators import matrix_profile as MP

    series = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("bucket_start"),
        "event_id",
        F.col("value").alias("f1"),
        F.get_json_object("props", "$.k").cast("double").alias("f2"),
    )
    mp = MP.matrix_profile_multidim(series, _MP_M, ["f1", "f2"])
    return mp.filter(F.col("mp") != float("inf")).select(
        F.col("conv_id").cast("bigint").alias("conv_key"), "k", "pos",
        F.round("mp", 4).alias("mp"),
    )


@register("fluss_L_ranking")  # oracle: plans/oracles.fluss_ranking_sql
def fluss_L_ranking(spark, sf_dir):
    """L-sweep DTW ranking (plot_segmentation, plots.py:167-240): the
    reference's criterion for choosing the FLUSS subsequence length L —
    DTW distance between detected regimes and labeled positions, min-max
    normalized per conversation, best L first."""
    from pyspark.sql import Window as W

    from more_pattern_extraction_spark.operators import matrix_profile as MP
    from more_pattern_extraction_spark.operators import segmentation as SG

    series = _event_series(spark, sf_dir)
    mp = MP.matrix_profile(series, _MP_M)
    fl = SG.fluss_segments(
        mp.select("conv_id", "pos", "pi"), L_values=[16, 24, 32], n_regimes=3,
        excl_factor=1,
    )
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    posd = ev.withColumn("pos", F.row_number().over(w) - 1)
    errs = posd.filter(F.col("event_type") == "error").withColumn(
        "rn", F.row_number().over(w)
    ).filter(F.col("rn") <= 2)
    enough = errs.groupBy("user_id").count().filter("count >= 2").select("user_id")
    labels = errs.join(enough, "user_id").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("pos").alias("label_pos"),
    )
    out = SG.rank_L_sweep(fl, labels)
    return out.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        F.col("L").cast("bigint").alias("L"),
        F.round("dtw_dist", 6).alias("dtw_dist"),
        F.round("norm_dist", 6).alias("norm_dist"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@register("nn_label_stats")  # oracle: plans/oracles.nn_stats_sql
def nn_label_stats(spark, sf_dir):
    """A8 calculate_nn_stats (patterns.py:245-310): the fixed query
    pattern's neighbors in each conversation, classified against the
    error-interval mask, with the matching-majority flag."""
    import numpy as np

    from more_pattern_extraction_spark.operators import matrix_profile as MPo
    from more_pattern_extraction_spark.operators import motifs as MO

    series = _event_series(spark, sf_dir)
    q = np.sin(np.arange(_MP_M) * 0.4) * 100 + 150
    nbrs = MO.find_neighbors(
        series, q, min_dist=float("inf"), exclusion_zone=_MP_EZ, max_neighbors=3
    )
    ev = _events(spark, sf_dir)
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    grid = MPo.with_positions(series, "bucket_start")
    mask = MO.interval_mask(grid, intervals)
    out = MO.nn_stats(nbrs, mask, m=_MP_M, maj_other="anomalous")
    return out.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "cls1_count", "cls2_count", "spanning_both",
        F.round("cost", 6).alias("cost"), "majority", "matching_maj",
    )


@register("corrected_matrix_profile")  # oracle: plans/oracles.corrected_mp_sql
def corrected_matrix_profile_q(spark, sf_dir):
    """W3 annotation-vector-corrected MP (compute_mp_av/apply_av,
    patterns.py:68-93; genlib.py:116-119): relational complexity AV over
    the grid + STOMP base profile; cmp = mp + (1-av)·max(mp)."""
    from more_pattern_extraction_spark.operators import matrix_profile as MP

    series = _event_series(spark, sf_dir)
    out = MP.corrected_matrix_profile(series, _MP_M)
    return out.filter(F.col("mp") != float("inf")).select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        F.col("pos").cast("bigint").alias("pos"),
        F.round("mp", 4).alias("mp"),
        F.round("av", 6).alias("av"),
        F.round("cmp", 4).alias("cmp"),
    )


@register("motif_discovery_corrected")  # oracle: motif_sql(corrected=True)
def motif_discovery_corrected(spark, sf_dir):
    """W3 end-to-end: top-k motifs ranked over the COMPLEXITY-CORRECTED
    profile (the reference applies the AV before motif extraction,
    genlib.py:116-119)."""
    from more_pattern_extraction_spark.operators import motifs as MO

    series = _event_series(spark, sf_dir)
    mo = MO.top_k_motifs(
        series, m=_MP_M, k=2, radius=3.0, ez=_MP_EZ, max_neighbors=10, use_cmp=True
    )
    return mo.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "motif_rank", "motif_pos", "pair_pos",
        F.round("distance", 4).alias("distance"),
        F.size("neighbors").alias("n_neighbors"),
    )


@register("subspace_columns")  # oracle: plans/oracles.subspace_sql
def subspace_columns_q(spark, sf_dir):
    """W12 pick_subspace_columns (patterns.py:7-35): which dimensions
    participate in the best 2-dim motif, ranked by per-dim z-norm
    distance between the pair's subsequences."""
    from more_pattern_extraction_spark.operators import matrix_profile as MP

    series = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("bucket_start"),
        "event_id",
        F.col("value").alias("f1"),
        F.get_json_object("props", "$.k").cast("double").alias("f2"),
    )
    out = MP.subspace_columns(series, _MP_M, ["f1", "f2"], k=1)
    return out.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "motif_pos", "nn_pos", "dim_rank", "dim",
    )


@register("motif_label_stats")  # oracle: plans/oracles.motif_label_stats_sql (assigned below)
def motif_label_stats(spark, sf_dir):
    """A6/A7 calculate_motif_stats (patterns.py:135-243): motifs classified
    against an interval mask (errors ±10 min), per-motif class counts +
    normalized cost + majority label — all relational."""
    from more_pattern_extraction_spark.operators import matrix_profile as MPo
    from more_pattern_extraction_spark.operators import motifs as MO

    series = _event_series(spark, sf_dir)
    ev = _events(spark, sf_dir)
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    grid = MPo.with_positions(series, "bucket_start")
    mask = MO.interval_mask(grid, intervals)
    motifs = MO.top_k_motifs(series, m=_MP_M, k=1, radius=3.0, ez=_MP_EZ, max_neighbors=10)
    stats = MO.motif_stats(motifs, mask, m=_MP_M)
    return stats.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "motif_rank", "cls1_count", "cls2_count", "spanning_both",
        F.round("cost", 6).alias("cost"), "majority",
    )


@register(
    "slope_changepoints",
    """
    WITH x AS (
      SELECT user_id, event_id, ts, value,
             CAST(row_number() OVER win AS DOUBLE) AS pos
      FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id, ts,
             CASE WHEN count(*) OVER w >= 11 THEN
               (avg(pos * value) OVER w - avg(pos) OVER w * avg(value) OVER w)
               / (avg(pos * pos) OVER w - avg(pos) OVER w * avg(pos) OVER w)
             END AS slope
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
    ), e AS (
      SELECT user_id, event_id, ts, slope,
             lag(slope)  OVER win AS pv, lead(slope) OVER win AS nv
      FROM s WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ext AS (
      SELECT * FROM e
      WHERE (slope > pv AND slope > nv) OR (slope < pv AND slope < nv)
    ), t AS (SELECT quantile_cont(abs(slope), 0.9) AS thr FROM ext)
    SELECT event_id, round(slope, 6) AS slope FROM ext, t WHERE abs(slope) > t.thr
    """,
)
def slope_changepoints(spark, sf_dir):
    """Regression-residual changepoint pipeline (detect_changepoints,
    estimator_util.py:12-21): centered rolling slope → strict extrema →
    global quantile threshold — 100% Catalyst, SQL-oracled end to end."""
    from more_pattern_extraction_spark.operators import segmentation as SG

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("conv_id"), "event_id", F.col("ts").alias("bucket_start"), "value"
    )
    sl = SG.rolling_slope(ev, "value", width=11, order_col="bucket_start")
    # rolling_slope uses (order_col) ordering; add event_id tie-break via
    # a composite — events share no exact ts dupes per user at sf0.01, but
    # keep deterministic anyway by pre-sorting on a surrogate
    cps = SG.detect_changepoints(sl, t=0.9, order_col="bucket_start")
    return cps.select("event_id", F.round("slope", 6).alias("slope"))


# ---------------------------------------------------------------------------
# A9 — classification metrics; J3 — equi-join; §3.3 deviation pipeline
# ---------------------------------------------------------------------------


@register(
    "classification_metrics",
    """
    WITH p AS (
      SELECT event_type,
             CASE WHEN value > 200 THEN 1 ELSE 0 END AS actual,
             CASE WHEN avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) > 200
                  THEN 1 ELSE 0 END AS pred
      FROM events
    ), c AS (
      -- CAST to BIGINT: DuckDB's sum(int) is HUGEINT (arrow decimal128),
      -- which the driver hashes differently from Spark's int64
      SELECT event_type,
             CAST(sum(CASE WHEN actual = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN actual = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN actual = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN actual = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM p GROUP BY 1
    )
    SELECT event_type, tp, fp, fn, tn,
           round(2.0 * (tp / nullif(CAST(tp + fp AS DOUBLE), 0)) * (tp / nullif(CAST(tp + fn AS DOUBLE), 0))
                 / nullif(tp / nullif(CAST(tp + fp AS DOUBLE), 0) + tp / nullif(CAST(tp + fn AS DOUBLE), 0), 0), 6) AS f1,
           round((tp + tn) / nullif(CAST(tp + fp + fn + tn AS DOUBLE), 0), 6) AS accuracy,
           round(tp / nullif(CAST(tp + fp + fn AS DOUBLE), 0), 6) AS jaccard
    FROM c
    """,
)
def classification_metrics(spark, sf_dir):
    """A9 scorer (learning.py:457-466): confusion counts → F1/accuracy/
    jaccard via operators/stats.classification_scores."""
    from more_pattern_extraction_spark.operators import stats as ST

    w = _W_TS().rowsBetween(-5, -1)
    p = _events(spark, sf_dir).select(
        "event_type",
        # coalesce: NULL values count as negatives, matching the oracle's CASE
        F.coalesce((F.col("value") > 200).cast("int"), F.lit(0)).alias("actual"),
        (F.coalesce(F.avg("value").over(w), F.lit(0.0)) > 200).cast("int").alias("pred"),
    )
    s = ST.classification_scores(p, "actual", "pred", ("event_type",))
    return s.select(
        "event_type", "tp", "fp", "fn", "tn",
        F.round("f1", 6).alias("f1"),
        F.round("accuracy", 6).alias("accuracy"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register(
    "equi_join_enrich",
    """
    WITH r AS (
      SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 6) AS hour_avg
      FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, round(e.value - r.hour_avg, 6) AS delta_from_hour
    FROM events e JOIN r ON e.user_id = r.user_id AND date_trunc('hour', e.ts) = r.h
    """,
)
def equi_join_enrich(spark, sf_dir):
    """J3 index-aligned column join (Genetic_pattern_discovery cell 7):
    equi-join raw points back to their own tier rollup on (conv, bucket) —
    sort-merge/broadcast chosen by Catalyst."""
    ev = _events(spark, sf_dir)
    r = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.avg("value"), 6).alias("hour_avg"))
    return (
        ev.withColumn("h", F.date_trunc("hour", "ts"))
        .join(r, ["user_id", "h"])
        .select(
            "event_id", F.round(F.col("value") - F.col("hour_avg"), 6).alias("delta_from_hour")
        )
    )


@register(
    "asof_enrich",
    """
    WITH r AS (
      SELECT user_id, ts, max(value) AS state_val
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT l.user_id AS conv_key, l.ts, l.event_id,
           round(r.state_val, 6) AS state_val_asof, r.ts AS ts_asof
    FROM events l
    ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_enrich(spark, sf_dir):
    """As-of join (operators/asof.py): every turn picks up the latest
    preceding 'state change' of its conversation (purchase events as the
    deterministic state stream, deduped to one row per (conv, ts)).
    Union-tag + running LOCF, one shuffle on the key, |L|+|R| rows — no
    range-join blowup.  The oracle is DuckDB's NATIVE ``ASOF LEFT
    JOIN``, an independent implementation of the semantics."""
    from more_pattern_extraction_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    left = ev.select("user_id", "ts", "event_id")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("state_val"))
    )
    out = asof_join(left, right, on="user_id", payload_cols=["state_val"])
    return out.select(
        F.col("user_id").alias("conv_key"),
        "ts",
        "event_id",
        F.round("state_val_asof", 6).alias("state_val_asof"),
        "ts_asof",
    )


@register(
    "sessionize_stats",
    """
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM x
    )
    SELECT user_id AS conv_key, session_idx, count(*) AS n_turns,
           min(ts) AS sess_start, max(ts) AS sess_end,
           round(epoch(max(ts)) - epoch(min(ts)), 6) AS duration_s
    FROM s GROUP BY 1, 2
    """,
)
def sessionize_stats(spark, sf_dir):
    """Sessionization (operators/sessions.py): split each conversation on
    >30 min inactivity gaps (lag + running sum of boundary flags — two
    window passes over one key shuffle), then per-session aggregates.
    Tie-break (ts, event_id) for determinism."""
    from more_pattern_extraction_spark.operators.sessions import (
        session_stats,
        sessionize,
    )

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("conv_id"), "ts", "event_id"
    )
    out = session_stats(sessionize(ev, gap_s=1800, tie_cols=("event_id",)))
    return out.select(
        F.col("conv_id").alias("conv_key"),
        F.col("session_idx").cast("bigint").alias("session_idx"),
        "n_turns",
        "sess_start",
        "sess_end",
        F.round("duration_s", 6).alias("duration_s"),
    )


@register(
    "sample_per_group",
    """
    SELECT event_type, event_id FROM (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def sample_per_group(spark, sf_dir):
    """Deterministic per-group uniform sample (operators/sampling.py):
    3 events per event_type by md5-hash order — reproducible on any
    cluster size/partitioning, WindowGroupLimit-bounded shuffle."""
    from more_pattern_extraction_spark.operators.sampling import (
        sample_per_group as spg,
    )

    ev = _events(spark, sf_dir).select("event_type", "event_id")
    return spg(ev, "event_type", 3, "event_id")


@register("hash_split_counts")  # oracle: plans/oracles.hash_split_sql (below)
def hash_split_counts(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment by hash fraction
    (operators/sampling.hash_split — the same Horner u ∈ [0,1) as the
    KMV estimator, so a row's split never changes as the corpus grows).
    Counts per split; the oracle re-derives the cut bit-for-bit."""
    from more_pattern_extraction_spark.operators.sampling import hash_split

    ev = _events(spark, sf_dir).select("event_id")
    out = hash_split(ev, "event_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


@register(
    "funnel_view_click_purchase",
    """
    WITH x AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS step1_ts
      FROM events
    ), y AS (
      SELECT *,
             min(CASE WHEN event_type = 'click' AND epoch(ts) > epoch(step1_ts)
                       AND epoch(ts) <= epoch(step1_ts) + 86400.0 THEN ts END)
               OVER (PARTITION BY user_id) AS step2_ts
      FROM x
    ), z AS (
      SELECT *,
             min(CASE WHEN event_type = 'purchase' AND epoch(ts) > epoch(step2_ts)
                       AND epoch(ts) <= epoch(step2_ts) + 86400.0 THEN ts END)
               OVER (PARTITION BY user_id) AS step3_ts
      FROM y
    )
    SELECT user_id AS conv_key,
           min(step1_ts) AS step1_ts, min(step2_ts) AS step2_ts,
           min(step3_ts) AS step3_ts,
           CASE WHEN min(step3_ts) IS NOT NULL THEN 3
                WHEN min(step2_ts) IS NOT NULL THEN 2
                WHEN min(step1_ts) IS NOT NULL THEN 1
                ELSE 0 END AS furthest_step
    FROM z GROUP BY 1
    """,
)
def funnel_view_click_purchase(spark, sf_dir):
    """Funnel (operators/funnel.py): view → click → purchase, each step
    within 1 day of the previous, earliest-completion (closed-funnel)
    semantics — k chained window aggregates over ONE conversation
    shuffle.  The oracle re-derives the identical chained-window form."""
    from more_pattern_extraction_spark.operators.funnel import funnel_steps

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("conv_id"), "ts", "event_type"
    )
    out = funnel_steps(
        ev,
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        within_s=86400,
    )
    return out.select(
        F.col("conv_id").alias("conv_key"),
        "step1_ts", "step2_ts", "step3_ts",
        F.col("furthest_step").cast("int").alias("furthest_step"),
    )


@register(
    "deviation_windows",
    """
    WITH x AS (
      SELECT *, (epoch(ts) - epoch(timestamp '2024-01-01')) / 86400.0 AS xd
      FROM events
    ), ref AS (
      SELECT (avg(xd * value) - avg(xd) * avg(value))
             / (avg(xd * xd) - avg(xd) * avg(xd)) AS slope,
             avg(value) AS my, avg(xd) AS mx
      FROM x WHERE ts < timestamp '2024-01-08'
    ), p AS (
      SELECT x.event_type, x.xd, x.value AS y,
             (ref.my - ref.slope * ref.mx) + ref.slope * x.xd AS pred,
             unnest([CAST(to_timestamp(floor(epoch(x.ts) / 172800) * 172800) AS TIMESTAMP),
                     CAST(to_timestamp(floor(epoch(x.ts) / 172800) * 172800 - 172800) AS TIMESTAMP)]) AS win_start
      FROM x, ref
    ), w AS (
      SELECT event_type, win_start, count(*) AS n,
             avg(y - pred) AS me,
             avg(y - pred) / avg(y) AS mpe,
             (avg(xd * (y - pred)) - avg(xd) * avg(y - pred))
             / (avg(xd * xd) - avg(xd) * avg(xd)) AS res_slope
      FROM p GROUP BY 1, 2
    )
    -- "+ 0.0" canonicalizes -0.0 to 0.0 (Spark's round drops the sign bit
    -- via BigDecimal; DuckDB keeps it — the driver hash distinguishes them)
    SELECT event_type, win_start, n, round(me, 6) + 0.0 AS me, round(mpe, 6) + 0.0 AS mpe,
           round(res_slope, 6) + 0.0 AS res_slope,
           round(-(mpe * least(res_slope, 0.0)), 6) + 0.0 AS dev_score
    FROM w
    """,
)
def deviation_windows(spark, sf_dir):
    """§3.3 deviation pipeline (train_on_reference_points +
    predict_on_sliding_windows + deviation score, learning.py:98-178,
    deviation_detection.ipynb cell 11): global OLS on the reference week,
    4d/2d hopping-window residual scores, score = -(mpe·min(slope,0))."""
    from more_pattern_extraction_spark.operators import deviation as DV

    ev = _events(spark, sf_dir).withColumn(
        "xd",
        (F.col("ts").cast("timestamp").cast("double")
         - F.lit("2024-01-01").cast("timestamp").cast("double"))
        / 86400.0,
    )
    model = DV.fit_reference_model(ev, "value", "xd", F.col("ts") < "2024-01-08")
    w = DV.predict_on_sliding_windows(
        ev, model, "value", "xd", "4 days", "2 days", ("event_type",)
    )
    out = DV.deviation_score(w)
    # "+ 0.0" mirrors the oracle's -0.0 canonicalization (Spark round
    # already drops the sign bit; the add keeps both sides identical)
    return out.select(
        "event_type", "win_start", "n",
        (F.round("me", 6) + F.lit(0.0)).alias("me"),
        (F.round("mpe", 6) + F.lit(0.0)).alias("mpe"),
        (F.round("res_slope", 6) + F.lit(0.0)).alias("res_slope"),
        (F.round("dev_score", 6) + F.lit(0.0)).alias("dev_score"),
    )


@register("changepoint_event_scores")  # oracle: plans/oracles.CHANGEPOINT_SQL (assigned below)
def changepoint_event_scores_q(spark, sf_dir):
    """§3.3 changepoint_scores (learning.py:180-228): per-event OLS fit on
    the pre-window, val/test error measures + ranking ratio."""
    from more_pattern_extraction_spark.operators import deviation as DV

    ev = _events(spark, sf_dir).withColumn(
        "xd",
        (F.col("ts").cast("timestamp").cast("double")
         - F.lit("2024-01-01").cast("timestamp").cast("double"))
        / 86400.0,
    )
    events = (
        ev.filter((F.col("event_type") == "error") & (F.col("ts") > "2024-01-10"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("event_ts"))
        .select(F.col("user_id").cast("string").alias("event_id"), "event_ts",
                "user_id")
        .filter(F.col("event_ts") > "2024-01-10")
    )
    out = DV.changepoint_event_scores(ev.drop("event_id"), events, "value", "xd")
    return out.select(
        "event_id",
        F.round("val_me", 6).alias("val_me"),
        F.round("val_mape", 6).alias("val_mape"),
        F.round("test_me", 6).alias("test_me"),
        F.round("ratio", 6).alias("ratio"),
    )


@register("changepoint_event_scores_poly2")  # oracle: CHANGEPOINT_POLY2_SQL
def changepoint_event_scores_poly2(spark, sf_dir):
    """§3.3 changepoint_scores with the reference's POLYNOMIAL model family
    (PolynomialFeatures deg 2 + Ridge α=0, learning.py:37-74,180-228):
    closed-form quadratic per event in pure Catalyst (Cramer over moment
    sums), regressor = days relative to the event."""
    from more_pattern_extraction_spark.operators import deviation as DV

    ev = _events(spark, sf_dir)
    events = (
        ev.filter((F.col("event_type") == "error") & (F.col("ts") > "2024-01-10"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("event_ts"))
        .select(F.col("user_id").cast("string").alias("event_id"), "event_ts",
                "user_id")
        .filter(F.col("event_ts") > "2024-01-10")
    )
    out = DV.changepoint_event_scores(
        ev.drop("event_id"), events, "value", "ts", degree=2, relative_x=True
    )
    return out.select(
        "event_id",
        F.round("val_me", 6).alias("val_me"),
        F.round("val_mape", 6).alias("val_mape"),
        F.round("test_me", 6).alias("test_me"),
        F.round("ratio", 6).alias("ratio"),
    )


# ---------------------------------------------------------------------------
# Chunk codec round trip (north rule: DoD + Gorilla-XOR chunk structs)
# ---------------------------------------------------------------------------


@register(
    "chunk_roundtrip",
    """
    SELECT user_id AS conv_key, date_trunc('minute', ts) AS bucket_start,
           round(avg(value), 6) AS latency_avg
    FROM events WHERE ts < timestamp '2024-01-08' GROUP BY 1, 2
    """,
)
def chunk_roundtrip(spark, sf_dir):
    """decode(encode(rollup)) == rollup, verified against the *plain*
    rollup SQL — the oracle never sees the codec, so any bit the Gorilla/
    DoD trip perturbs fails the value hash (functions/encode.py)."""
    from more_pattern_extraction_spark.operators import chunks as C

    r1m = _tier_rows(spark, sf_dir, ts_before="2024-01-08").select(
        F.col("conv_id").cast("string").alias("conv_id"),
        "bucket_start",
        F.round("latency_avg", 6).alias("latency_avg"),
    )
    enc = C.encode_chunks(r1m, ["latency_avg"], "1m")
    # the mapInPandas builder, not decode_chunks: its probe would run the
    # unwritten encode (~922 chunk rows at sf0.01, past the cap) twice
    dec = C._decode_plan(enc)
    return dec.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        "bucket_start",
        F.col("value").alias("latency_avg"),
    )


# ---------------------------------------------------------------------------
# Documents: exact dedup, token counts, fingerprints (training-data ops)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS text_hash
    FROM d GROUP BY text
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content, keep min doc_id.  The self-
    union with shifted ids plants guaranteed duplicates.  At 100 TB this
    groups on md5(text) (fixed 16-byte shuffle key) rather than raw text."""
    d = _documents(spark, sf_dir).select("doc_id", "text")
    d = d.unionByName(d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(
            "keep_id", "n_copies", F.md5(F.col("text").cast("binary")).alias("text_hash")
        )
    )


@register(
    "text_token_count",
    """
    SELECT doc_id,
           length(text) AS char_len,
           len(string_split(text, ' ')) AS token_cnt,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('the', 'a', 'data', 'key', 'value'))) AS stop_cnt
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Text analysis: token counting + stopword hits, all JVM-side array
    functions (no UDF)."""
    toks = F.split(F.col("text"), " ")
    stop = F.filter(
        toks, lambda t: t.isin("the", "a", "data", "key", "value")
    )
    return _documents(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("char_len"),
        F.size(toks).alias("token_cnt"),
        F.size(stop).alias("stop_cnt"),
    )


@register(
    "doc_fingerprint",
    "SELECT doc_id, md5(text) AS fp FROM documents",
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting (content hash; rolling-hash variant lives in
    operators/text.py)."""
    return _documents(spark, sf_dir).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )


def _docs_with_planted_dups(spark, sf_dir):
    """documents ∪ (doc_id+1000000, text ⊕ ' zz zz'): deterministic near-
    duplicates so the dedup operators have guaranteed positives at sf0.01
    (the synthetic corpus itself has none)."""
    d = _documents(spark, sf_dir).select("doc_id", "source", "text")
    mod = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit(" zz zz")).alias("text"),
    )
    return d.unionByName(mod)


_PLANTED_SQL = """
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, source, text || ' zz zz' AS text
      FROM documents
"""

_SH_SQL = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH d AS ({_PLANTED_SQL}),
    sh AS (
      SELECT doc_id, source, {_SH_SQL} AS sh
      FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM d)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
                 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.7
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs, blocked by source (operators/dedup).
    Planted near-dups (text + ' zz zz') must pair with their originals."""
    from more_pattern_extraction_spark.operators import dedup as DD

    d = _docs_with_planted_dups(spark, sf_dir)
    return DD.ngram_jaccard_pairs(d, "source", threshold=0.7, n=3)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH d AS ({_PLANTED_SQL}),
    sh AS (
      SELECT doc_id AS doc, {_SH_SQL} AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d)
    ), sig AS (
      SELECT doc, sh,
             [{", ".join(f"list_min(list_transform(sh, s -> md5(s || '#{i}')))" for i in range(8))}] AS sig
      FROM sh
    ), banded AS (
      SELECT doc, sh, 0 AS band, sig[1] || '|' || sig[2] AS key FROM sig
      UNION ALL SELECT doc, sh, 1, sig[3] || '|' || sig[4] FROM sig
      UNION ALL SELECT doc, sh, 2, sig[5] || '|' || sig[6] FROM sig
      UNION ALL SELECT doc, sh, 3, sig[7] || '|' || sig[8] FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.sh, sb.sh))
                 / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
                 6) AS jaccard
    FROM cand c JOIN sh sa ON sa.doc = c.doc_a JOIN sh sb ON sb.doc = c.doc_b
    WHERE len(list_intersect(sa.sh, sb.sh))
          / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) >= 0.5
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs (shingle → 8 md5-minhashes → 4 bands →
    bucket join → Jaccard verify), oracled by an identically-banded SQL
    pipeline in DuckDB (operators/dedup.py minhash_lsh_pairs)."""
    from more_pattern_extraction_spark.operators import dedup as DD

    d = _docs_with_planted_dups(spark, sf_dir)
    return DD.minhash_lsh_pairs(d, n_hashes=8, bands=4, threshold=0.5, n=3)


@register("dedup_simhash")  # oracle: plans/oracles.simhash_sql (assigned below)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs: fully relational 64-bit fingerprint (JVM
    md5 token halves + 64 bit-sum aggregate), 8×8-bit pigeonhole blocks,
    hamming verify with bit_count (operators/dedup.py)."""
    from more_pattern_extraction_spark.operators import dedup as DD

    d = _docs_with_planted_dups(spark, sf_dir)
    return DD.simhash_near_dups(d, max_hamming=6)


@register("dedup_exact_rep")  # exact-dedup representative selection
def dedup_exact_rep(spark, sf_dir):
    """Exact dedup via operators/dedup.exact_dedup (md5-grouped; the
    content-hash key keeps the shuffle narrow at corpus scale)."""
    from more_pattern_extraction_spark.operators import dedup as DD

    d = _docs_with_planted_dups(spark, sf_dir)
    # exact copies: plant them by doubling the originals
    d2 = d.unionByName(d.select((F.col("doc_id") + 5000000).alias("doc_id"), "source", "text"))
    return DD.exact_dedup(d2)


ORACLES["dedup_exact_rep"] = f"""
    WITH d0 AS ({_PLANTED_SQL}),
    d AS (SELECT doc_id, text FROM d0
          UNION ALL SELECT doc_id + 5000000, text FROM d0)
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM d GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings (ANN)
# ---------------------------------------------------------------------------


_DOT_SQL = lambda a, b: (  # noqa: E731
    f"list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@register(
    "embedding_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, cand_id,
             round({_DOT_SQL('qv', 'cv')}
                   / sqrt({_DOT_SQL('qv', 'qv')} * {_DOT_SQL('cv', 'cv')}), 6) AS cos
      FROM c, q WHERE cand_id != query_id
    ), r AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cos, rank FROM r WHERE rank <= 3
    """,
)
def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k (the ANN exactness baseline) — JVM-side
    zip_with/aggregate dot products, broadcast query side
    (operators/similarity_search.cosine_topk)."""
    from more_pattern_extraction_spark.operators import similarity_search as SS

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    return SS.cosine_topk(emb, q, k=3).select("query_id", "cand_id", "cos", "rank")


@register("embedding_topk_lsh")  # oracle: plans/oracles.embedding_topk_lsh_sql (assigned below)
def embedding_topk_lsh(spark, sf_dir):
    """LSH-bucketed ANN top-k (random hyperplane signs, same-bucket
    candidates) — the 100 TB scale path."""
    from more_pattern_extraction_spark.operators import similarity_search as SS

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    return SS.cosine_topk_lsh(emb, q, k=3, n_planes=6).select(
        "query_id", "cand_id", "cos", "rank"
    )


@register("embedding_near_dups")  # oracle: plans/oracles.embedding_near_dups_sql (assigned below)
def embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs above threshold; duplicates
    planted by re-inserting each vector under a shifted id (cos = 1.0
    pairs must all be found — same vector → same LSH bucket)."""
    from more_pattern_extraction_spark.operators import similarity_search as SS

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    planted = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    # n_planes pinned so buckets are reproducible in the DuckDB oracle;
    # production callers leave it None → auto-scaled from corpus count
    return SS.embedding_near_dups(planted, threshold=0.99, n_planes=6)


_IVF_MEMO: dict = {}


def _ivf_centroids(sf_dir, n_centroids=8, seed=7):
    """IVF coarse-quantizer centroids for the oracled query: trained by
    the SHARED numpy kmeans (similarity_search.kmeans_fit) on the
    id-ordered embeddings read engine-neutrally via pyarrow — the Spark
    query and the DuckDB oracle inline the IDENTICAL centroid literals,
    so the quantizer itself is outside the engine-comparison surface
    (like the inlined LSH hyperplanes, but data-dependent).

    Persisted (VERDICT r05 #4 — don't retrain per run): an in-process
    memo plus an .npy cache keyed by (source path, mtime_ns, params) —
    the same mtime-based invalidation the catalog's snapshot surrogate
    uses, so a regenerated embeddings table retrains while repeated
    queries over the same table load the trained quantizer.  Training
    is deterministic, so cached and fresh centroids are bit-identical
    (tested: tests/test_training_ops.py)."""
    import hashlib as _h
    import os as _os

    import numpy as _np
    import pyarrow.parquet as _pq

    from more_pattern_extraction_spark.operators.similarity_search import kmeans_fit

    src = f"{sf_dir}/embeddings.parquet"
    key = (_os.path.abspath(src), _os.stat(src).st_mtime_ns, n_centroids, seed)
    if key in _IVF_MEMO:
        return _IVF_MEMO[key]
    cache_dir = _os.environ.get("MPE_IVF_CACHE_DIR", "/tmp/mpe_ivf_cache")
    _os.makedirs(cache_dir, exist_ok=True)
    path = _os.path.join(
        cache_dir,
        f"centroids_{_h.sha256(repr(key).encode()).hexdigest()[:16]}.npy",
    )
    if _os.path.exists(path):
        C = _np.load(path)
    else:
        t = _pq.read_table(src, columns=["vec_id", "embedding"])
        pdf = t.to_pandas().sort_values("vec_id")
        X = _np.array(pdf["embedding"].tolist(), dtype="float64")
        C = kmeans_fit(X, n_centroids, iters=5, seed=seed)
        # tmp name keeps the .npy suffix so np.save doesn't append one
        tmp = f"{path}.{_os.getpid()}.tmp.npy"
        _np.save(tmp, C)
        _os.replace(tmp, path)
    _IVF_MEMO[key] = C
    return C


@register("embedding_topk_ivf")  # oracle: plans/oracles.ivf_topk_sql (lazy, below)
def embedding_topk_ivf(spark, sf_dir):
    """IVF ANN top-k (the task brief's second ANN scale path next to
    LSH): corpus assigned once to its nearest coarse-quantizer cell
    (pure-Catalyst rounded-distance struct-min), queries probe their 3
    nearest of 8 cells, exact cosine rank inside the candidates."""
    from more_pattern_extraction_spark.operators import similarity_search as SS

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    return SS.cosine_topk_ivf(
        emb, q, k=3, n_probe=3, centroids=_ivf_centroids(sf_dir)
    ).select("query_id", "cand_id", "cos", "rank")


# Lazy oracle: the centroids are data-dependent (trained on the same-sf
# embeddings the driver compares against), so the SQL is generated when
# oracle_sql() is called, not at import time, and the sf_dir is resolved
# THEN — via set_oracle_sf_dir() (check_oracles.py calls it with its CLI
# sf_dir) or the SPARK_GRAFT_ORACLE_SF_DIR env var — so running the gate
# on any sf trains Spark-side and oracle-side centroids on the SAME data
# (ADVICE r05: a hardcoded sf0.01 path here guaranteed a spurious
# mismatch for every other sf_dir).
_ORACLE_SF_DIR: str | None = None


def set_oracle_sf_dir(sf_dir: str) -> None:
    """Pin the sf_dir that data-dependent lazy oracles train on."""
    global _ORACLE_SF_DIR
    _ORACLE_SF_DIR = sf_dir


def _oracle_sf_dir() -> str:
    import os as _os

    return (
        _ORACLE_SF_DIR
        or _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
        or "/root/testdata/sf0.01"  # the driver's comparison sf
    )


ORACLES["embedding_topk_ivf"] = lambda: _OR.ivf_topk_sql(
    _ivf_centroids(_oracle_sf_dir()), k=3, n_probe=3, n_queries=5
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "language_id",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             len(list_intersect(toks, ['the','and','of','to','is'])) AS score_en,
             len(list_intersect(toks, ['el','la','de','que','es'])) AS score_es,
             len(list_intersect(toks, ['der','die','und','ist','das'])) AS score_de,
             len(list_intersect(toks, ['le','la','et','est','les'])) AS score_fr
      FROM t
    )
    SELECT doc_id,
           CASE WHEN score_en = g AND g > 0 THEN 'en'
                WHEN score_es = g AND g > 0 THEN 'es'
                WHEN score_de = g AND g > 0 THEN 'de'
                WHEN score_fr = g AND g > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred,
           score_en, score_es, score_de, score_fr
    FROM (SELECT *, greatest(score_en, score_es, score_de, score_fr) AS g FROM s)
    """,
)
def language_id(spark, sf_dir):
    """Marker-word language ID heuristic (operators/text.language_id)."""
    from more_pattern_extraction_spark.operators import text as TX

    return TX.language_id(_documents(spark, sf_dir)).select(
        "doc_id", "lang_pred", "score_en", "score_es", "score_de", "score_fr"
    )


@register(
    "quality_score",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           length(text) AS char_len,
           len(toks) AS token_cnt,
           round((length(text) - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE), 6) AS mean_token_len,
           round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS distinct_ratio,
           len(list_intersect(list_distinct(toks),
               ['the','a','and','of','to','in','is','it'])) AS stop_hits,
           round(least(len(toks) / 100.0, 1.0) * 0.4
                 + (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * 0.4
                 + least(len(list_intersect(list_distinct(toks),
                        ['the','a','and','of','to','in','is','it'])) / 5.0, 1.0) * 0.2,
                 6) AS quality
    FROM t
    """,
)
def quality_score(spark, sf_dir):
    """Heuristic document quality features (operators/text.quality_score)."""
    from more_pattern_extraction_spark.operators import text as TX

    return TX.quality_score(_documents(spark, sf_dir))


@register(
    "bow_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp
    FROM documents
    """,
)
def bow_fingerprint(spark, sf_dir):
    """Order-insensitive bag-of-words fingerprint (operators/text)."""
    from more_pattern_extraction_spark.operators import text as TX

    return TX.bow_fingerprint(_documents(spark, sf_dir))


# ---------------------------------------------------------------------------
# Multimodal plumbing (fake codec; Spark-side schema/batching is real)
# ---------------------------------------------------------------------------


@register("multimodal_features")  # oracle: byte-arithmetic SQL (assigned below)
def multimodal_features(spark, sf_dir):
    """Binary payload → decode → mean-pool features via mapInPandas
    (operators/multimodal; real decoder is a set_decoder seam)."""
    from more_pattern_extraction_spark.operators import multimodal as MM

    media = MM.attach_fake_payloads(_documents(spark, sf_dir))
    out = MM.extract_features(media, pool_bins=8)
    return out.select(
        "doc_id", "modality", "n_bytes", "width", "height",
        F.round(F.element_at("features", 1), 6).alias("feat0"),
    )


@register("multimodal_frames")  # oracle: byte-arithmetic SQL (assigned below)
def multimodal_frames(spark, sf_dir):
    """Frame sampling over binary payloads (one-to-many mapInPandas)."""
    from more_pattern_extraction_spark.operators import multimodal as MM

    media = MM.attach_fake_payloads(_documents(spark, sf_dir))
    return MM.frame_sample(media, every_n=4).select(
        "doc_id", "frame_idx", F.length("frame").alias("frame_bytes")
    )


# ---------------------------------------------------------------------------
# Generated value-level oracles for the iterative / kernel-backed queries
# (plans/oracles.py): brute-force SQL sharing no code with the kernels.
# ---------------------------------------------------------------------------

from more_pattern_extraction_spark.plans import oracles as _OR  # noqa: E402

ORACLES["matrix_profile_distributed"] = ORACLES["matrix_profile"]
ORACLES["discord_discovery"] = _OR.discord_sql(k=2)
ORACLES["neighbor_search"] = _OR.neighbor_search_sql(max_neighbors=3)
ORACLES["fluss_regimes"] = _OR.fluss_sql(L=_MP_M, n_regimes=3, excl_factor=1)
ORACLES["fluss_L_ranking"] = _OR.fluss_ranking_sql((16, 24, 32), n_regimes=3, excl_factor=1)
ORACLES["nn_label_stats"] = _OR.nn_stats_sql(max_neighbors=3, ez=_MP_EZ, m=_MP_M)
ORACLES["motif_discovery"] = _OR.motif_sql(k=2, max_nbrs=10)
ORACLES["motif_discovery_corrected"] = _OR.motif_sql(k=2, max_nbrs=10, corrected=True)
ORACLES["corrected_matrix_profile"] = _OR.corrected_mp_sql()
ORACLES["subspace_columns"] = _OR.subspace_sql()
ORACLES["motif_label_stats"] = _OR.motif_label_stats_sql(max_nbrs=10)
ORACLES["matrix_profile_multidim"] = _OR.multidim_sql()
ORACLES["changepoint_event_scores"] = _OR.CHANGEPOINT_SQL
ORACLES["changepoint_event_scores_poly2"] = _OR.CHANGEPOINT_POLY2_SQL
ORACLES["dedup_simhash"] = _OR.simhash_sql(_PLANTED_SQL, max_hamming=6)
ORACLES["distinct_convs_kmv_1h"] = _OR.kmv_distinct_sql("hour", k=16)
ORACLES["distinct_convs_kmv_1d"] = _OR.kmv_distinct_sql("day", k=64)
ORACLES["distinct_convs_kmv_24h"] = _OR.kmv_sliding_sql(k=16, window=24)
ORACLES["distinct_convs_kmv_churn"] = _OR.kmv_churn_sql(k=64)
ORACLES["hash_split_counts"] = _OR.hash_split_sql({"train": 0.8, "val": 0.1, "test": 0.1})
ORACLES["embedding_topk_lsh"] = _OR.embedding_topk_lsh_sql(k=3, n_planes=6)
ORACLES["embedding_near_dups"] = _OR.embedding_near_dups_sql(threshold=0.99)
ORACLES["multimodal_features"] = _OR.MULTIMODAL_FEATURES_SQL
ORACLES["multimodal_frames"] = _OR.MULTIMODAL_FRAMES_SQL


# ---------------------------------------------------------------------------
# Round-3 additions: W14 knee, quantile (pinball) event scores, linear-
# interpolation gap-fill — each with a full value-level oracle.
# ---------------------------------------------------------------------------


@register("knee_detection", _OR.knee_sql())
def knee_detection(spark, sf_dir):
    """W14 knee over dimensions (reference plot_knee, plots.py:17-44):
    3-dim mSTOMP (f1 = value, f2 = props.k, f3 = lag(f1)), min profile
    value per k, discrete-curvature elbow pick
    (operators/matrix_profile.knee_dimensions)."""
    from more_pattern_extraction_spark.operators import matrix_profile as MP

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        _events(spark, sf_dir)
        .withColumn("f3", F.lag("value").over(w))
        .filter(F.col("f3").isNotNull())
    )
    series = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("bucket_start"),
        "event_id",
        F.col("value").alias("f1"),
        F.get_json_object("props", "$.k").cast("double").alias("f2"),
        "f3",
    )
    mp = MP.matrix_profile_multidim(series, _MP_M, ["f1", "f2", "f3"])
    knee = MP.knee_dimensions(mp)
    return knee.select(
        F.col("conv_id").cast("bigint").alias("conv_key"),
        F.col("k").cast("bigint").alias("k"),
        F.round("min_mp", 4).alias("min_mp"),
        F.round("increment", 4).alias("increment"),
        F.round("curvature", 4).alias("curvature"),
        "is_knee",
    )


@register("quantile_event_scores", _OR.quantile_event_scores_sql(tau=0.9))
def quantile_event_scores_q(spark, sf_dir):
    """Quantile model family (underperformance_estimator.py:20-48): exact
    τ=0.9 pinball-loss line fit per event's train window, val/test
    exceedance + pinball scores (operators/deviation.quantile_event_scores;
    the oracle runs the identical point-pair argmin)."""
    from more_pattern_extraction_spark.operators import deviation as DV

    ev = _events(spark, sf_dir)
    events = (
        ev.filter((F.col("event_type") == "error") & (F.col("ts") > "2024-01-10"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("event_ts"))
        .select(F.col("user_id").cast("string").alias("event_id"), "event_ts",
                "user_id")
        .filter(F.col("event_ts") > "2024-01-10")
    )
    out = DV.quantile_event_scores(ev.drop("event_id"), events, "value", tau=0.9)
    return out.select(
        "event_id",
        F.round("slope", 6).alias("slope"),
        F.round("icept", 6).alias("icept"),
        F.round("val_exceed", 6).alias("val_exceed"),
        F.round("val_pinball", 6).alias("val_pinball"),
        F.round("test_exceed", 6).alias("test_exceed"),
        F.round("test_pinball", 6).alias("test_pinball"),
    )


@register(
    "gapfill_interp_1m",
    """
    WITH day1 AS (
      SELECT * FROM events WHERE ts < timestamp '2024-01-02'
    ), r AS (
      SELECT user_id, date_trunc('minute', ts) AS bucket_start,
             round(avg(value), 6) AS latency_avg
      FROM day1 GROUP BY 1, 2
    ), b AS (
      SELECT user_id, min(bucket_start) AS b0, max(bucket_start) AS b1 FROM r GROUP BY 1
    ), spine AS (
      SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 MINUTE)) AS bucket_start
      FROM b
    ), j AS (
      SELECT s.user_id, s.bucket_start, r.latency_avg
      FROM spine s LEFT JOIN r USING (user_id, bucket_start)
    ), p AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY bucket_start) AS pos
      FROM j
    ), q AS (
      SELECT *,
        last_value(latency_avg IGNORE NULLS) OVER wp AS val_prev,
        last_value(CASE WHEN latency_avg IS NOT NULL THEN pos END IGNORE NULLS)
          OVER wp AS pos_prev,
        last_value(latency_avg IGNORE NULLS) OVER wn AS val_next,
        last_value(CASE WHEN latency_avg IS NOT NULL THEN pos END IGNORE NULLS)
          OVER wn AS pos_next
      FROM p
      WINDOW wp AS (PARTITION BY user_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wn AS (PARTITION BY user_id ORDER BY pos DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id AS conv_key, bucket_start, latency_avg IS NULL AS is_gap,
      round(CASE
        WHEN latency_avg IS NOT NULL THEN latency_avg
        WHEN (pos_prev IS NOT NULL AND pos - pos_prev <= 2)
          OR (pos_next IS NOT NULL AND pos_next - pos <= 2) THEN
          CASE WHEN val_prev IS NOT NULL AND val_next IS NOT NULL THEN
                 val_prev + (val_next - val_prev) * (pos - pos_prev)
                   / CAST((pos_next - pos) + (pos - pos_prev) AS DOUBLE)
               WHEN val_prev IS NOT NULL THEN val_prev
               ELSE val_next END
      END, 6) AS latency_interp
    FROM q
    """,
)
def gapfill_interp_1m(spark, sf_dir):
    """Dense grid + pandas-parity LINEAR interpolation (limit 2) on one day
    of 1m rollups through ``gap_fill_rollup`` — the second gap-fill leg of
    the north rule (LOCF is gapfill_locf_1m), oracled end-to-end in SQL
    (reference chunk_interpolate, preprocessing.py:185-208)."""
    return _gap_filled(spark, sf_dir, limit=2).select(
        "conv_key", "bucket_start", "is_gap",
        F.round("latency_avg_filled", 6).alias("latency_interp"),
    )


@register("grid_search_sweep")  # oracle: plans/oracles.grid_search_sweep_sql (below)
def grid_search_sweep(spark, sf_dir):
    """§2.11 GridSearchCV-style sweep (plans/ga.grid_search, VERDICT r04
    #7): a 2×2 (m × radius) grid evaluated in ONE Spark job — motif
    coverage per (conversation × combination) via the grouped kernel UDF,
    F1 against the error ±10 min mask — then the |combos|-row result
    re-parallelized for the driver compare.  Deterministic end to end (no
    GA randomness on this path)."""
    from more_pattern_extraction_spark.plans import ga as GA

    series = _event_series(spark, sf_dir)
    ev = _events(spark, sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("err_ts"),
    )
    mts = series.select("conv_id", "bucket_start").distinct()
    mask = (
        mts.join(
            err,
            (mts["conv_id"] == err["conv_id"])
            & (F.col("bucket_start") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("bucket_start") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
            "left",
        )
        .groupBy(mts["conv_id"], "bucket_start")
        .agg((F.count("err_ts") > 0).alias("flag"))
    )
    res = GA.grid_search(
        series, mask,
        {"m": [8, 16], "radius": [2.0, 3.0], "ez_frac": [0.25], "k": [1]},
        max_neighbors=10,
    )
    out = spark.createDataFrame(res[["indiv", "m", "radius", "ez_frac", "k", "f1"]])
    return out.select(
        F.col("indiv").cast("bigint").alias("indiv"),
        F.col("m").cast("bigint").alias("m"),
        F.col("radius").cast("double").alias("radius"),
        F.col("ez_frac").cast("double").alias("ez_frac"),
        F.col("k").cast("bigint").alias("k"),
        F.round("f1", 6).alias("f1"),
    )


ORACLES["grid_search_sweep"] = _OR.grid_search_sweep_sql(
    ms=(8, 16), radii=(2.0, 3.0), ez_frac=0.25, max_nbrs=10
)


# ---------------------------------------------------------------------------
# Driver-window priority ordering.
#
# The correctness driver checks the FIRST 50 registered queries.  Round-6
# rotation (VERDICT r05 "next round" #5): the 18 queries whose last driver
# row is r04 (rotated out in r05, incl. language_id which slipped to
# position 51 — ADVICE r05) come back in, plus this round's new
# rollup_retention; 19 r05-hash-green queries whose operator stays covered
# by an in-window sibling rotate out (pairings in the tail comment).  Over
# r05+r06 every registered query has a driver row <= 1 round old, and
# scripts/check_oracles.py (MPE_ORACLE_JSON artifact) verifies ALL of them
# at HEAD each round regardless of the window.  Nothing is dropped —
# rotated-out queries still run after position 50 if the driver checks
# more.
# ---------------------------------------------------------------------------

_PRIORITY = [
    # last driver row r04 — rotate back in for an r06 row
    "rollup_1h_cascade",
    "matrix_profile_distributed",
    "motif_discovery_corrected",
    "fluss_regimes",
    "slope_changepoints",
    "changepoint_event_scores",
    "dedup_exact",
    "doc_fingerprint",
    "hopping_window",
    "gapfill_interp_1m",
    "nn_label_stats",
    "multimodal_features",
    "knee_detection",
    "embedding_topk_lsh",
    "embedding_topk",
    "quality_score",
    "text_token_count",
    "language_id",  # r05's intended keeper that overflowed to position 51
    # new this round
    "rollup_retention",
    "distinct_convs_kmv_1h",
    "distinct_convs_kmv_1d",
    # r05-green keepers (unique operator coverage in this window)
    "grid_search_sweep",
    "embedding_topk_ivf",
    "filter_range",
    "between_time",
    "rolling_mean",
    "dedup_ngram_jaccard",
    "rollup_p95_cascade",
    "filter_dates",
    "filter_reltol",
    "distinct_pairs",
    "iqr_outlier_filter",
    "minmax_scale",
    "dispersion_stable",
    "lag_edge_detect",
    "topk_per_group",
    "score_metrics",
    "corr_pairs",
    "interval_join_flags",
    "edge_intervals",
    "union_by_name",
    "quantile_threshold",
    "summary_stats",
    "discord_discovery",
    "quantile_event_scores",
    "motif_label_stats",
    "classification_metrics",
    "equi_join_enrich",
    "chunk_roundtrip",
    "dedup_minhash_lsh",
    # rotated out this round (r05 hash-green; operator covered in-window):
    # rollup_5m_cascade (arbitrary-width A1 -> rollup_1h_cascade +
    # rollup_retention keep A1 in-window; 5m landed in the r05 window),
    # dedup_simhash (dedup family keeps dedup_exact + dedup_ngram_jaccard
    # + dedup_minhash_lsh in-window; simhash has an r05 row) — both make
    # room for the new KMV distinct queries to get r06 driver rows.
    # rollup_1d_cascade + rollup_1m (A1 -> rollup_1h_cascade +
    # rollup_retention's 1m tier), rollup_p95 (-> rollup_p95_cascade),
    # matrix_profile (W1 -> matrix_profile_distributed),
    # motif_discovery + corrected_matrix_profile (W3/W10 ->
    # motif_discovery_corrected), fluss_L_ranking (W2 -> fluss_regimes),
    # rolling_slope + peak_detect (W5/W8 -> slope_changepoints),
    # changepoint_event_scores_poly2 (-> changepoint_event_scores),
    # gapfill_locf_1m (-> gapfill_interp_1m), dedup_exact_rep (P9 ->
    # dedup_exact), bow_fingerprint (-> doc_fingerprint),
    # deviation_windows (W7/A13 -> hopping_window), neighbor_search
    # (W9/A8 -> nn_label_stats), multimodal_frames (->
    # multimodal_features), matrix_profile_multidim + subspace_columns
    # (W11/W12/W14 -> knee_detection), embedding_near_dups (->
    # embedding_topk_lsh)
    #
    # Registered late in r06, OUTSIDE the window (FULL@HEAD-green this
    # round; rotate into the r07 window): distinct_convs_kmv_24h,
    # distinct_convs_kmv_churn, asof_enrich, sessionize_stats.
]

# ADVICE r05: the window is EXACTLY the driver's 50-query check; a silent
# 51st entry gets no driver row while the rotation comments claim it does.
assert len(_PRIORITY) == 50, f"_PRIORITY must be exactly 50, got {len(_PRIORITY)}"


def ordered_queries() -> dict:
    """QUERIES reordered: priority window first, the rest (all hash-green in
    r01+r02 with in-window coverage of the same operators) after."""
    out = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    out.update({n: fn for n, fn in QUERIES.items() if n not in out})
    return out
