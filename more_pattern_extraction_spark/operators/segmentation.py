"""Segmentation operators: FLUSS semantic segmentation (reference W2,
``modules/patterns.py:368-402`` segment_ts) and regression-residual
changepoint detection (reference ``modules/estimator_util.py:12-21``
detect_changepoints + ``modules/learning.py:180-228`` changepoint_scores).

FLUSS consumes the persisted MP-index table and runs per (conversation, L)
— the L sweep is exploded into the group key, so the reference's serial
22-value loop (1745 s, notebook cell 18) becomes one shuffle-parallel
job over 22 groups.  The pattern stage's single-L regimes come from its
one pass, ``matrix_profile.window_patterns``.

The regression path is 100 % Catalyst: rolling closed-form slope (W5) →
strict local extrema (W8) → global quantile threshold (A11) → segment
score ``my_mce`` = median of cubed residuals per segment (A10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from more_pattern_extraction_spark.functions.kernels import fluss

FLUSS_SCHEMA = "conv_id string, L int, regime_pos int, cac double"


def fluss_segments(
    mp_index: DataFrame,
    L_values: list[int],
    n_regimes: int,
    excl_factor: int = 5,
) -> DataFrame:
    """(conv_id, pos, pi) MP-index table → changepoint positions per
    (conv, L).  Returns one row per detected regime boundary with the CAC
    value at it."""
    Ls = F.array(*[F.lit(int(x)) for x in L_values])
    exploded = mp_index.withColumn("L", F.explode(Ls))

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        L = int(pdf["L"].iloc[0])
        cac, regimes = fluss(
            pdf["pi"].to_numpy(dtype="int64"), L, n_regimes, excl_factor
        )
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "L": np.int32(L),
                "regime_pos": regimes.astype("int32"),
                "cac": cac[regimes],
            }
        )

    from more_pattern_extraction_spark.plans.partitioning import spread_groups

    # explicit (conv, L) exchange: the exploded sweep inherits the MP
    # table's conv_id partitioning, which would keep every L-variant of a
    # conversation on one task (see partitioning.spread_groups)
    return spread_groups(exploded, "conv_id", "L").groupBy(
        "conv_id", "L"
    ).applyInPandas(f, FLUSS_SCHEMA)


def rank_L_sweep(
    fluss_out: DataFrame,
    labels: DataFrame,
) -> DataFrame:
    """Score the FLUSS L-sweep against labeled positions (reference
    plot_segmentation, plots.py:167-240): per (conv, L), DTW distance
    (manhattan cost) between the detected regime positions and the label
    positions; per conv, min-max-normalized distance across the sweep and
    a best-first rank — the reference's criterion for choosing L.

    fluss_out: (conv_id, L, regime_pos, ...) from fluss_segments.
    labels: (conv_id, label_pos).  Everything is relational except the
    tiny per-(conv, L) DTW itself (a vectorized pandas UDF over two
    array columns)."""
    import pandas as pd  # noqa: F401 (pandas_udf)

    from more_pattern_extraction_spark.functions.kernels import dtw_distance

    regimes = fluss_out.groupBy("conv_id", "L").agg(
        F.sort_array(F.collect_list(F.col("regime_pos").cast("double"))).alias("regs")
    )
    labs = labels.groupBy("conv_id").agg(
        F.sort_array(F.collect_list(F.col("label_pos").cast("double"))).alias("labs")
    )

    @F.pandas_udf("double")
    def dtw_udf(regs: pd.Series, labs_: pd.Series) -> pd.Series:
        return pd.Series(
            [dtw_distance(np.asarray(r), np.asarray(b)) for r, b in zip(regs, labs_)]
        )

    scored = regimes.join(labs, "conv_id").withColumn(
        "dtw_dist", dtw_udf("regs", "labs")
    )
    w = Window.partitionBy("conv_id")
    lo, hi = F.min("dtw_dist").over(w), F.max("dtw_dist").over(w)
    return (
        scored.withColumn("norm_dist", F.try_divide(F.col("dtw_dist") - lo, hi - lo))
        .withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("conv_id").orderBy("dtw_dist", "L")),
        )
        .select("conv_id", "L", "dtw_dist", "norm_dist", "rank")
    )


def rolling_slope(
    df: DataFrame,
    value_col: str,
    width: int,
    partition_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "bucket_start",
) -> DataFrame:
    """Centered rolling OLS slope in closed form (reference get_slope over
    rolling(width, center=True), estimator_util.py:12-21) — pure window
    aggregates, no UDF: slope = (E[xy]−E[x]E[y]) / (E[x²]−E[x]²)."""
    half = width // 2
    wo = Window.partitionBy(*partition_cols).orderBy(order_col)
    w = wo.rowsBetween(-half, width - half - 1)
    df = df.withColumn("_x", F.row_number().over(wo).cast("double"))
    x, y = F.col("_x"), F.col(value_col)
    n = F.count(y).over(w)
    slope = (F.avg(x * y).over(w) - F.avg(x).over(w) * F.avg(y).over(w)) / (
        F.avg(x * x).over(w) - F.avg(x).over(w) * F.avg(x).over(w)
    )
    # pandas rolling(center=True) yields NaN until the full window exists
    return df.withColumn("slope", F.when(n >= width, slope)).drop("_x")


def detect_changepoints(
    slopes: DataFrame,
    t: float = 0.999,
    partition_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "bucket_start",
) -> DataFrame:
    """Peaks ∪ valleys of the slope series, thresholded at the global
    t-quantile of |slope| at those extrema (estimator_util.py:16-21)."""
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    s = F.col("slope")
    ext = (
        slopes.withColumn("pv", F.lag("slope").over(w))
        .withColumn("nv", F.lead("slope").over(w))
        .filter(
            ((s > F.col("pv")) & (s > F.col("nv")))
            | ((s < F.col("pv")) & (s < F.col("nv")))
        )
    )
    thr = ext.agg(F.expr(f"percentile(abs(slope), {t})").alias("thr"))
    return (
        ext.crossJoin(F.broadcast(thr))
        .filter(F.abs(s) > F.col("thr"))
        .drop("pv", "nv", "thr")
    )


def score_segments(
    residuals: DataFrame,
    changepoints: DataFrame,
    value_col: str = "residual",
    partition_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "bucket_start",
) -> DataFrame:
    """Assign every row to the segment delimited by its preceding change-
    point, then my_mce = median(residual³) per segment (estimator_util.py:
    23-53).  The changepoint set is tiny → broadcast + running max."""
    pc = list(partition_cols)
    cp = changepoints.select(
        *[F.col(c).alias(f"_cp_{c}") for c in pc],
        F.col(order_col).alias("cp_ts"),
        F.lit(1).alias("is_cp"),
    )
    cond = F.col(order_col) == F.col("cp_ts")
    for c in pc:
        cond = cond & (F.col(c) == F.col(f"_cp_{c}"))
    j = residuals.join(F.broadcast(cp), cond, "left").drop(
        "cp_ts", *[f"_cp_{c}" for c in pc]
    )
    w = (
        Window.partitionBy(*pc)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = j.withColumn("segment", F.sum(F.coalesce("is_cp", F.lit(0))).over(w))
    v = F.col(value_col)
    return seg.groupBy(*pc, "segment").agg(
        F.min(order_col).alias("seg_start"),
        F.max(order_col).alias("seg_end"),
        F.count(v).alias("n"),
        F.expr(f"percentile({value_col} * {value_col} * {value_col}, 0.5)").alias(
            "mce"
        ),
    )
