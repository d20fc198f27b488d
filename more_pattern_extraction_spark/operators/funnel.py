"""Funnel analysis: ordered step sequences within a conversation.

"view → click → purchase, each step within X seconds of the previous"
— the standard product-analytics funnel, here over turn streams
("question → tool call → error within the next N seconds" is the
transcript form).  Per conversation, find the EARLIEST completion of
each step given the previous step's time, and report the furthest step
reached.

Relational form (no UDF, no explode): step i's timestamp is
``min(ts) FILTER (pred_i AND ts > t_{i-1} [AND ts <= t_{i-1}+gap])``
as a window aggregate over the conversation — k steps are k chained
window expressions over ONE key shuffle (consecutive windows on the
same partitioning reuse the Exchange; plan test).  Earliest-completion
semantics (greedy): each step takes the first qualifying event after
the previous step — the standard funnel definition (Amplitude/GA
"closed funnel"); it can under-count vs an exhaustive subsequence
search when a later step-1 event would enable an otherwise-impossible
step 2 inside a gap bound, which is the accepted trade every funnel
engine makes (exhaustive search is combinatorial).

Reference analogue: none (the reference's label/event alignment is
nearest-window joins); the funnel is the ordered-sequence form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import partitioning as P


def funnel_steps(
    turns: DataFrame,
    steps: list,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    within_s: int | None = None,
) -> DataFrame:
    """One row per conversation: ``step{i}_ts`` for each step (NULL once
    the funnel stalls) and ``furthest_step`` (0 = none).

    ``steps`` is an ordered list of boolean Columns over the turn row;
    ``within_s`` bounds the gap between CONSECUTIVE steps (unbounded if
    None).

    **Skew**: the plain form's k chained whole-partition windows buffer
    a conversation's ENTIRE turn stream on one task, k times (same
    hot-key family the r06 skew harness measured on asof/sessionize).
    The segmented form computes each ``step{i}_ts`` as a
    partial-aggregated ``groupBy(conv).min`` instead — map-side combining
    spreads a hot conversation's min across its input partitions, and
    the previous step's per-conv cutoff is attached back with an
    equi-join that AQE's skew-join handling can split (windows get
    neither).  Its premium on uniform data is k scans of ``turns`` + k
    joins instead of one shuffle.  min-over-identical-predicates makes
    the two forms value-equal (property test, tests/test_funnel.py).

    **Gate**: the segmented form runs when the largest per-conversation
    row count (plans/partitioning.max_group_rows, one job at plan-build
    time) reaches ``HOT_KEY_ROWS``.
    """
    names = [f"step{i}_ts" for i in range(1, len(steps) + 1)]
    if P.max_group_rows(turns, conv_col) >= P.HOT_KEY_ROWS:
        # one never-NULL conversation key (plans/partitioning): a NULL
        # conv_col keeps its funnel row, as the plain window's NULL group does
        keyed = turns.withColumn("_k", F.struct(conv_col))
        base = keyed.select("_k").distinct()
        prev_df = None
        for i, pred in enumerate(steps, start=1):
            name = names[i - 1]
            if prev_df is None:
                ti = keyed.filter(pred).groupBy("_k").agg(
                    F.min(ts_col).alias(name)
                )
            else:
                j = keyed.join(prev_df, "_k")
                t = F.col(ts_col).cast("timestamp").cast("double")
                p = F.col(f"step{i-1}_ts").cast("timestamp").cast("double")
                cond = pred & (t > p)
                if within_s is not None:
                    cond = cond & (t <= p + F.lit(float(within_s)))
                ti = j.filter(cond).groupBy("_k").agg(
                    F.min(ts_col).alias(name)
                )
            base = base.join(ti, "_k", "left")
            # next round only needs convs that completed this step
            prev_df = ti
        out = base.select(F.col("_k")[conv_col].alias(conv_col), *names)
    else:
        w = Window.partitionBy(conv_col)
        df = turns
        prev = None
        for i, pred in enumerate(steps, start=1):
            cond = pred
            if prev is not None:
                # NTZ-safe epoch comparison (cast through timestamp)
                t = F.col(ts_col).cast("timestamp").cast("double")
                p = F.col(prev).cast("timestamp").cast("double")
                cond = cond & (t > p)
                if within_s is not None:
                    cond = cond & (t <= p + F.lit(float(within_s)))
            name = f"step{i}_ts"
            df = df.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
            prev = name
        out = df.groupBy(conv_col).agg(*[F.min(n).alias(n) for n in names])
    furthest = F.lit(0)
    for i, n in enumerate(names, start=1):
        furthest = F.when(F.col(n).isNotNull(), i).otherwise(furthest)
    return out.withColumn("furthest_step", furthest)


def funnel_counts(per_conv: DataFrame, n_steps: int) -> DataFrame:
    """Classic funnel report from ``funnel_steps`` output: conversations
    reaching AT LEAST each step (monotone non-increasing)."""
    rows = [
        F.sum(
            (F.col("furthest_step") >= i).cast("bigint")
        ).alias(f"reached_{i}")
        for i in range(1, n_steps + 1)
    ]
    return per_conv.agg(*rows)
