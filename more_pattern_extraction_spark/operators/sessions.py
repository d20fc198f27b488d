"""Sessionization: split a conversation's turn stream on inactivity gaps.

The standard event-analytics operator (a "session" ends after
``gap_s`` seconds of silence): lag the timestamp per conversation, flag
gap > bound (or stream start) as a session boundary, running-sum the
flags — two window passes over ONE key shuffle, all whole-stage
codegen, no Python.

Skew note: like every per-conversation ordered window in this engine,
the running sum sorts a conversation's turns on one task.  A hot
conversation therefore takes a segmented form instead: a block-carry
prefix sum over (conv, day) blocks, picked by the shared hot-key gate
(plans/partitioning.HOT_KEY_ROWS; see ``sessionize``).

Reference analogue: none as an operator (the reference's notebooks
slice fixed calendar windows); sessionization is the transcript-native
form of its date-interval slicing (J2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import partitioning as P


def sessionize(
    turns: DataFrame,
    gap_s: int = 1800,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    tie_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Add ``session_idx`` (1-based per conversation) and ``is_session_start``.

    ``tie_cols`` break ordering ties at equal timestamps (determinism —
    pass the row id when timestamps can collide).

    **Skew**: the plain form's lag + running sum sort a conversation's
    entire stream on one task (r06 skew harness: 26.8 s vs 4.9 s uniform
    on a 91 %-hot input).  The segmented form makes the session index a
    BLOCK-CARRY PREFIX SUM over (conv, day) blocks: row-level windows
    sort within a block only; a per-(conv, block) summary carries (a) the
    previous block's last timestamp — the lag seed for the block's first
    row — and (b) the running count of session starts in all previous
    blocks, added to the in-block running sum.  The first row's flag is
    decided at the summary level from (first_ts − prev block last_ts),
    exactly the row-level lag the plain form computes, so both forms are
    bit-equal (property test, tests/test_sessions.py).

    **Gate**: the segmented form runs when the largest per-conversation
    row count (plans/partitioning.max_group_rows, one job at plan-build
    time) reaches ``HOT_KEY_ROWS``.
    """
    sec = F.col(ts_col).cast("timestamp").cast("double")
    if P.max_group_rows(turns, conv_col) < P.HOT_KEY_ROWS:
        w = Window.partitionBy(conv_col).orderBy(ts_col, *tie_cols)
        prev_ts = F.lag(ts_col).over(w)
        # NTZ sources: cast through timestamp before double (Spark 4
        # forbids the direct cast; session TZ is pinned UTC so this
        # equals epoch())
        gap = (sec - prev_ts.cast("timestamp").cast("double"))
        new_sess = (prev_ts.isNull() | (gap > gap_s)).cast("int")
        run = Window.partitionBy(conv_col).orderBy(ts_col, *tie_cols).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return turns.withColumn(
            "is_session_start", new_sess.cast("boolean")
        ).withColumn("session_idx", F.sum(new_sess).over(run))

    # one never-NULL (conv, day) block key (plans/partitioning): NULL-conv
    # and NULL-ts rows meet their summary, and the block window reuses
    # the join's exchange
    blk = F.struct(F.col(conv_col).alias("_k"), F.date_trunc("day", ts_col).alias("_b"))
    t = turns.withColumn("_blk", blk)
    wb = Window.partitionBy("_blk").orderBy(ts_col, *tie_cols)
    run_b = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_in = F.lag(ts_col).over(wb)
    gap_in = sec - prev_in.cast("timestamp").cast("double")
    # flags decidable inside the block: every row but the block's first
    # (a NULL-ts predecessor opens a session, as in the plain form)
    flag_in = F.when(
        F.row_number().over(wb) > 1, (prev_in.isNull() | (gap_in > gap_s)).cast("int")
    )

    # per-(conv, block) summary: first/last ts + count of in-block flags
    # (the windowed flag is materialized as a column first — a Window node
    # below the aggregate; ordering by (ts, ties) means first_ts = min(ts)
    # and last_ts = max(ts)).  This second pass over the rows is the
    # gated-path premium.
    summ = (
        t.withColumn("_fi", flag_in)
        .groupBy("_blk")
        .agg(
            F.min(ts_col).alias("_first_ts"),
            F.max(ts_col).alias("_last_ts"),
            F.sum("_fi").alias("_flags_in"),
        )
        .withColumns({"_k": F.col("_blk._k"), "_b": F.col("_blk._b")})
    )
    # plain key columns, so both summary windows share one exchange
    w_blk = Window.partitionBy("_k").orderBy("_b")
    prev_last = F.lag("_last_ts").over(w_blk)
    first_gap = (
        F.col("_first_ts").cast("timestamp").cast("double")
        - prev_last.cast("timestamp").cast("double")
    )
    first_flag = (prev_last.isNull() | (first_gap > gap_s)).cast("int")
    summ = summ.withColumn("_first_flag", first_flag).withColumn(
        "_blk_total", F.coalesce(F.col("_flags_in"), F.lit(0)) + F.col("_first_flag")
    )
    cum_before = (
        F.sum("_blk_total")
        .over(w_blk.rowsBetween(Window.unboundedPreceding, -1))
    )
    summ = summ.select(
        "_blk",
        "_first_flag",
        F.coalesce(cum_before, F.lit(0)).alias("_cum_before"),
    )
    t = t.join(summ, "_blk")
    flag = F.coalesce(flag_in, F.col("_first_flag"))
    return t.select(
        *turns.columns,
        flag.cast("boolean").alias("is_session_start"),
        (F.col("_cum_before") + F.sum(flag).over(run_b)).alias("session_idx"),
    )


def session_stats(
    sessions: DataFrame, conv_col: str = "conv_id", ts_col: str = "ts"
) -> DataFrame:
    """Per-session aggregate: turn count, start/end, duration — one
    partial-aggregated shuffle on (conv, session_idx)."""
    return sessions.groupBy(conv_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min(ts_col).alias("sess_start"),
        F.max(ts_col).alias("sess_end"),
        (F.max(ts_col).cast("timestamp").cast("double")
         - F.min(ts_col).cast("timestamp").cast("double")).alias("duration_s"),
    )
