"""Gap-fill: bucket-spine densification + LOCF + linear interpolation with
pandas ``interpolate(method='linear', limit=k, limit_direction='both')``
semantics (reference ``chunk_interpolate``, ``modules/preprocessing.py:
185-208``, applied by ``change_granularity`` :23-44).

Semantics matched empirically against pandas (tests/test_gapfill.py):
  * interior NaN run between anchors a..b → linear interpolation, but only
    positions within ``limit`` of either end of the run are filled;
  * trailing NaNs → flat-fill (last value) up to ``limit`` positions;
  * leading NaNs → back-fill (next value) up to ``limit`` positions
    counted from the first valid point backwards.

Everything is Catalyst window functions and ``sequence()`` explodes —
zero UDFs.  No ``sequence`` array exceeds one day of buckets (1440 for
1m): grids are generated per (conv, ts-day).

Two forms, one result:
  * the generic chain ``densify`` → ``interpolate`` (and ``locf``) windows
    over the dense grid; it serves irregular grids and direct callers,
    and the tests and oracles compare against it;
  * ``gap_fill_rollup`` — the tier path — is ``interpolate_runs``.  It is
    skew-safe by construction, with no probe and no gate: each
    conversation's window sorts cover only its observed 1m rows, and the
    fan-out to the dense grid happens after the ``(conv, day)``
    repartition, so a hot conversation's grid spreads across tasks by day.

Reference chunking (``chunker`` 10^6-row pieces for RAM) is subsumed by
partitioning itself; unlike the reference, window frames here never cross
executor memory limits because frames are bounded (the unbounded LOCF
window is a running aggregate, streamed by Spark's window operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


def bucket_spine(rollup: DataFrame, tier: str = "1m") -> DataFrame:
    """Dense per-conversation bucket grid from min to max observed bucket.

    Split per (conv, day): the bounds row is first crossed with a one-day
    spine, then each (conv, day) row generates a day-bounded ``sequence``
    (≤1440 elements at 1m) — a multi-year conversation never materializes
    its whole range in a single array row.  The union of the per-day
    sequences equals the single full-range sequence exactly because every
    supported step divides a day and ``bucket_start`` is step-aligned, so
    each midnight lies on the bucket grid.  The (conv, day) repartition
    doubles as hot-conversation salting: one viral conversation's spine
    spreads across tasks by day.
    """
    step = _SECONDS[tier]
    bounds = rollup.groupBy("conv_id").agg(
        F.min("bucket_start").alias("b0"), F.max("bucket_start").alias("b1")
    )
    if tier == "1d":
        # one bucket per day — the whole-range sequence IS the day spine
        return bounds.repartition("conv_id").select(
            "conv_id",
            F.explode(
                F.sequence(F.col("b0"), F.col("b1"), F.expr(f"interval {step} seconds"))
            ).alias("bucket_start"),
        )
    days = bounds.select(
        "conv_id",
        "b0",
        "b1",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("b0")),
                F.date_trunc("day", F.col("b1")),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    # the day table is still small (rows = conv-days, pre-explode) but the
    # sequence below fans each row out ×1440 (1m) — spread (conv, day)
    # across tasks FIRST so a hot conversation doesn't pin one task
    days = days.repartition("conv_id", "day")
    day_end = F.col("day") + F.expr("interval 1 day") - F.expr(f"interval {step} seconds")
    return days.select(
        "conv_id",
        F.explode(
            F.sequence(
                F.greatest(F.col("b0"), F.col("day")),
                F.least(F.col("b1"), day_end),
                F.expr(f"interval {step} seconds"),
            )
        ).alias("bucket_start"),
    )


def densify(rollup: DataFrame, tier: str = "1m") -> DataFrame:
    """Left-join the rollup onto its dense spine; missing buckets appear as
    all-null feature rows with ``gap_filled`` candidate flag."""
    spine = bucket_spine(rollup, tier)
    joined = spine.join(rollup, ["conv_id", "bucket_start"], "left")
    return joined.withColumn("is_gap", F.col("turn_cnt").isNull())


def interpolate(
    df: DataFrame,
    cols: list[str],
    limit: int = 1,
    partition_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "bucket_start",
    with_locf: bool = False,
) -> DataFrame:
    """pandas-parity linear interpolation over a dense grid (see module
    docstring).  Adds ``<col>_filled`` per input col plus ``gap_filled``.

    ``with_locf=True`` additionally emits ``<col>_locf`` from the SAME
    forward window pass (coalesce(col, prev-non-null) ≡ the standalone
    ``locf``) — fusing it here saves a third full per-partition sort at
    scale (forward, reverse, and the separate locf window each cost one).
    """
    ord_w = Window.partitionBy(*partition_cols).orderBy(order_col)
    df = df.withColumn("_pos", F.row_number().over(ord_w))
    # CRUCIAL at scale: both look-around frames must be *growing*
    # frames (unboundedPreceding..-1), which Spark evaluates
    # incrementally in O(n).  A (1, unboundedFollowing) frame is
    # re-aggregated per row — O(n²) — and hangs on month-long spines;
    # the "next non-null" leg is therefore a growing frame over the
    # REVERSED ordering.
    w_prev = ord_w.rowsBetween(Window.unboundedPreceding, -1)
    w_next = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.desc(order_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    any_filled = F.lit(False)
    for c in cols:
        pos_nn = F.when(F.col(c).isNotNull(), F.col("_pos"))
        val_prev = F.last(F.col(c), ignorenulls=True).over(w_prev)
        pos_prev = F.last(pos_nn, ignorenulls=True).over(w_prev)
        val_next = F.last(F.col(c), ignorenulls=True).over(w_next)
        pos_next = F.last(pos_nn, ignorenulls=True).over(w_next)
        d_prev = F.col("_pos") - pos_prev
        d_next = pos_next - F.col("_pos")
        interp = F.when(
            val_prev.isNotNull() & val_next.isNotNull(),
            val_prev + (val_next - val_prev) * d_prev / (d_next + d_prev),
        ).when(val_prev.isNotNull(), val_prev).otherwise(val_next)
        in_limit = (
            (pos_prev.isNotNull() & (d_prev <= limit))
            | (pos_next.isNotNull() & (d_next <= limit))
        )
        filled = F.when(F.col(c).isNotNull(), F.col(c)).when(in_limit, interp)
        df = df.withColumn(f"{c}_filled", filled)
        if with_locf:
            df = df.withColumn(f"{c}_locf", F.coalesce(F.col(c), val_prev))
        any_filled = any_filled | (F.col(c).isNull() & filled.isNotNull())
    return df.withColumn("gap_filled", any_filled).drop("_pos")


def interpolate_runs(
    rollup: DataFrame,
    tier: str = "1m",
    cols: list[str] | tuple[str, ...] = ("latency_avg",),
    limit: int = 1,
    with_locf: bool = True,
) -> DataFrame:
    """Densify + interpolate for a step-regular grid WITHOUT any window
    over the dense grid — bit-identical to ``densify`` → count-coalesce →
    ``interpolate`` (equality property-tested in tests/test_gapfill.py).

    Physics: every fill decision (nearest non-null anchors, row-distance
    limits) is a function of the SPARSE rollup rows only — on a regular
    grid the dense row-position differences collapse to
    ``(t − anchor_t)/step``.  So
    the anchors are computed with two window sorts over the sparse rows
    (one asc, one desc — |rollup| rows, not |grid|), and the dense grid is
    then GENERATED: each sparse row owns the half-open run up to the next
    sparse row and explodes it (day-split so no array exceeds one day of
    buckets, and repartitioned by (conv, day) so a hot conversation's
    spine spreads across tasks).  The generic chain instead left-joins
    the spine and runs three window passes (row_number + forward + reverse
    anchor scans) over the EXPLODED grid — ~370× more window-sorted rows
    at 1m granularity with 0.27 % bucket occupancy (sf0.1 shape).

    Anchor equivalence: dense-grid "last non-null strictly before p" hits
    non-null values only at sparse positions, so for an observed row it is
    the sparse-exclusive carry and for a generated gap row it is the
    owning sparse row's inclusive carry; symmetrically the "next" anchor
    of every row in run(r) is the first non-null strictly after r.  The
    interpolation arithmetic keeps the plain path's exact bit pattern:
    distances are exact small integers as doubles, numerator/denominator
    association unchanged.
    """
    step = _SECONDS[tier]
    oc = "bucket_start"
    cols = list(cols)
    w_fwd = Window.partitionBy("conv_id").orderBy(oc)
    w_prev_excl = w_fwd.rowsBetween(Window.unboundedPreceding, -1)
    w_prev_incl = w_fwd.rowsBetween(Window.unboundedPreceding, 0)
    w_next_excl = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc(oc))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rollup_rest = [c for c in rollup.columns if c not in ("conv_id", oc)]
    sp = rollup
    for c in cols:
        nn = F.when(
            F.col(c).isNotNull(),
            F.struct(F.col(oc).alias("t"), F.col(c).alias("v")),
        )
        sp = (
            sp.withColumn(f"_pe_{c}", F.last(nn, ignorenulls=True).over(w_prev_excl))
            .withColumn(f"_pi_{c}", F.last(nn, ignorenulls=True).over(w_prev_incl))
            .withColumn(f"_ne_{c}", F.last(nn, ignorenulls=True).over(w_next_excl))
        )
    sp = sp.withColumn("_tnext", F.lead(oc).over(w_fwd))
    run_end = F.coalesce(
        F.col("_tnext") - F.expr(f"interval {step} seconds"), F.col(oc)
    )
    days = sp.withColumn("_run_end", run_end).withColumn(
        "_day",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col(oc)),
                F.date_trunc("day", F.col("_run_end")),
                F.expr("interval 1 day"),
            )
        ),
    )
    # a hot conversation's long runs spread across (conv, day) tasks
    # BEFORE the ×(day/step) position fan-out — same rationale as
    # bucket_spine
    days = days.repartition("conv_id", "_day")
    day_end = (
        F.col("_day") + F.expr("interval 1 day") - F.expr(f"interval {step} seconds")
    )
    g = days.withColumn(
        "_p",
        F.explode(
            F.sequence(
                F.greatest(F.col(oc), F.col("_day")),
                F.least(F.col("_run_end"), day_end),
                F.expr(f"interval {step} seconds"),
            )
        ),
    )
    is_first = F.col("_p") == F.col(oc)
    p_sec = F.col("_p").cast("timestamp").cast("double")
    out_cols = [F.col("conv_id"), F.col("_p").alias(oc)]
    for c in rollup_rest:
        e = F.when(is_first, F.col(c))
        if c in ("turn_cnt", "tool_call_cnt"):
            e = F.coalesce(e, F.lit(0))
        out_cols.append(e.alias(c))
    out_cols.append((~is_first).alias("is_gap"))
    any_filled = F.lit(False)
    fill_cols = []
    for c in cols:
        ap = F.when(is_first, F.col(f"_pe_{c}")).otherwise(F.col(f"_pi_{c}"))
        an = F.col(f"_ne_{c}")
        tp, vp, tn, vn = ap["t"], ap["v"], an["t"], an["v"]
        d_prev = (p_sec - tp.cast("timestamp").cast("double")) / step
        d_next = (tn.cast("timestamp").cast("double") - p_sec) / step
        interp = (
            F.when(
                vp.isNotNull() & vn.isNotNull(),
                vp + (vn - vp) * d_prev / (d_next + d_prev),
            )
            .when(vp.isNotNull(), vp)
            .otherwise(vn)
        )
        in_limit = (tp.isNotNull() & (d_prev <= limit)) | (
            tn.isNotNull() & (d_next <= limit)
        )
        val = F.when(is_first, F.col(c))
        filled = F.when(val.isNotNull(), val).when(in_limit, interp)
        fill_cols.append(filled.alias(f"{c}_filled"))
        if with_locf:
            fill_cols.append(F.coalesce(val, vp).alias(f"{c}_locf"))
        any_filled = any_filled | (val.isNull() & filled.isNotNull())
    return g.select(*out_cols, *fill_cols, any_filled.alias("gap_filled"))


def locf(
    df: DataFrame,
    cols: list[str],
    partition_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "bucket_start",
) -> DataFrame:
    """Last-observation-carried-forward: ``last(col, ignorenulls) over
    (unboundedPreceding, 0)`` (reference fillna/LOCF masks,
    ``modules/learning.py:450``)."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in cols:
        df = df.withColumn(f"{c}_locf", F.last(F.col(c), ignorenulls=True).over(w))
    return df


def gap_fill_rollup(rollup: DataFrame, tier: str = "1m", limit: int = 1) -> DataFrame:
    """End-to-end: densify → counts default 0 → LOCF + linear interp on
    latency features (the §7.1 slice), as one ``interpolate_runs`` plan.

    Skew-safe without a gate: a conversation's window sorts cover only
    its observed rollup rows (at most one per bucket, so ≤1440 per
    conversation-day at 1m), never its dense grid, and the fan-out to the
    grid happens after the ``(conv, day)`` repartition, so a hot
    conversation's grid spreads across tasks by day.  Lazy: no Spark job
    runs until the result is consumed, and the plan reads its input once,
    so nothing is cached.
    """
    return interpolate_runs(rollup, tier, ["latency_avg"], limit=limit,
                            with_locf=True)
