"""Gap-fill: expand a tier to its full step grid, then LOCF and linear
interpolation with pandas ``interpolate(method='linear', limit=k,
limit_direction='both')`` semantics (reference ``chunk_interpolate``,
``modules/preprocessing.py:185-208``, applied by ``change_granularity``
:23-44).

Semantics matched against pandas (tests/test_gapfill.py):
  * interior NaN run between anchors a..b → linear interpolation, but only
    positions within ``limit`` of either end of the run are filled;
  * trailing NaNs → flat-fill (last value) up to ``limit`` positions;
  * leading NaNs → back-fill (next value) up to ``limit`` positions
    counted from the first valid point backwards;
  * LOCF is pandas ``ffill``.

One form, ``gap_fill_rollup`` = ``interpolate_runs``, serves the tier
table (``rollup_1m_filled``) and the driver contract's
``gapfill_locf_1m``/``gapfill_interp_1m``.  Everything is Catalyst window
functions and ``sequence()`` explodes — zero UDFs.  It is skew-safe by
construction, with no probe and no gate: each conversation's window
sorts cover only its observed rows, and the fan-out to the dense grid
happens after the ``(conv, day)`` repartition, so a hot conversation's
grid spreads across tasks by day.  No ``sequence`` array exceeds one day
of buckets, which is why the step must divide a day.

Reference chunking (``chunker`` 10^6-row pieces for RAM) is subsumed by
partitioning itself; unlike the reference, window frames here never cross
executor memory limits because frames are bounded (the unbounded LOCF
window is a running aggregate, streamed by Spark's window operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators.rollup import tier_seconds


def interpolate_runs(
    rollup: DataFrame,
    tier: str = "1m",
    cols: list[str] | tuple[str, ...] = ("latency_avg",),
    limit: int = 1,
) -> DataFrame:
    """Expand a step-regular tier to its dense grid and fill ``cols``
    (``<c>_filled`` by interpolation, ``<c>_locf`` by LOCF, plus
    ``is_gap`` and ``gap_filled``) WITHOUT any window over the dense
    grid.  Counts (``turn_cnt``, ``tool_call_cnt``) of generated rows are
    0; the other columns are NULL there.

    Physics: every fill decision (nearest non-null anchors, row-distance
    limits) is a function of the SPARSE rollup rows only — on a regular
    grid the dense row-position differences collapse to
    ``(t − anchor_t)/step``.  So the anchors are computed with two window
    sorts over the sparse rows (one asc, one desc — |rollup| rows, not
    |grid|), and the dense grid is then GENERATED: each sparse row owns
    the half-open run up to the next sparse row and explodes it
    (day-split so no array exceeds one day of buckets, and repartitioned
    by (conv, day) so a hot conversation's grid spreads across tasks).
    Window passes over the exploded grid would sort ~370× more rows at
    1m granularity with 0.27 % bucket occupancy (sf0.1 shape).

    Anchor equivalence: dense-grid "last non-null strictly before p" hits
    non-null values only at sparse positions, so for an observed row it is
    the sparse-exclusive carry and for a generated gap row it is the
    owning sparse row's inclusive carry; symmetrically the "next" anchor
    of every row in run(r) is the first non-null strictly after r.
    Distances are exact small integers as doubles.  A row with a NULL
    ``bucket_start`` has no place on the grid: it generates no row and
    anchors nothing.
    """
    step = tier_seconds(tier)
    if 86400 % step:
        raise ValueError(
            f"gap-fill tier {tier!r}: {step}s does not divide a day, so the "
            "per-day runs would not meet on one bucket grid"
        )
    oc = "bucket_start"
    cols = list(cols)
    w_fwd = Window.partitionBy("conv_id").orderBy(oc)
    w_prev_excl = w_fwd.rowsBetween(Window.unboundedPreceding, -1)
    w_prev_incl = w_fwd.rowsBetween(Window.unboundedPreceding, 0)
    # every look-around frame is a GROWING frame, which Spark evaluates
    # incrementally in O(n); a (1, unboundedFollowing) frame is
    # re-aggregated per row, O(n²), so the "next non-null" leg grows
    # over the REVERSED order
    w_next_excl = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc(oc))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rollup_rest = [c for c in rollup.columns if c not in ("conv_id", oc)]
    sp = rollup
    for c in cols:
        nn = F.when(
            F.col(c).isNotNull() & F.col(oc).isNotNull(),
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
    # BEFORE the ×(day/step) position fan-out
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
        fill_cols.append(F.coalesce(val, vp).alias(f"{c}_locf"))
        any_filled = any_filled | (val.isNull() & filled.isNotNull())
    return g.select(*out_cols, *fill_cols, any_filled.alias("gap_filled"))


def gap_fill_rollup(rollup: DataFrame, tier: str = "1m", limit: int = 1) -> DataFrame:
    """End-to-end: dense grid → counts default 0 → LOCF + linear interp on
    latency features (the §7.1 slice), as one ``interpolate_runs`` plan.

    Skew-safe without a gate: a conversation's window sorts cover only
    its observed rollup rows (at most one per bucket, so ≤1440 per
    conversation-day at 1m), never its dense grid, and the fan-out to the
    grid happens after the ``(conv, day)`` repartition, so a hot
    conversation's grid spreads across tasks by day.  Lazy: no Spark job
    runs until the result is consumed, and the plan reads its input once,
    so nothing is cached.
    """
    return interpolate_runs(rollup, tier, ["latency_avg"], limit=limit)
