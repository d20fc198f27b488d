"""As-of join: point-in-time enrichment of a turn stream.

For every left row, attach the LATEST right row of the same key with
``r.ts <= l.ts`` (backward, inclusive — the semantics of DuckDB/kdb
``ASOF JOIN`` and pandas ``merge_asof``): "which config/model-version/
experiment arm was active when this turn happened".  Spark has no native
as-of join; the usual workarounds — a range join (quadratic blowup on
hot keys) or a windowed subquery per left row — don't survive 10^12
turns.

This implementation is the union-tag + running-LOCF form:

    tag right rows side=0 (payload), left rows side=1 (nulls),
    union → ONE shuffle on the key →
    last(payload, ignorenulls) over (key ORDER BY ts, side
                                     ROWS UNBOUNDED PRECEDING..CURRENT) →
    keep left rows.

Cost: one Exchange on the key (plan-shape test), no row amplification
(|L| + |R| rows total), whole-stage-codegen window — the same shape as
the engine's lag features (rollup.turn_features), including the same
hot-key hazard: one conversation's rows sort on one task.  Like the lag,
the operator therefore has a segmented (key, day) block-carry form too,
picked by the shared hot-key gate (plans/partitioning.HOT_KEY_ROWS;
see ``asof_join``).  Right rows sort
BEFORE left rows at equal timestamps (side 0 < 1), which is what makes
the match inclusive.  Determinism: the caller must provide at most one
right row per (key, ts) — dedupe upstream (e.g. ``groupBy(key,
ts).agg(max_by(...))``) — otherwise "latest" among exact ties is
order-dependent in ANY engine's as-of join.

``tolerance_s`` bounds staleness (pandas merge_asof ``tolerance``): a
match older than the bound nulls out instead of enriching.

Oracle: DuckDB ships native ``ASOF LEFT JOIN``, so driver rows verify
these semantics value-level against an independent implementation.

Reference analogue: none (the reference joins in pandas RAM, e.g. label
alignment in ``/root/reference/modules/underperformance_estimator.py``);
the operator is the scale form of the same enrichment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import partitioning as P


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_cols: list[str] | None = None,
    tolerance_s: int | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Backward-inclusive as-of left join (module docstring).

    Returns every ``left`` column plus, for each payload column ``c``,
    ``c{suffix}`` (NULL when no right row precedes the left row — or
    none within ``tolerance_s``) and ``{right_ts}{suffix}`` (the matched
    right timestamp).

    **Skew**: the plain form sorts a key's ENTIRE union stream on one
    task (the r06 skew harness measured 59.9 s vs 8.4 s uniform on a
    91 %-hot input).  The segmented form windows per (key, day) instead
    and carries the one cross-day value each day needs — the previous
    days' last non-null payload, PER COLUMN, matching the running
    ``last ignorenulls`` — via a per-(key, day) summary joined back on
    (key, day), which never hot-keys.  Both forms are value-equal
    (property test, tests/test_asof.py).

    **Gate**: the witness is the largest per-key row count of the union
    of both sides — exactly what the plain window sorts
    (plans/partitioning.max_group_rows, one job at plan-build time); the
    segmented form runs when it reaches ``HOT_KEY_ROWS``.  A key with
    more rows than that inside one day still serializes that day.
    """
    on = [on] if isinstance(on, str) else list(on)
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in (*on, right_ts)]
    left_rest = [c for c in left.columns if c not in on]
    # suffixed output names colliding with existing left columns (e.g.
    # re-enriching an already-enriched frame) would silently produce
    # ambiguous/duplicate columns downstream — fail loudly instead
    # (ADVICE r06 #5)
    clash = sorted(
        ({f"{c}{suffix}" for c in payload_cols} | {f"{right_ts}{suffix}"})
        & set(left.columns)
    )
    if clash:
        raise ValueError(
            f"asof_join: output column(s) {clash} already exist on the left "
            f"frame — pass a different suffix (current: {suffix!r})"
        )

    r_side = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("_rts"),
        *[F.col(c).alias(f"{c}{suffix}") for c in payload_cols],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_rest
        ],
    )
    l_side = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_rts"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
            for c in payload_cols
        ],
        *left_rest,
    )
    u = r_side.unionByName(l_side)

    if P.max_group_rows(u, *on) >= P.HOT_KEY_ROWS:
        # one never-NULL (key, day) block key (plans/partitioning): NULL
        # keys and NULL-ts rows meet their carry, and the block window
        # reuses the join's exchange
        blk = F.struct(*on, F.date_trunc("day", "_ts").alias("_b"))
        u = u.withColumn("_blk", blk)
        fill_src = ["_rts", *[f"{c}{suffix}" for c in payload_cols]]
        # per-(key, day) last non-null occurrence of each carried
        # column, in (ts, side) order — max_by ignores rows whose
        # ordering struct is NULL, i.e. rows where the column is null
        summ = u.groupBy("_blk").agg(
            *[
                F.max_by(
                    F.col(c),
                    F.when(F.col(c).isNotNull(), F.struct("_ts", "_side")),
                ).alias(f"_bl_{c}")
                for c in fill_src
            ]
        )
        w_blk = (
            Window.partitionBy(*[f"_blk.{k}" for k in on])
            .orderBy("_blk._b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        summ = summ.select(
            "_blk",
            *[
                F.last(f"_bl_{c}", ignorenulls=True)
                .over(w_blk)
                .alias(f"_carry_{c}")
                for c in fill_src
            ],
        )
        u = u.join(summ, "_blk")
        w = (
            Window.partitionBy("_blk")
            .orderBy("_ts", "_side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched_ts = F.coalesce(
            F.last("_rts", ignorenulls=True).over(w), F.col("_carry__rts")
        )
        filled = {
            c: F.coalesce(
                F.last(f"{c}{suffix}", ignorenulls=True).over(w),
                F.col(f"_carry_{c}{suffix}"),
            )
            for c in payload_cols
        }
    else:
        w = (
            Window.partitionBy(*on)
            .orderBy("_ts", "_side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched_ts = F.last("_rts", ignorenulls=True).over(w)
        filled = {
            c: F.last(f"{c}{suffix}", ignorenulls=True).over(w)
            for c in payload_cols
        }
    if tolerance_s is not None:
        fresh = matched_ts >= (
            F.col("_ts") - F.expr(f"INTERVAL {int(tolerance_s)} SECONDS")
        )
        filled = {c: F.when(fresh, e) for c, e in filled.items()}
        matched_ts = F.when(fresh, matched_ts)

    out = u.withColumns(
        {f"{c}{suffix}": e for c, e in filled.items()}
        | {f"{right_ts}{suffix}": matched_ts}
    )
    return out.filter(F.col("_side") == 1).select(
        *on, *left_rest,
        *[f"{c}{suffix}" for c in payload_cols],
        f"{right_ts}{suffix}",
    )
