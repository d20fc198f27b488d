"""Incremental late-data repair: turns added to the raw table after its
tiers were written (late turns, or a stream epoch's turns, which
streaming/rollup_stream.py feeds here) are reconciled into the tier
tables by recomputing only the partitions their values can reach — not
the table.

Why a bounded unit set is provable
----------------------------------
Every derived row a late turn can change lies in the day interval
``[prev_day, next_day]`` of its conversation, where prev/next are the
nearest days (in the MERGED raw) with any turn for that conversation:

* 1m rollup partials + sketch: day-local aggregates — the late turn's
  own day; plus the lag-latency of its successor turn, which by the
  stable-ordering invariant (turn_idx and ts co-monotone per
  conversation) lives in ``[late_day, next_day]``.
* LOCF: carries the last value forward until the NEXT real point —
  every pure-gap grid day in ``[late_day, next_day]`` changes, nothing
  after the next anchor does.
* limit-k interpolation: filled positions take both run anchors as
  inputs; a late turn splits one gap run in two, so changed positions
  are confined to the runs it touches — days in ``[prev_day, next_day]``.
* grid extension (late turn before the old min / after the old max
  bucket): the new spine days are exactly ``[late_day, next_day]`` /
  ``[prev_day, late_day]``.
* chunks (one struct per conv-day at 1m) and the 1h/1d cascades
  (day-aligned tiers) are day-local re-aggregations of the above.

Physical scope: tier partitions are ``(conv_bucket, ts_day)`` dirs, so
an affected partition is rewritten WHOLE — the recompute therefore reads
the merged raw pruned to the affected ``conv_bucket``s (whole
conversations: the lag spine, gap-fill bounds, and LOCF carries need a
conversation's full history, and conv_bucket is a stored partition
column so the scan prunes), then filters every write down to the
affected ``(conv_bucket, ts_day)`` units.  Dynamic partition overwrite
swaps just those dirs — the same atomic-per-partition commit the normal
pipeline uses.  At 10^12 turns the cost is
O(affected buckets' conversations) + O(affected partitions rewritten),
not O(table).

Checkpoint semantics: the repair certifies the WHOLE table at the new
(merged) snapshot without a data scan — units completed under
``prior_snapshot`` are carried forward (pure checkpoint-table
arithmetic), affected units are committed fresh, and a follow-up
``run_pipeline(resume=True)`` at the merged snapshot is a no-op
(tests/test_repair.py).  Lineage rows for the rewritten units are
recorded under job ``late_repair``.

One scope per run: the repair returns its scope's units under
``"units"``, and ``run_pattern_stage(units=...)`` rewrites the pattern
windows holding them.  A resumed ingest (``run_pipeline``) takes the same
closure, with the turns of its pending units as the late turns, and both
build their tiers through ``write_tiers``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import rollup as R
from more_pattern_extraction_spark.plans import stages as ST
from more_pattern_extraction_spark.plans.checkpoint import CheckpointStore
from more_pattern_extraction_spark.sources import catalog as CAT

JOB = "late_repair"


def affected_units(
    merged_turns: DataFrame, late_turns: DataFrame, n_buckets: int
) -> DataFrame:
    """``(conv_bucket, ts_day)`` units a set of late turns can reach.

    For each late (conv, day): the closed day interval
    [prev present day, next present day] of that conversation in the
    MERGED raw (see module docstring for why values cannot escape it),
    exploded to days.  Pure relational — present-day list per affected
    conversation, a tiny per-conv-day window for prev/next, one
    ``sequence`` explode bounded by the data's real gap lengths.
    """
    late_days = (
        CAT.with_layout_cols(late_turns, n_buckets)
        .select("conv_id", "conv_bucket", "ts_day")
        .distinct()
    )
    # whole conversations of the affected conversations only — their
    # present-day lists; join on conv_id keeps this narrow
    merged_days = (
        CAT.with_layout_cols(merged_turns, n_buckets)
        .join(F.broadcast(late_days.select("conv_id").distinct()), "conv_id")
        .select("conv_id", "conv_bucket", "ts_day")
        .distinct()
    )
    w = Window.partitionBy("conv_id").orderBy("ts_day")
    spans = (
        merged_days.withColumn("prev_day", F.lag("ts_day").over(w))
        .withColumn("next_day", F.lead("ts_day").over(w))
        # one more present day upward: the late turn changes its SUCCESSOR
        # turn's lag latency, and when that successor is the last non-null
        # anchor of next_day, LOCF carries (and interpolation anchored on
        # it) propagate the changed value through the pure-gap run BEYOND
        # next_day, up to the following anchor.  Anchor values after the
        # successor are unchanged, so nothing escapes the next-NEXT
        # present day (ADVICE r06 #1; tests/test_repair.py covers the
        # single-anchor-day + multi-day-gap shape).
        .withColumn("next2_day", F.lead("ts_day", 2).over(w))
        .join(late_days.select("conv_id", "ts_day"), ["conv_id", "ts_day"])
    )
    return (
        spans.select(
            "conv_bucket",
            F.explode(
                F.sequence(
                    F.coalesce("prev_day", "ts_day"),
                    F.coalesce("next2_day", "next_day", "ts_day"),
                    F.expr("interval 1 day"),
                )
            ).alias("ts_day"),
        )
        .distinct()
    )


def scoped_raw(merged_turns: DataFrame, buckets: list[int], n_buckets: int) -> DataFrame:
    """Whole conversations of the affected buckets.  On a cataloged
    transcript table conv_bucket is a STORED partition column — filter
    it before recomputing layout cols, so the scan partition-prunes (a
    filter on the recomputed ``pmod(xxhash64(..))`` expression would not
    reach the file index; PLANS.md §repair shows the pruned scan +
    tests/test_plans.py pins it).  On a raw frame without the column
    it's a pushed predicate instead."""
    if "conv_bucket" in merged_turns.columns:
        src = merged_turns.filter(F.col("conv_bucket").isin(buckets))
    else:
        src = merged_turns
    return CAT.with_layout_cols(src, n_buckets).filter(
        F.col("conv_bucket").isin(buckets)
    )


def write_tiers(turns: DataFrame, scope: ST.Scope, out_root: str, n_buckets: int,
                latency_col: str | None) -> None:
    """Write the tier stages of ``scope`` from the raw turns: the whole
    conversations of its buckets (all of ``turns`` for the every-unit
    scope) → ``turn_features`` → layout columns → ``run_stages``.  A turn
    with a NULL ``ts`` has no ``ts_day``, so it belongs to no unit and no
    stage writes it (its successor still takes a NULL lag latency)."""
    raw = turns if scope.buckets is None else scoped_raw(turns, scope.buckets, n_buckets)
    feats = CAT.with_layout_cols(R.turn_features(raw, latency_col=latency_col), n_buckets)
    ST.run_stages(ST.TIER_STAGES, {"feats": feats.filter(F.col("ts_day").isNotNull())},
                  scope, out_root, n_buckets)


def repair_late_turns(
    spark: SparkSession,
    merged_turns: DataFrame,
    late_turns: DataFrame,
    out_root: str,
    input_snapshot: str,
    prior_snapshot: str | None = None,
    n_buckets: int = 32,
    latency_col: str | None = None,
    retention: dict[str, str] | None = None,
) -> dict:
    """Reconcile late-arriving turns into the tier tables in place.

    ``merged_turns`` must be the raw table WITH the late turns applied
    (on a real ingest the transcript table already contains them — this
    is the same frame a cold rerun would read); ``late_turns`` is just
    the late subset, used only to bound the recompute.  After the
    repair, every tier table is bit-identical to a cold full run on
    ``merged_turns`` (tests/test_repair.py proves it per table) and the
    checkpoint table certifies ``input_snapshot`` completely.

    ``retention`` (same shape as ``run_pipeline``'s, tier → horizon): every
    affected unit is recomputed whatever its age, as a cold run does, and
    ``stages.retire`` then drops what is past a horizon.  By design, a
    rewritten unit's gap-fill values whose LOCF or interpolation anchor
    lies in a day dropped earlier, outside the scope, are recomputed from
    the RETAINED 1m tier: they match a cold run on the retained data, not
    on all-time data — the same thing any engine must choose once source
    rows are deleted by policy.
    """
    t0 = time.time()
    cp = CheckpointStore(spark, out_root)

    # the late turns are counted by the collect that bounds them
    late = Observation()
    scope = ST.Scope(spark, affected_units(
        merged_turns, late_turns.observe(late, F.count(F.lit(1)).alias("n")), n_buckets
    ).collect())
    write_tiers(merged_turns, scope, out_root, n_buckets, latency_col)
    ST.retire(out_root, retention)

    # --- checkpoint: certify the merged snapshot without a data scan -------
    # the prior snapshot's completed units are carried forward, so a
    # follow-up run_pipeline(resume=True) at the merged snapshot no-ops
    # even when every late unit was outside the retention horizon
    carried = set()
    if prior_snapshot is not None:
        carried = cp.completed(ST.PIPELINE_JOB, "1m", prior_snapshot) - set(scope.units)
    ST.certify(cp, scope, out_root, JOB, input_snapshot, carried)

    m = {
        "wall_s": time.time() - t0,
        "late_turns": float(late.get["n"]),
        "units_repaired": float(len(scope.units)),
        "units_carried": float(len(carried)),
        "buckets_touched": float(len(scope.buckets)),
    }
    cp.record_metrics(JOB, **m)
    return {**m, "units": scope.units}
