"""The end-to-end rollup/downsample/retention job (north rule), runnable
via ``spark-submit --py-files mpe.zip -m`` or directly:

    python -m more_pattern_extraction_spark.plans.pipeline \
        --input /root/testdata/sf0.1/events.parquet --output /tmp/mpe_out \
        --cores 32

The stages are declared once, in ``plans/stages.py``: ``TIER_STAGES``
(1m rollup + sketch → KMV partials → gap-fill → chunks → 1h → 1d) and
``run_patterns`` (one MP → discords → FLUSS regimes pass).  ``run_pipeline``
writes the tier stages under one ``Scope`` of ``(conv_bucket, ts_day)``
units: every unit when every unit of the input is pending (a cold
ingest, a new snapshot, ``resume=False``), else the
``repair.affected_units`` closure of the pending units' turns.  Every
run, a no-op resume included, then drops the partitions past each tier's
retention horizon (``stages.retire``), records a lineage row and a
checkpoint per pending unit and a metrics row (wall s, turns/s).

Resume: a second invocation with the same input snapshot finds every
unit in the checkpoint table and does nothing; a partially-complete run
computes the missing units and rewrites only the committed partitions
their turns can reach (tests/test_pipeline.py proves resume == cold run
and that every other partition keeps its file).
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import repair as RP
from more_pattern_extraction_spark.plans import stages as ST
from more_pattern_extraction_spark.plans.checkpoint import CheckpointStore
from more_pattern_extraction_spark.sources import catalog as CAT

JOB = ST.PIPELINE_JOB


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    out_root: str,
    input_snapshot: str,
    n_buckets: int = 32,
    latency_col: str | None = None,
    retention: dict[str, str] | None = None,
    resume: bool = True,
) -> dict:
    """Returns run metrics dict.  ``turns``: the transcript-shaped input."""
    t0 = time.time()
    cp = CheckpointStore(spark, out_root)

    # one collect of the tiny unit list, each unit with its turn count,
    # from the raw turns (turn_features neither adds nor drops a row, and
    # its gate probe is a job a no-op resume need not run); the
    # checkpoints are subtracted on the driver.  A turn with a NULL ts
    # has no ts_day, so it belongs to no unit
    rows = (
        CAT.with_layout_cols(turns, n_buckets)  # conv_bucket, ts_day
        .filter(F.col("ts_day").isNotNull())
        .groupBy("conv_bucket", "ts_day")
        .agg(F.count(F.lit(1)).alias("turns"))
        .collect()
    )
    todo = cp.pending_units(rows, JOB, "1m", input_snapshot) if resume else rows
    n_units = len(rows)

    pending = ST.Scope(spark, [(r["conv_bucket"], r["ts_day"]) for r in todo])
    if todo:
        scope = ST.Scope(spark)
        if len(todo) < n_units:
            # a resume rewrites what its pending turns can reach, as a
            # repair rewrites what its late turns can
            pending_turns = pending.only(CAT.with_layout_cols(turns, n_buckets))
            scope = ST.Scope(spark, RP.affected_units(turns, pending_turns, n_buckets).collect())
        RP.write_tiers(turns, scope, out_root, n_buckets, latency_col)
    ST.retire(out_root, retention)
    ST.certify(cp, pending, out_root, JOB, input_snapshot)

    n_turns = sum(r["turns"] for r in todo)
    wall = time.time() - t0
    m = {
        "wall_s": wall,
        "turns": float(n_turns),
        "turns_per_s": (n_turns / wall) if wall > 0 else 0.0,
        "units_total": float(n_units),
        "units_done": float(len(todo)),
        "units_skipped": float(n_units - len(todo)),
    }
    cp.record_metrics(JOB, **m)
    return m


def run_pattern_stage(
    spark: SparkSession,
    out_root: str,
    n_buckets: int = 32,
    m: int = 120,
    window: str = "week",
    k: int = 2,
    units=None,
) -> dict:
    """Pattern-extraction stage over the persisted gap-filled grid (north
    star: the reference's motif/discord + segmentation pipeline as
    continuous aggregates): per-(conversation, week) matrix profile,
    top-k discords and FLUSS regimes, all written as queryable partitioned
    tables.  Window-keying bounds every task for hot conversations; one
    grouped pass computes all three, and the tables are projections of
    its persisted output, so nothing is re-read or recounted.

    ``units``: the ``(conv_bucket, ts_day)`` tier units a run rewrote
    (``repair_late_turns(...)["units"]``), or ``None`` for every window.
    They map on the driver to the ``(conv_bucket, window start)`` pattern
    partitions holding them (``stages.window_start``), and only those are
    recomputed.  Why that set is exact: the window-keyed matrix profile
    is WINDOW-LOCAL — each (conv, window) group is computed from that
    window's grid rows only (that is what bounds tasks for hot
    conversations) — and a repair changes filled-grid rows only inside
    its units (``plans/repair.py`` module docstring).  So the pattern
    partitions that can change are exactly the windows covering those
    units; discords and regimes are per-(conv, window) reductions of the
    MP and inherit the same set.  The grid is RESTRICTED to those windows
    before the MP kernel runs (not filtered after), so the recompute cost
    is O(affected windows), and every output row lands in an affected
    partition — dynamic overwrite touches nothing else."""
    t0 = time.time()
    scope = ST.Scope(spark)
    if units is not None:
        scope = ST.Scope(spark, {(b, ST.window_start(d, window)) for b, d in units})
    counts = ST.run_patterns(scope, out_root, n_buckets, m, window, k)
    out = {"pattern_wall_s": time.time() - t0, **counts}
    if units is not None:
        out["windows_repaired"] = float(len(scope.units))
    CheckpointStore(spark, out_root).record_metrics("pattern_stage", **out)
    return out


def main() -> None:
    from more_pattern_extraction_spark.session import get_spark
    from more_pattern_extraction_spark.sources.transcripts import events_as_transcripts

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="events.parquet or transcripts dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--patterns", action="store_true",
                    help="also run the MP/discord/regime pattern stage")
    ap.add_argument("--mp-window", default="week")
    ap.add_argument("--mp-m", type=int, default=120)
    args = ap.parse_args()

    spark = get_spark("rollup_pipeline", cores=args.cores)
    if args.input.endswith("events.parquet"):
        turns = events_as_transcripts(spark, args.input.rsplit("/", 1)[0])
        latency_col = "latency"
    else:
        turns = spark.read.parquet(args.input)
        latency_col = None
    snap = CAT.snapshot_id(args.input)
    m = run_pipeline(
        spark, turns, args.output, snap,
        n_buckets=args.n_buckets, latency_col=latency_col,
        resume=not args.no_resume,
    )
    if args.patterns:
        m.update(run_pattern_stage(
            spark, args.output, n_buckets=args.n_buckets,
            m=args.mp_m, window=args.mp_window,
        ))
    print({k: round(v, 2) for k, v in m.items()})
    spark.stop()


if __name__ == "__main__":
    main()
