"""The tier DAG, declared once, the runner every entry point shares, and
the pattern pass.

Each stage is one row of data: the table it writes, the frame it reads,
its build, its retention tier, the sort order of its files, its scope
rule and the column its ``ts_day`` layout column derives from.
``run_stages`` builds each stage, adds the layout columns, restricts it
to a ``Scope`` and writes it; a table some later stage reads is read back
ONCE, right after its write.

Tier stages (``run_pipeline``, ``repair_late_turns``)::

    feats ─▶ rollup_1m (+ latency sketch) ─┬▶ distinct_1m   (KMV partials)
                                           ├▶ rollup_1m_filled (gap-fill)
                                           ├▶ chunks_1m     (DoD/Gorilla)
                                           └▶ rollup_1h ─▶ rollup_1d

Pattern pass (``run_patterns``, run by ``run_pattern_stage``)::

    rollup_1m_filled ─▶ window_patterns (persisted) ─┬▶ mp_{window}
                                                     ├▶ discords
                                                     └▶ regimes

One grouped UDF per ``(conv_id, window)`` computes the profile, the
discords and the regime changes; the three tables are projections of its
one frame, laid out by ``(conv_bucket, window)`` keyed on the window's
first day, so a scope of those units restricts the grid before the UDF.

One ``Scope`` decides what a run rewrites: every unit on a cold ingest,
else the ``repair.affected_units`` closure of the run's pending or late
turns, and for the pattern pass the windows holding that closure's
units (``window_start``).

``retire`` is the one retention step: ingest and repair call it after
their writes, and it drops each tier table's partitions past its stage's
tier horizon, whatever wrote them, and the pattern partitions whose whole
window lies before the 1m horizon.

Scope rules:

* ``UNIT``: the stage is local to a ``(conv_bucket, ts_day)`` unit, so
  its input is restricted to the scope's units and it writes exactly
  those partitions.
* ``CONV``: the stage needs whole conversations (gap-fill: LOCF carries
  and interpolation anchors cross days).  It reads its scope's whole
  conversations and writes the scope's units, on every entry point.

Every persisted tier carries the mergeable latency sketch map and its
derived p95 next to the percentile-of-averages ``latency_p95``: the
coarser tiers merge the STORED map, so raw latencies are scanned once, at
the finest tier.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta
from itertools import groupby
from operator import itemgetter
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import chunks as CH
from more_pattern_extraction_spark.operators import distinct as DK
from more_pattern_extraction_spark.operators import gapfill as G
from more_pattern_extraction_spark.operators import matrix_profile as MP
from more_pattern_extraction_spark.operators import rollup as R
from more_pattern_extraction_spark.operators import sketch as SK
from more_pattern_extraction_spark.plans.checkpoint import CheckpointStore, content_hash
from more_pattern_extraction_spark.sources import catalog as CAT

PIPELINE_JOB = "rollup_pipeline"
UNIT = "unit"
CONV = "conversation"
LINEAGE_COLS = ["conv_id", "bucket_start", "turn_cnt", "latency_cnt"]


@dataclass(frozen=True)
class Stage:
    table: str
    src: str  # "feats", or a table an earlier stage wrote
    build: Callable[[DataFrame], DataFrame]  # src frame -> rows
    tier: str  # retention key: ``retire`` drops partitions past its horizon
    sort_cols: tuple[str, ...] = ()
    rule: str = UNIT
    time_col: str = "bucket_start"  # ts_day = this column's day


def _rollup_1m(feats: DataFrame) -> DataFrame:
    return SK.attach_sketch_p95(
        R.rollup_from_raw(feats, "1m"), SK.sketch_from_raw(feats, "1m"), keep_sketch=True
    )


def _kmv_1m(r1m: DataFrame) -> DataFrame:
    # per-(conv_bucket, minute) PARTIAL KMV sketches: a conversation
    # hashes to one bucket, so the partials of a minute are disjoint and
    # kmv_cascade over the stored table recovers the GLOBAL sketch at any
    # tier exactly.  Built from the 1m tier, which already holds one row
    # per (conv, minute): the raw-scan distinct (~60 % of a rollup stage)
    # is amortized into the rollup aggregation
    return DK.kmv_from_rollup(
        r1m.select("conv_bucket", "bucket_start", "conv_id"), part_cols=("conv_bucket",)
    )


def _cascade(tier: str, from_tier: str) -> Callable[..., DataFrame]:
    def build(base: DataFrame) -> DataFrame:
        return SK.attach_sketch_p95(
            R.cascade(base, tier, from_tier=from_tier),
            SK.sketch_cascade(base.select("conv_id", "bucket_start", "latency_sketch"), tier),
            keep_sketch=True,
        )

    return build


TIER_STAGES = (
    Stage("rollup_1m", "feats", _rollup_1m, "1m", ("conv_id", "bucket_start")),
    Stage("distinct_1m", "rollup_1m", _kmv_1m, "1m", ("bucket_start",)),
    Stage("rollup_1m_filled", "rollup_1m", lambda r1m: G.gap_fill_rollup(r1m, "1m"), "1m",
          ("conv_id", "bucket_start"), rule=CONV),
    Stage("chunks_1m", "rollup_1m",
          lambda r1m: CH.encode_chunks(r1m, ["latency_avg", "latency_sum"], "1m"), "1m",
          ("conv_id", "ts_bucket"), time_col="ts_bucket"),
    Stage("rollup_1h", "rollup_1m", _cascade("1h", "1m"), "1h", ("conv_id", "bucket_start")),
    Stage("rollup_1d", "rollup_1h", _cascade("1d", "1h"), "1d", ("conv_id", "bucket_start")),
)


class Scope:
    """The ``(conv_bucket, ts_day)`` units one run writes.

    ``units=None`` means every unit.  Otherwise reads cover the whole
    conversations of the units' buckets, and every stage writes just the
    units: ingest and repair seed them from ``repair.affected_units``,
    the pattern pass maps them to windows.  A scope knows no retention:
    its units are written whatever their age, and ``retire`` drops them
    afterwards when they are past a horizon.

    The unit list is small and local, so the restriction is a predicate
    on the partition columns, one branch per bucket: a stored table's
    scan prunes to the units' files, and no frame is shipped to the
    executors."""

    def __init__(self, spark: SparkSession, units=None):
        self.spark = spark
        self.units = self.buckets = self.where = None
        if units is not None:
            self.units = sorted((b, d) for b, d in units)
            self.buckets = sorted({b for b, _d in self.units})
            self.where = F.lit(False)
            for b, unit in groupby(self.units, key=itemgetter(0)):
                days = [d for _b, d in unit]
                self.where |= (F.col("conv_bucket") == b) & F.col("ts_day").isin(days)

    def only(self, df: DataFrame) -> DataFrame:
        """Restrict a layout-columned frame to the scope's units (a write
        then overwrites exactly those partition dirs)."""
        return df if self.where is None else df.filter(self.where)

    def read(self, root: str, table: str) -> DataFrame:
        """The scope's whole conversations of a stored table; conv_bucket is
        a stored partition column, so the bucket filter prunes the scan."""
        df = CAT.read_table(self.spark, root, table)
        return df if self.buckets is None else df.filter(F.col("conv_bucket").isin(self.buckets))


def run_stages(stages, frames: dict[str, DataFrame], scope: Scope, root: str,
               n_buckets: int) -> None:
    """Build and write ``stages`` in order under ``scope``.  ``frames``
    holds the source frame (``feats``); each table a later
    stage reads is added to it, read back once.  The read-back holds the
    scope's whole conversations: days outside the scope keep their old,
    value-identical rows, so downstream stages see one consistent table.
    An empty scope writes nothing."""
    if scope.units == []:
        return
    consumed = {st.src for st in stages}
    for st in stages:
        src = frames[st.src]
        out = st.build(scope.only(src) if st.rule == UNIT else src)
        out = CAT.with_layout_cols(out, n_buckets, st.time_col)
        if st.rule == CONV:
            out = scope.only(out)
        CAT.write_partitioned(out, root, st.table, sort_cols=st.sort_cols)
        if st.table in consumed:
            frames[st.table] = scope.read(root, st.table)


def retire(root: str, retention: dict[str, str] | None) -> None:
    """Drop each tier table's ``ts_day`` partitions older than its
    stage's tier horizon in ``retention`` (tier → horizon); a filesystem
    drop, so tier horizons are day-aligned by policy.

    The pattern tables follow the 1m horizon, which bounds the grid they
    are computed from: an ``mp_{window}`` partition is keyed on its
    window's first day, so it goes when its whole window lies before the
    horizon, ``ts_day < window_start(horizon, window)``.  ``discords`` and
    ``regimes`` hold the windows of every ``mp_`` table and take the
    earliest of their cuts."""
    retention = retention or {}
    for st in TIER_STAGES:
        if st.tier in retention:
            CAT.drop_partitions_before(root, st.table, retention[st.tier])
    if "1m" not in retention or not os.path.isdir(root):
        return
    horizon = date.fromisoformat(retention["1m"][:10])
    cuts = {t: window_start(horizon, t[len("mp_"):])
            for t in os.listdir(root) if t.startswith("mp_")}
    for t, cut in cuts.items():
        CAT.drop_partitions_before(root, t, cut.isoformat())
    if cuts:
        for t in ("discords", "regimes"):
            CAT.drop_partitions_before(root, t, min(cuts.values()).isoformat())


def window_start(day: date, window: str) -> date:
    """The layout day of the ``window`` holding ``day``: the date of
    ``F.date_trunc(window, day)``, computed on the driver.  A day or
    sub-day window starts on the day itself."""
    w = window.lower()
    if w == "year":
        return day.replace(month=1, day=1)
    if w == "quarter":
        return day.replace(month=day.month - (day.month - 1) % 3, day=1)
    if w == "month":
        return day.replace(day=1)
    if w == "week":
        return day - timedelta(days=day.weekday())
    if w in ("day", "hour", "minute", "second"):
        return day
    raise ValueError(f"no driver-side start for window {window!r}")


def run_patterns(scope: Scope, root: str, n_buckets: int, m: int, window: str,
                 k: int) -> dict[str, float]:
    """Write the pattern tables of the scope's ``(conv_bucket, window)``
    units from one ``window_patterns`` pass over the gap-filled latency
    grid, laid out by window so a window scope restricts it like any unit
    scope.  The pass is persisted once; ``mp_{window}``, ``discords``
    and ``regimes`` are its projections, and the first write observes the
    three row counts, which are returned.  An empty scope writes
    nothing."""
    if scope.units == []:
        return {"mp_rows": 0.0, "discord_rows": 0.0, "regime_rows": 0.0}
    grid = scope.read(root, "rollup_1m_filled").select(
        "conv_id",
        "bucket_start",
        F.coalesce("latency_avg_filled", "latency_avg_locf", F.lit(0.0)).alias(
            "latency_avg_filled"
        ),
        F.date_trunc(window, "bucket_start").alias("win"),
    )
    grid = scope.only(CAT.with_layout_cols(grid, n_buckets, "win"))
    pat = MP.window_patterns(grid.drop(*CAT.PARTITION_COLS), m, k)
    pat = CAT.with_layout_cols(pat, n_buckets, "win").persist()
    obs, layout = Observation(), CAT.PARTITION_COLS
    try:
        CAT.write_partitioned(
            pat.observe(obs, F.count(F.lit(1)).alias("mp_rows"),
                        F.count("discord_rank").alias("discord_rows"),
                        F.count("cac").alias("regime_rows"))
            .select("conv_id", "pos", "mp", "pi", "win", *layout),
            root, f"mp_{window}")
        CAT.write_partitioned(
            pat.filter(F.col("discord_rank").isNotNull())
            .select("conv_id", "win", "discord_rank", "pos", "distance", *layout),
            root, "discords")
        CAT.write_partitioned(
            pat.filter(F.col("cac").isNotNull())
            .select("conv_id", "win", F.lit(m).alias("L"), F.col("pos").alias("regime_pos"),
                    "cac", *layout),
            root, "regimes")
    finally:
        pat.unpersist()
    return {name: float(n) for name, n in obs.get.items()}


def certify(cp: CheckpointStore, scope: Scope, root: str, lineage_job: str,
            input_snapshot: str, carried=()) -> None:
    """Record lineage for the scope's units of the stored 1m tier, then
    commit them, and the ``carried`` units, under ``input_snapshot``."""
    if scope.units:
        r1m = scope.only(scope.read(root, "rollup_1m"))
        cp.record_lineage(lineage_job, "1m", input_snapshot, content_hash(r1m, LINEAGE_COLS))
    if scope.units or carried:
        cp.commit(scope.units + sorted(carried), PIPELINE_JOB, "1m", input_snapshot)
