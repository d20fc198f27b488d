"""Structured-Streaming feed of the tier DAG (SURVEY §2.9: the reference
is batch-only; this is the path for live transcript feeds).

``readStream`` over a transcript source → one ``foreachBatch`` sink
(``stream_rollup_to_table``).  Each micro-batch epoch

1. appends its raw turns to the ``transcripts`` table under ``out_root``
   as ``epoch=<id>/conv_bucket=<b>/ts_day=<d>/``, written to
   ``_tmp_epoch_<id>`` and ``os.rename``d into place (atomic on one
   filesystem), so a reader never sees part of an epoch;
2. runs ``plans.repair.repair_late_turns`` with the committed table as
   the merged turns and the epoch's dir as the late turns, at snapshot
   ``epoch=<id>`` carried forward from the previous non-empty epoch.

The repair is the scoped run: it rewrites the tier units the epoch's
turns can reach, bit-equal to a cold ``run_pipeline`` on every turn the
table holds, and certifies the whole table in the ledger.  So the
stream's tiers are the batch tiers, lag latency and every downstream
tier included, and a turn older than what the stream has seen is
repaired, not dropped.  The sink holds no state: no watermark, no
stateful operator.

Exactly-once per epoch, keyed on the epoch id:

* an epoch whose dir exists, or whose id a compaction manifest absorbed,
  is not appended again (a restart re-delivers the last uncommitted
  batch; a fresh stream checkpoint replays every file, and must use the
  same trigger settings so that files map to the same epoch ids);
* an epoch whose snapshot has checkpoint rows is not repaired again.  A
  crash between the append and the ledger commit re-runs the repair from
  the committed dir, which rewrites the same units with the same rows.

Why the epoch layout stays: plain Parquet has no idempotent append, and
the tmp-and-rename epoch dir is that append (Iceberg replaces it with a
snapshot commit).  ``compact_stream_tier`` merges certified epoch dirs,
so a per-minute trigger's 1,440 epoch dirs a day do not become small
files.

Measured on the ``transcripts`` test fixture (920 turns) split at its
``ts`` tertiles into three files of about 306 turns, one file an epoch
(``maxFilesPerTrigger=1``), 8 buckets, ``local[4]`` on a 4-core VM: the
epochs took 14.4 s (the first, which includes warm-up), 8.5 s and 7.6 s,
and each ran 39 Spark jobs (2 for the append, 37 for the repair of its
7–9 units); a cold ``run_pipeline`` on all the turns took 6.9 s, and a
replayed epoch runs no job.  So at this size the scoped run serves a
1-minute trigger, the 1m tier's own resolution, with room to spare; a
trigger under about 10 s would fall behind.  Larger inputs are not
measured.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import repair as RP
from more_pattern_extraction_spark.plans import stages as ST
from more_pattern_extraction_spark.plans.checkpoint import CheckpointStore
from more_pattern_extraction_spark.sources import catalog as CAT

RAW_TABLE = "transcripts"
_LAYOUT_DDL = "epoch int, conv_bucket int, ts_day date"


def stream_rollup_to_table(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    out_root: str,
    latency_col: str | None = None,
    n_buckets: int = 32,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Stream the transcript files under ``source_dir`` (DDL ``schema``)
    into the raw table and the tier tables under ``out_root`` (module
    docstring), until every available file is processed.  Returns the
    query handle."""
    table = CAT.table_path(out_root, RAW_TABLE)
    os.makedirs(table, exist_ok=True)
    cp = CheckpointStore(spark, out_root)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        final, absorbed = os.path.join(table, f"epoch={epoch_id}"), _absorbed_ids(table)
        if not os.path.exists(final) and epoch_id not in absorbed:
            tmp = os.path.join(table, f"_tmp_epoch_{epoch_id}")
            shutil.rmtree(tmp, ignore_errors=True)
            (
                CAT.with_layout_cols(batch_df, n_buckets)
                .repartition(*CAT.PARTITION_COLS)
                .write.mode("overwrite")
                .partitionBy(*CAT.PARTITION_COLS)
                .parquet(tmp)
            )
            if not any(e.startswith("conv_bucket=") for e in os.listdir(tmp)):
                shutil.rmtree(tmp)  # an empty epoch appends nothing
                return
            os.rename(tmp, final)
        snapshot = f"epoch={epoch_id}"
        if cp.completed(ST.PIPELINE_JOB, "1m", snapshot):
            return
        prior = [e for e in _epoch_ids(table) | absorbed if 0 <= e < epoch_id]
        turns = read_stream_turns(spark, out_root, schema)
        RP.repair_late_turns(
            spark, turns.drop("epoch"), turns.filter(F.col("epoch") == epoch_id).drop("epoch"),
            out_root, input_snapshot=snapshot,
            prior_snapshot=f"epoch={max(prior)}" if prior else None,
            n_buckets=n_buckets, latency_col=latency_col,
        )

    stream = spark.readStream.schema(schema)
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = stream.parquet(source_dir).writeStream.foreachBatch(_sink).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return q


def _epoch_ids(table: str) -> set[int]:
    """Ids of the committed ``epoch=<id>`` dirs (negative: compaction
    generations)."""
    return {int(e.split("=", 1)[1]) for e in os.listdir(table) if e.startswith("epoch=")}


def _absorbed_ids(table: str) -> set[int]:
    """Epoch ids absorbed by committed compaction generations: the union
    of the ``_absorbs.json`` manifests inside every ``epoch=<gen>`` dir
    (written by ``compact_stream_tier`` INSIDE the tmp dir, so the
    manifest commits atomically with the generation's rename)."""
    absorbed: set[int] = set()
    for e in os.listdir(table):
        man = os.path.join(table, e, "_absorbs.json")
        if e.startswith("epoch=") and os.path.exists(man):
            with open(man) as f:
                absorbed.update(json.load(f))
    return absorbed


def read_stream_turns(spark: SparkSession, out_root: str, schema: str | None = None) -> DataFrame:
    """The stream's raw turns: the committed epochs of the raw table, with
    their ``epoch`` lineage column.  In-flight ``_tmp_epoch_*`` dirs are
    invisible: ``epoch=<id>`` only exists post-rename.  Epochs named in a
    committed compaction manifest are filtered out even if their dirs
    still exist (the crash window between a generation's rename and the
    source-dir deletion): a partition-pruning NOT IN on the epoch column,
    so absorbed dirs contribute no input splits.  With the stream's DDL
    ``schema`` the read plans without a schema-inference job."""
    table = CAT.table_path(out_root, RAW_TABLE)
    if not _epoch_ids(table):
        raise FileNotFoundError(f"no committed epochs under {table}")
    reader = spark.read if schema is None else spark.read.schema(f"{schema}, {_LAYOUT_DDL}")
    df = reader.parquet(table)
    absorbed = _absorbed_ids(table)
    return df.filter(~F.col("epoch").isin(sorted(absorbed))) if absorbed else df


def compact_stream_tier(spark: SparkSession, out_root: str) -> dict:
    """Merge the raw table's certified epoch dirs into one compaction
    generation: the stream's small-file maintenance job (Iceberg calls
    this ``rewrite_data_files``).  An epoch the ledger has not certified
    stays: its dir is the input of the repair that a restart re-runs.

    Crash-safe commit protocol (single atomic rename, like the sink):

    1. snapshot the LIVE epoch ids (certified or generation dirs minus
       already-absorbed);
    2. write their union to a tmp dir partitioned by
       ``(conv_bucket, ts_day)`` with the hash write distribution;
    3. drop ``_absorbs.json`` (the live id list) INSIDE the tmp dir;
    4. ``os.rename`` tmp → ``epoch=<gen>`` (gen = next negative int —
       stream batch ids are non-negative, so generations never collide);
    5. delete the absorbed source dirs.

    A crash before (4) leaves only an invisible tmp.  A crash between
    (4) and (5) leaves both the generation and its sources — readers
    filter absorbed ids via the manifest (no double counting) and the
    sink treats manifested ids as committed (no replay duplicates);
    rerunning the compaction finishes the deletes because absorbed ids
    are excluded from the next snapshot.  Re-compaction folds earlier
    generations in (their rows carry the generation's epoch id, which
    becomes absorbed in turn).
    """
    table = CAT.table_path(out_root, RAW_TABLE)
    absorbed = _absorbed_ids(table)
    present = _epoch_ids(table)
    # finish a crashed previous compaction first: absorbed dirs still on
    # disk are stale duplicates of a committed generation
    for e in sorted(present & absorbed):
        shutil.rmtree(os.path.join(table, f"epoch={e}"))
    cp = CheckpointStore(spark, out_root)
    live = sorted(e for e in present - absorbed
                  if e < 0 or cp.completed(ST.PIPELINE_JOB, "1m", f"epoch={e}"))
    if len(live) <= 1:
        return {"compacted": 0, "generation": None}

    gen = min(min(live), 0) - 1
    df = read_stream_turns(spark, out_root).filter(F.col("epoch").isin(live)).drop("epoch")
    tmp = os.path.join(table, f"_tmp_compact_{gen}")
    shutil.rmtree(tmp, ignore_errors=True)
    (
        df.repartition(*CAT.PARTITION_COLS)
        .sortWithinPartitions(*CAT.PARTITION_COLS, "conv_id", "ts")
        .write.mode("overwrite")
        .partitionBy(*CAT.PARTITION_COLS)
        .parquet(tmp)
    )
    with open(os.path.join(tmp, "_absorbs.json"), "w") as f:
        json.dump(live, f)
    os.rename(tmp, os.path.join(table, f"epoch={gen}"))
    for e in live:
        shutil.rmtree(os.path.join(table, f"epoch={e}"))
    return {"compacted": len(live), "generation": gen}
