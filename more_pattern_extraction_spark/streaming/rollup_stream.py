"""Structured-Streaming variant of the tier-1 rollup (SURVEY §2.9: the
reference is batch-only; this is the optional streaming path for live
transcript feeds).

``readStream`` over a transcript source → watermarked 1-minute tumbling
windows → the same exact partials the batch rollup carries (so the batch
cascade and chunk encoder work unchanged on streaming output), written via
``foreachBatch`` into a partitioned tier table
(``stream_rollup_to_table``): append mode emits each finalized
(conv, minute) group exactly once after the watermark passes it, so
epochs are ROW-DISJOINT and the tier is the plain union of epoch dirs —
no cross-epoch merge.  Exactly-once per micro-batch epoch: each epoch
writes to a temp dir and atomically renames it to ``epoch=<id>``; a
replayed epoch (restart re-delivers the last uncommitted batch) finds
its dir already present and skips — the same commit-by-rename protocol
Iceberg replaces with a snapshot commit.

Late turns: ``withWatermark(ts, delay)`` holds per-(conv, minute) state
open for `delay`; later-than-watermark turns are dropped from the stream
tier and reconciled by ``plans.repair.repair_late_turns`` — the batch
repair recomputes ONLY the (conv_bucket, ts_day) partitions a late turn
can reach (the classic lambda repair; bit-equal to a cold rerun,
tests/test_repair.py).

Inter-turn latency (a lag over the conversation) is not computable with a
bounded-state stream window without event reordering; the streaming tier
rolls up the *arrival-time-computable* features (turn/tool counts, value
aggregates when the payload carries a latency column) — the batch tier
remains the source of truth for lag-derived features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_rollup_1m(
    stream: DataFrame,
    watermark: str = "10 minutes",
    latency_col: str | None = None,
) -> DataFrame:
    """Watermarked 1-minute rollup of a streaming transcript DataFrame."""
    aggs = [
        F.count(F.lit(1)).alias("turn_cnt"),
        F.sum(F.col("tool").isNotNull().cast("int")).alias("tool_call_cnt"),
    ]
    if latency_col:
        aggs += [
            F.sum(latency_col).alias("latency_sum"),
            F.count(latency_col).alias("latency_cnt"),
            F.min(latency_col).alias("latency_min"),
            F.max(latency_col).alias("latency_max"),
        ]
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("win"))
        .agg(*aggs)
        .select("conv_id", F.col("win.start").alias("bucket_start"), *[
            c for c in ["turn_cnt", "tool_call_cnt", "latency_sum",
                        "latency_cnt", "latency_min", "latency_max"]
            if latency_col or c in ("turn_cnt", "tool_call_cnt")
        ])
    )


def run_stream_to_memory(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    query_name: str = "rollup_stream",
    watermark: str = "10 minutes",
    latency_col: str | None = None,
    output_mode: str = "complete",
):
    """Drive a parquet-directory stream to completion synchronously
    (memory sink; the smoke-test harness).  Returns the query handle;
    results in ``spark.sql(f"select * from {query_name}")``.

    Default ``complete`` mode so windows inside the final watermark delay
    are visible too; the production path is append + foreachBatch, where
    those windows flush on the next micro-batch."""
    stream = (
        spark.readStream.schema(schema).parquet(source_dir)
    )
    agg = streaming_rollup_1m(stream, watermark, latency_col)
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_sketch_entries_1m(
    stream: DataFrame,
    watermark: str = "10 minutes",
    latency_col: str = "latency",
) -> DataFrame:
    """Streaming build of the mergeable latency sketch (operators/sketch):
    per-(conv, minute, log-bin) counts as ONE watermarked stateful
    aggregation — the sparse-entry form of the sketch map.

    The packed ``map<int,bigint>`` shape needs a second aggregation,
    which streaming append mode does not allow to chain; but the sketch
    is mergeable precisely so that this doesn't matter: entry rows sum
    by (conv, bucket, bin) across micro-batches/sinks, and
    ``operators.sketch.pack_entries`` (batch side, e.g. inside the
    foreachBatch sink or the downstream tier cascade) restores the map
    column exactly equal to ``sketch_from_raw`` on the same data
    (stream==batch pytest).  State per key is one int64 — bounded by
    watermark horizon × active (conv, bin) combinations (≤ 512 bins)."""
    from more_pattern_extraction_spark.operators.sketch import bin_expr

    return (
        stream.withWatermark("ts", watermark)
        .filter(F.col(latency_col).isNotNull())
        .groupBy(
            "conv_id",
            F.window("ts", "1 minute").alias("win"),
            bin_expr(latency_col).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "conv_id", F.col("win.start").alias("bucket_start"), "bin", "cnt"
        )
    )


def streaming_kmv_entries_1m(
    stream: DataFrame,
    watermark: str = "10 minutes",
    conv_col: str = "conv_id",
) -> DataFrame:
    """Streaming build of the KMV distinct-conversation sketch
    (operators/distinct): distinct ``(minute bucket, md5(conv))`` pairs
    as ONE watermarked stateful aggregation — the entry form of the
    sketch, exactly like ``streaming_sketch_entries_1m`` is the entry
    form of the quantile sketch.

    The per-bucket top-k can't chain onto a streaming agg (append mode
    forbids a second stateful step), and — same argument as the latency
    sketch — the KMV merge identity makes that irrelevant: entry pairs
    from any number of micro-batches/epochs union (re-distinct) and
    ``operators.distinct._pack_topk`` batch-side restores the sketch
    EXACTLY equal to ``kmv_from_raw`` on the same turns (stream==batch
    pytest).  State per key is just the group key (a 32-char hash +
    window), bounded by watermark horizon × active distinct convs;
    count(*) is kept only to make the agg a valid streaming plan — the
    pair itself is the datum."""
    from more_pattern_extraction_spark.operators.distinct import conv_hash

    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 minute").alias("win"),
            conv_hash(conv_col).alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("bucket_start"), "h")
    )


def stream_rollup_to_table(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    out_root: str,
    name: str = "rollup_1m_stream",
    watermark: str = "10 minutes",
    latency_col: str | None = None,
    n_buckets: int = 32,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Run the watermarked 1m rollup into a partitioned tier table
    (module docstring: the production append + foreachBatch path).

    Layout: ``{out_root}/{name}/epoch=<id>/conv_bucket=<b>/ts_day=<d>/``
    — epoch is an extra leading partition level, so a read of the table
    root sees the union of epochs with an ``epoch`` lineage column
    (``read_stream_tier`` drops it).  Append-mode rows are disjoint
    across epochs, so the union IS the tier.

    Exactly-once: the sink writes the epoch under ``_tmp_epoch_<id>``
    and ``os.rename``s it into place (atomic on one filesystem); if the
    epoch dir already exists the batch is a detected replay and skipped.
    Empty epochs (watermark advance without finalized groups) write
    nothing.
    """
    import os
    import shutil

    from more_pattern_extraction_spark.sources import catalog as CAT

    table = CAT.table_path(out_root, name)
    os.makedirs(table, exist_ok=True)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        final = os.path.join(table, f"epoch={epoch_id}")
        if os.path.exists(final) or epoch_id in _absorbed_ids(table):
            # replayed epoch → already committed.  Still drain the plan:
            # Spark 4 validates that every state-store partition commits
            # each batch (StateStoreCoordinator); an unconsumed batch_df
            # fails the query with STREAM_FAILED.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        if batch_df.count() == 0:  # count() (not isEmpty) — full
            return                 # execution commits all state partitions
        out = CAT.with_layout_cols(batch_df, n_buckets)
        tmp = os.path.join(table, f"_tmp_epoch_{epoch_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        (
            out.repartition("conv_bucket", "ts_day")
            .write.mode("overwrite")
            .partitionBy("conv_bucket", "ts_day")
            .parquet(tmp)
        )
        os.rename(tmp, final)

    stream = spark.readStream.schema(schema)
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    agg = streaming_rollup_1m(stream.parquet(source_dir), watermark, latency_col)
    writer = (
        agg.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return q


def _absorbed_ids(table: str) -> set[int]:
    """Epoch ids absorbed by committed compaction generations: the union
    of the ``_absorbs.json`` manifests inside every ``epoch=<gen>`` dir
    (written by ``compact_stream_tier`` INSIDE the tmp dir, so the
    manifest commits atomically with the generation's rename)."""
    import json
    import os

    absorbed: set[int] = set()
    for e in os.listdir(table):
        man = os.path.join(table, e, "_absorbs.json")
        if e.startswith("epoch=") and os.path.exists(man):
            with open(man) as f:
                absorbed.update(json.load(f))
    return absorbed


def read_stream_tier(spark: SparkSession, out_root: str, name: str = "rollup_1m_stream") -> DataFrame:
    """Union of committed epochs, lineage column dropped.  In-flight
    ``_tmp_epoch_*`` dirs are invisible: ``epoch=<id>`` only exists
    post-rename, so readers never see a partial epoch.  Epochs named in
    a committed compaction manifest are filtered out even if their dirs
    still exist (the crash window between a generation's rename and the
    source-dir deletion) — a partition-pruning NOT IN on the epoch
    column, so absorbed dirs contribute zero input splits."""
    import os

    from pyspark.sql import functions as _F

    from more_pattern_extraction_spark.sources import catalog as CAT

    path = CAT.table_path(out_root, name)
    if not any(e.startswith("epoch=") for e in os.listdir(path)):
        raise FileNotFoundError(f"no committed epochs under {path}")
    df = spark.read.parquet(path)
    absorbed = _absorbed_ids(path)
    if absorbed:
        df = df.filter(~_F.col("epoch").isin(sorted(absorbed)))
    return df.drop("epoch")


def compact_stream_tier(
    spark: SparkSession,
    out_root: str,
    name: str = "rollup_1m_stream",
) -> dict:
    """Merge committed epoch dirs into one compaction generation — the
    stream tier's small-file maintenance job (a per-minute trigger makes
    1440 epoch dirs/day; Iceberg calls this ``rewrite_data_files``).

    Crash-safe commit protocol (single atomic rename, like the sink):

    1. snapshot the LIVE epoch ids (committed dirs minus already-absorbed);
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
    import json
    import os
    import shutil

    from pyspark.sql import functions as _F

    from more_pattern_extraction_spark.sources import catalog as CAT

    table = CAT.table_path(out_root, name)
    absorbed = _absorbed_ids(table)
    present = {
        int(e.split("=", 1)[1])
        for e in os.listdir(table)
        if e.startswith("epoch=")
    }
    # finish a crashed previous compaction first: absorbed dirs still on
    # disk are stale duplicates of a committed generation
    for e in sorted(present & absorbed):
        shutil.rmtree(os.path.join(table, f"epoch={e}"))
    live = sorted(present - absorbed)
    if len(live) <= 1:
        return {"compacted": 0, "generation": None}

    gen = min(min(live), 0) - 1
    df = (
        spark.read.parquet(table)
        .filter(_F.col("epoch").isin(live))
        .drop("epoch")
    )
    tmp = os.path.join(table, f"_tmp_compact_{gen}")
    shutil.rmtree(tmp, ignore_errors=True)
    (
        df.repartition(*CAT.PARTITION_COLS)
        .sortWithinPartitions(*CAT.PARTITION_COLS, "conv_id", "bucket_start")
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
