"""Per-partition checkpoint / lineage / metrics tables (north rule:
resumable from per-partition checkpoints with lineage + metrics).

The reference restarts whole notebooks and reloads npz caches
(``modules/io.py:39-55``); here resumability is relational:

  * ``checkpoints``: one row per completed work unit
    ``(job, tier, conv_bucket, ts_bucket, input_snapshot)`` — a resumed run
    anti-joins pending work against this table and recomputes only the
    rest (exactly-once per unit: the unit's output partition is
    overwritten atomically by dynamic partition overwrite before the
    checkpoint row commits).
  * ``lineage``: per unit: input snapshot id, row counts in/out, content
    hash of the unit's output — the audit trail for "which raw turns
    produced this rollup point".
  * ``metrics``: per run: wall seconds, rows/sec, units done/skipped —
    the bench reads these.

Storage is the catalog seam (sources/catalog.py): Parquet directories
laid out exactly like the Iceberg tables they stand in for.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = (
    "job string, tier string, conv_bucket int, ts_bucket timestamp, "
    "input_snapshot string, completed_at timestamp"
)


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.cp_path = os.path.join(root, "checkpoints")
        self.lineage_path = os.path.join(root, "lineage")
        self.metrics_path = os.path.join(root, "metrics")

    # -- checkpoints --------------------------------------------------------

    def completed(self, job: str, tier: str) -> DataFrame:
        try:
            # commit() fixes the schema, so the read needs no inference job
            df = self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.cp_path)
        except Exception:
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return df.filter((F.col("job") == job) & (F.col("tier") == tier))

    def pending_units(
        self, units: DataFrame, job: str, tier: str, input_snapshot: str
    ) -> DataFrame:
        """units: (conv_bucket, ts_bucket) work list → minus completed.
        The anti-join key includes the input snapshot: new input = new
        work, old checkpoints don't mask it."""
        done = self.completed(job, tier).filter(
            F.col("input_snapshot") == input_snapshot
        ).select("conv_bucket", "ts_bucket")
        return units.join(done, ["conv_bucket", "ts_bucket"], "left_anti")

    def commit(
        self, units: DataFrame, job: str, tier: str, input_snapshot: str
    ) -> None:
        (
            units.select("conv_bucket", "ts_bucket")
            .withColumn("job", F.lit(job))
            .withColumn("tier", F.lit(tier))
            .withColumn("input_snapshot", F.lit(input_snapshot))
            .withColumn("completed_at", F.current_timestamp())
            .select(
                "job", "tier", "conv_bucket", "ts_bucket",
                "input_snapshot", "completed_at",
            )
            .write.mode("append").parquet(self.cp_path)
        )

    # -- lineage ------------------------------------------------------------

    def record_lineage(
        self,
        job: str,
        tier: str,
        input_snapshot: str,
        per_unit: DataFrame,
    ) -> None:
        """per_unit: (conv_bucket, ts_bucket, rows_in, rows_out,
        content_hash) — appended with run metadata."""
        (
            per_unit.withColumn("job", F.lit(job))
            .withColumn("tier", F.lit(tier))
            .withColumn("input_snapshot", F.lit(input_snapshot))
            .withColumn("recorded_at", F.current_timestamp())
            .write.mode("append").parquet(self.lineage_path)
        )

    # -- metrics ------------------------------------------------------------

    def record_metrics(self, job: str, **kv) -> None:
        row = {"job": job, "run_id": str(uuid.uuid4()), "ts": time.time(), **kv}
        df = self.spark.createDataFrame([json.dumps(row)], "string").select(
            F.from_json(
                "value",
                "job string, run_id string, ts double, "
                + ", ".join(f"{k} double" for k in kv),
            ).alias("m")
        ).select("m.*")
        df.write.mode("append").parquet(self.metrics_path)

    def metrics(self) -> DataFrame:
        # jobs append rows of different columns to one directory: merge
        # every file's schema (still one job), or inference keeps one
        # file's columns and drops the rest
        return self.spark.read.option("mergeSchema", "true").parquet(self.metrics_path)


def content_hash(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-insensitive per-(conv_bucket, ts_bucket) content hash: sum of
    prime-bounded row xxhash64s (commutative, ANSI-overflow-safe up to
    ~9e9 rows per unit) — cheap lineage digest."""
    row_hash = F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))
    return df.groupBy("conv_bucket", "ts_bucket").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(row_hash).alias("content_hash"),
    )
