"""Per-partition checkpoint / lineage / metrics tables (north rule:
resumable from per-partition checkpoints with lineage + metrics).

The reference restarts whole notebooks and reloads npz caches
(``modules/io.py:39-55``); here resumability is relational:

  * ``checkpoints``: one row per completed work unit
    ``(job, tier, conv_bucket, ts_bucket, input_snapshot)`` — a resumed run
    subtracts the completed units from its unit list and recomputes only
    the rest (exactly-once per unit: the unit's output partition is
    overwritten atomically by dynamic partition overwrite before the
    checkpoint row commits).
  * ``lineage``: per unit: input snapshot id, row counts in/out, content
    hash of the unit's output — the audit trail for "which raw turns
    produced this rollup point".
  * ``metrics``: per run: wall seconds, rows/sec, units done/skipped —
    the bench reads these.

This ledger is a few rows the driver already holds (the unit keys of a
run, a metrics dict, the collected lineage digests), so the driver reads
and writes it with pyarrow: a Spark ``createDataFrame`` and append per
row would cost a Spark job each and a resume would ship the unit list to
the executors and back.  Each call writes one Parquet file under a hidden
``.``-prefixed name and renames it into place, so a reader (Spark and
pyarrow skip such names) never sees half a file.  Timestamps are
UTC-adjusted, so Spark reads them as ``timestamp``, and
unit days travel as ``date``, never as a naive ``datetime`` in the
process's local time.  The directories stay Parquet tables that Spark
reads with the schemas it always did, including files an older,
Spark-written ledger left there.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import date, datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

UTC_TS = pa.timestamp("us", tz="UTC")
CHECKPOINTS = pa.schema([
    ("job", pa.string()), ("tier", pa.string()), ("conv_bucket", pa.int32()),
    ("ts_bucket", UTC_TS), ("input_snapshot", pa.string()), ("completed_at", UTC_TS),
])
LINEAGE = pa.schema([
    ("conv_bucket", pa.int32()), ("ts_bucket", UTC_TS), ("rows_out", pa.int64()),
    ("content_hash", pa.int64()), ("job", pa.string()), ("tier", pa.string()),
    ("input_snapshot", pa.string()), ("recorded_at", UTC_TS),
])


def _midnight(d: date) -> datetime:
    return datetime(d.year, d.month, d.day, tzinfo=timezone.utc)


def _append(path: str, rows: dict, schema: pa.Schema) -> None:
    """Add one Parquet file of ``rows`` (column → values) to ``path``."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(pa.table(rows, schema=schema), tmp)
    os.replace(tmp, os.path.join(path, name))


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.cp_path = os.path.join(root, "checkpoints")
        self.lineage_path = os.path.join(root, "lineage")
        self.metrics_path = os.path.join(root, "metrics")

    # -- checkpoints --------------------------------------------------------

    def completed(self, job: str, tier: str, input_snapshot: str) -> set[tuple[int, date]]:
        """The ``(conv_bucket, ts_day)`` units committed under the snapshot."""
        if not os.path.isdir(self.cp_path):
            return set()
        done = pq.read_table(
            self.cp_path, schema=CHECKPOINTS, columns=["conv_bucket", "ts_bucket"],
            filters=[("job", "=", job), ("tier", "=", tier),
                     ("input_snapshot", "=", input_snapshot)],
        )
        days = done["ts_bucket"].cast(pa.date32())  # midnight UTC → its day
        return set(zip(done["conv_bucket"].to_pylist(), days.to_pylist()))

    def pending_units(self, units: list, job: str, tier: str, input_snapshot: str) -> list:
        """``units`` (rows that lead with ``conv_bucket, ts_day``) minus the
        units completed under the snapshot: new input = new work, old
        checkpoints don't mask it."""
        done = self.completed(job, tier, input_snapshot)
        return [u for u in units if (u[0], u[1]) not in done]

    def commit(self, units: list, job: str, tier: str, input_snapshot: str) -> None:
        """Record ``(conv_bucket, ts_day)`` units as completed."""
        n = len(units)
        _append(self.cp_path, {
            "job": [job] * n, "tier": [tier] * n,
            "conv_bucket": [b for b, _d in units],
            "ts_bucket": [_midnight(d) for _b, d in units],
            "input_snapshot": [input_snapshot] * n,
            "completed_at": [datetime.now(timezone.utc)] * n,
        }, CHECKPOINTS)

    # -- lineage ------------------------------------------------------------

    def record_lineage(
        self,
        job: str,
        tier: str,
        input_snapshot: str,
        per_unit: DataFrame,
    ) -> None:
        """per_unit: (conv_bucket, ts_day, rows_out, content_hash) — collected
        and appended with run metadata."""
        rows = per_unit.collect()
        n = len(rows)
        _append(self.lineage_path, {
            "conv_bucket": [r["conv_bucket"] for r in rows],
            "ts_bucket": [_midnight(r["ts_day"]) for r in rows],
            "rows_out": [r["rows_out"] for r in rows],
            "content_hash": [r["content_hash"] for r in rows],
            "job": [job] * n, "tier": [tier] * n, "input_snapshot": [input_snapshot] * n,
            "recorded_at": [datetime.now(timezone.utc)] * n,
        }, LINEAGE)

    # -- metrics ------------------------------------------------------------

    def record_metrics(self, job: str, **kv) -> None:
        schema = pa.schema([("job", pa.string()), ("run_id", pa.string()), ("ts", pa.float64())]
                           + [(k, pa.float64()) for k in kv])
        row = {"job": job, "run_id": str(uuid.uuid4()), "ts": time.time(), **kv}
        _append(self.metrics_path, {k: [v] for k, v in row.items()}, schema)

    def metrics(self) -> DataFrame:
        # jobs append rows of different columns to one directory: merge
        # every file's schema (still one job), or inference keeps one
        # file's columns and drops the rest
        return self.spark.read.option("mergeSchema", "true").parquet(self.metrics_path)


def content_hash(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-insensitive per-(conv_bucket, ts_day) content hash: sum of
    prime-bounded row xxhash64s (commutative, ANSI-overflow-safe up to
    ~9e9 rows per unit) — cheap lineage digest."""
    row_hash = F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))
    return df.groupBy("conv_bucket", "ts_day").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(row_hash).alias("content_hash"),
    )
