"""Storage-format seam (SURVEY §7.0): Parquet with Iceberg's layout, the
stand-in for an Iceberg table.

Tables are partitioned by (conv_bucket, ts_day) — the Iceberg spec would
be ``bucket(N, conv_id), days(ts)``; the Parquet layout materializes the
same two columns and relies on Catalyst partition pruning, so queries and
the checkpoint/retention logic read as they would on Iceberg.  Writes use
dynamic partition overwrite = the Parquet stand-in for Iceberg's atomic
partition-level commit.

Each table carries its read schema in ``<table>/_schema.json``, the
stand-in for the schema in Iceberg's snapshot metadata: ``read_table``
plans through it with no schema-inference job.  ``write_partitioned`` is
its one writer (it removes the file before a write and saves it after a
successful one); Spark's file index skips ``_``-prefixed names, so the
file is not part of the table's contents.  A table without the file (an
older writer, a write that bypassed ``write_partitioned``, an aborted
write) is read by inference.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

SCHEMA_FILE = "_schema.json"
PARTITION_COLS = ("conv_bucket", "ts_day")


def table_path(root: str, name: str) -> str:
    return os.path.join(root, name)


def write_partitioned(
    df: DataFrame,
    root: str,
    name: str,
    sort_cols: tuple[str, ...] = (),
    compression: str = "zstd",
) -> None:
    """Partitioned write with an explicit write distribution.

    Without a repartition, a partitioned write emits one file per
    (task, partition-dir) pair — up to tasks × partitions small files
    PER RUN, the classic 100 TB operational failure (every incremental
    run multiplies the file count; scans drown in open() overhead and
    the namenode/manifest in entries).  This is Iceberg's
    ``write.distribution-mode=hash`` recreated for the Parquet seam:
    hash-distribute on the partition columns so each partition dir is
    written by exactly one task → one file.  ``sort_cols`` additionally
    sorts within each task before writing — (conv_id, bucket_start) order
    keeps a conversation's buckets adjacent, which is what the
    DoD/Gorilla-style columnar encodings and range scans want."""
    spark = df.sparkSession
    path = table_path(root, name)
    schema_path = os.path.join(path, SCHEMA_FILE)
    with contextlib.suppress(FileNotFoundError):
        os.remove(schema_path)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out = df.repartition(*PARTITION_COLS)
    if sort_cols:
        # the partition columns MUST lead the sort: FileFormatWriter
        # requires task rows ordered by the partitionBy columns and
        # silently inserts its own sort (destroying this one) when the
        # actual ordering doesn't have them as a prefix — measured in
        # scripts/measure_write_trade.py: without the prefix, sorted and
        # unsorted configs produced byte-identical (insertion-ordered)
        # files
        out = out.sortWithinPartitions(*PARTITION_COLS, *sort_cols)
    (
        out.write.mode("overwrite")
        .option("compression", compression)  # zstd: ~30-50% smaller than
        # snappy at comparable scan speed — at 100 TB the default choice
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )
    _save_schema(df.schema, schema_path)


def _nullable(dt: DataType) -> DataType:
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _save_schema(schema: StructType, schema_path: str) -> None:
    """The schema Spark's file source reports for the written table: the
    data columns in frame order, then the partition columns, all nullable.
    Written under a temp name and renamed, so a reader never sees half."""
    fields = [f for f in schema.fields if f.name not in PARTITION_COLS]
    fields += [schema[c] for c in PARTITION_COLS]
    tmp = schema_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(_nullable(StructType(fields)).json())
    os.replace(tmp, schema_path)


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """The table, planned through its stored schema; by inference (one
    Spark job) when the table has none."""
    path = table_path(root, name)
    try:
        with open(os.path.join(path, SCHEMA_FILE)) as fh:
            schema = StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def snapshot_id(path: str) -> str:
    """Input snapshot surrogate for plain Parquet inputs: hash of the file
    listing + mtimes + sizes (an Iceberg catalog supplies a real snapshot
    id here)."""
    import hashlib

    h = hashlib.md5()
    if os.path.isdir(path):
        for root_, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                p = os.path.join(root_, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_mtime_ns}:{st.st_size}".encode())
    else:
        st = os.stat(path)
        h.update(f"{path}:{st.st_mtime_ns}:{st.st_size}".encode())
    return h.hexdigest()


def drop_partitions_before(root: str, name: str, horizon: str) -> int:
    """Retention as partition deletion: remove ts_day=<d> directories with
    d < horizon — the Parquet stand-in for Iceberg's metadata-only
    ``DELETE WHERE ts_day < horizon`` + snapshot expiry.  Returns the
    number of dropped partitions."""
    import shutil
    from datetime import date

    hor = date.fromisoformat(horizon[:10])
    base = table_path(root, name)
    dropped = 0
    if not os.path.isdir(base):
        return 0
    for cb in os.listdir(base):
        cb_path = os.path.join(base, cb)
        if not (os.path.isdir(cb_path) and cb.startswith("conv_bucket=")):
            continue
        for td in os.listdir(cb_path):
            if td.startswith("ts_day="):
                if date.fromisoformat(td.split("=", 1)[1]) < hor:
                    shutil.rmtree(os.path.join(cb_path, td))
                    dropped += 1
    if dropped:
        # this deletion happens behind Spark's back (plain filesystem, no
        # commit protocol) — invalidate any cached plans / file listings
        # over the path, or a persisted frame built on this table keeps
        # serving the dropped partitions for the rest of the session
        # (an Iceberg DELETE invalidates via its snapshot; this is the
        # Parquet-seam equivalent)
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.catalog.refreshByPath(base)
    return dropped


def with_layout_cols(
    df: DataFrame, n_buckets: int = 32, time_col: str | None = None
) -> DataFrame:
    """Attach the physical layout columns (conv_bucket, ts_day).

    ``ts_day`` is the day of ``time_col`` (default ``bucket_start`` when
    present, else ``ts``); ``conv_bucket`` hashes ``conv_id``.  A frame
    already keyed by bucket without ``conv_id`` (the KMV partials) keeps
    its own ``conv_bucket``."""
    ts_col = time_col or ("bucket_start" if "bucket_start" in df.columns else "ts")
    if "conv_id" in df.columns:
        df = df.withColumn(
            "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        )
    return df.withColumn("ts_day", F.date_trunc("day", F.col(ts_col)).cast("date"))
