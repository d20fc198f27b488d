"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]`` threads; the same configs are the ones
we'd ship in ``spark-defaults.conf`` on a 1000-executor cluster — AQE on,
Arrow on, shuffle partitions sized to the cluster (here: cores), UTC
session timezone so timestamps compare bit-for-bit against the DuckDB
oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mpe_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs.

    ``cores=None`` → ``local[*]``.  On a real cluster this function is not
    used — ``spark-submit --py-files mpe.zip job.py`` supplies the session —
    but every config below is cluster-safe.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or cores or (os.cpu_count() or 8)
    # one BLAS thread per python worker: the task IS the parallelism unit;
    # nested BLAS threading makes N workers × M threads thrash the box
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # match parallelism to cores locally; on a cluster this would be
        # ~2-3x total executor cores (AQE coalesces the excess).
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # NULL-on-division-by-zero, not ANSI throw: (a) a zero denominator
        # deep in a 100 TB job must degrade to NULL, not kill the job;
        # (b) DuckDB (the correctness oracle) returns NULL for x/0, so the
        # engines share division semantics bit-for-bit.  Spark 4 flipped
        # the default to ANSI, hence the explicit pin.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets min(advisory, max(total/parallelism,
        # minPartitionSize)).  The default floor (1m) collapses byte-light
        # but compute-dense shuffles (grouped-kernel UDFs, spine explodes,
        # percentile aggregates) onto a handful of tasks — measured 4.8x
        # on the mSTOMP stage at sf0.1.  A 16k floor restores parallelism
        # for exactly those shuffles and is inert at scale, where
        # total/parallelism >= advisory makes the floor unreachable.
        # Parameterised for deployments whose scheduler overhead dominates
        # small tasks.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("MPE_AQE_MIN_PARTITION_SIZE", "16k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pandas UDF batches: big enough to amortize Arrow transfer, small
        # enough to bound executor-python memory at 100 TB scale.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("MPE_DRIVER_MEM", "8g"))
        # whole-stage codegen JIT-compiles every generated class; a
        # C1-only driver (-XX:TieredStopAtLevel=1) shrinks the default
        # code cache to 48 MB, which one ingest + repair + read session
        # fills (~53 MB used), and the JVM then fails tasks with "Out of
        # space in CodeCache for adapters".  240 MB is the tiered default.
        # A default option, so callers' extraJavaOptions still apply.
        .config("spark.driver.defaultJavaOptions", "-XX:ReservedCodeCacheSize=240m")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class DrainResult(NamedTuple):
    """Result of a full-evaluation drain: row count + value checksum."""

    rows: int
    checksum: int

    def __int__(self) -> int:  # legacy callers used the return as a count
        return self.rows


def drain_checksum(df) -> DrainResult:
    """Force FULL evaluation of every output column; return (rows, checksum).

    ``df.count()`` lets Catalyst prune expressions that don't affect
    cardinality (aggregate values, window/interpolation columns), so a
    count-drained benchmark can under-bill the very computation being
    timed.  Hashing every column into one xxhash64 and summing makes each
    value live; the reduction itself is one long per partition.  The
    checksum is also returned so runs can be compared value-level, not
    just by cardinality.
    """
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.sum("h").alias("checksum"), F.count(F.lit(1)).alias("rows")
    ).collect()[0]
    return DrainResult(row.rows, row.checksum if row.checksum is not None else 0)
