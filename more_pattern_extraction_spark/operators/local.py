"""Small reads answered on the driver.

A dashboard read names a few units: a conversation-day of chunks, a day
of hourly sketches, a day of one-minute KMV partials.  At that size a
Spark query costs its fixed per-plan work (analysis, codegen, the
exchanges' scheduling), not its data.  An operator whose input may be
small probes it first: one job collects at most ``cap + 1`` rows of the
operator's own first projection (``probe``).  If the input is within the
cap the operator finishes on the driver and returns a local table
(``values_frame``), a ``LocalTableScan`` whose ``collect()``, and that of
any projection over it, runs no Spark job.  Otherwise it returns its
plan, which computes the input a second time: callers that hold an
unwritten plan call the operator's plan builder directly.

Operators: ``chunks.decode_chunks`` (cap ``DRIVER_DECODE_ROWS``),
``sketch.sketch_cascade`` and ``distinct.kmv_cascade`` (cap
``DRIVER_MERGE_ENTRIES``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession

#: exploded entries (a sketch bin or a KMV hash under its coarse bucket)
#: up to which ``sketch_cascade`` and ``kmv_cascade`` merge on the driver.
#: Measured crossover (scripts/MERGE_CROSSOVER_r09.json, local[4], rows of
#: up to 512 entries merged to 1d, medians of 5 rounds, driver vs plan):
#: process-tree CPU 0.36 vs 0.67 s (sketch) and 0.24 vs 0.52 s (KMV) at
#: 64 entries, 0.59 vs 0.67 and 0.35 vs 0.76 s at 4,096, 1.01 vs 0.80 and
#: 0.73 vs 0.76 s at 65,536; wall 0.20 vs 0.26 and 0.14 vs 0.30 s at
#: 4,096, 0.26 vs 0.26 and 0.24 vs 0.30 s at 16,384.  4,096 is the
#: largest measured size at which the driver wins on both measures for
#: both cascades; a dashboard read holds ≤ 24 hourly maps or a few
#: hundred one-minute partials.
DRIVER_MERGE_ENTRIES = 4096


def probe(df: DataFrame, cap: int) -> list[Row] | None:
    """The rows of ``df`` if it has at most ``cap`` of them, else None.

    One Spark job of one task (``coalesce(1).limit(cap + 1).collect()``;
    no Python worker), which stops reading once it holds ``cap + 1``
    rows.  Without the ``coalesce`` a ``collect()`` past a limit scans
    one input partition, then runs more jobs over the rest while it
    lacks rows: 2 jobs for one day of ``distinct_1m``.  A ``collect()``ed
    timestamp is a naive ``datetime`` in the Python process's time zone,
    so callers select timestamps as ``unix_micros`` and rebuild them with
    ``timestamp_micros``, which are time-zone free.  A ``cap`` of −1
    returns None for every input, the empty one included."""
    rows = df.coalesce(1).limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def sql_lit(v: str | int | None) -> str:
    """A Spark SQL literal of a string, an integer (as a BIGINT) or None."""
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"{int(v)}L"


def values_frame(spark: SparkSession, select: str, rows: list[str], width: int) -> DataFrame:
    """A local table: ``rows``, each a SQL tuple of ``width`` literals,
    projected by ``select`` over their columns ``col1``, ``col2``, ….

    One ``spark.sql`` call: 5 py4j commands, against 21 for
    ``createDataFrame`` of an Arrow table.  Each column is best passed as
    one string literal (a list as a comma-joined string, split by
    ``select``): Spark's parser takes about 90 ms for 4,096 map literal
    entries and 10 ms for the same entries as strings.  ``select`` casts
    every column, so no rows give an empty frame of the same types."""
    if rows:
        return spark.sql(f"SELECT {select} FROM VALUES {', '.join(rows)}")
    nulls = ", ".join(["NULL"] * width)
    return spark.sql(f"SELECT {select} FROM VALUES ({nulls}) LIMIT 0")
