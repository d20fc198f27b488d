"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship gap-filled 1-minute rollup on sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, registered in more_pattern_extraction_spark.plans.entry.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from more_pattern_extraction_spark.plans import entry as _entry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: events→transcript adapter,
    the engine's 1-minute tier rollup, dense-spine gap-fill (LOCF + linear
    interp)."""
    from pyspark.sql import functions as F

    from more_pattern_extraction_spark.operators import gapfill as G

    r1m = _entry._tier_rows(spark, "/root/testdata/sf0.001").select(
        F.col("conv_id").cast("string").alias("conv_id"),
        "bucket_start",
        "turn_cnt",
        "tool_call_cnt",
        "latency_sum",
        "latency_cnt",
        "latency_avg",
    )
    return G.gap_fill_rollup(r1m, "1m")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _entry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    q = _entry.ordered_queries()
    # a registry value may be a zero-arg callable producing the SQL —
    # used where the oracle inlines data-dependent literals (IVF
    # centroids) that must not be computed at import time
    o = {n: (v() if callable(v) else v) for n, v in _entry.ORACLES.items()}
    return {n: o[n] for n in q if n in o} | {n: s for n, s in o.items() if n not in q}
