"""Cache lifecycle of the tier entry points.

A long-lived session runs many ingests and repairs.  An entry point that
persists a frame and never releases it grows the session's block store
by one RDD per call, and Spark's cache manager then serves later reads
of the same table from that stale in-memory copy instead of the pruned
parquet scan."""

from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans.pipeline import run_pipeline
from more_pattern_extraction_spark.plans.repair import repair_late_turns
from more_pattern_extraction_spark.sources import catalog as CAT


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_ingest_and_repair_leave_no_cache(spark, transcripts, tmp_path):
    late = (F.col("conv_id") == "conv_00005") & (F.col("turn_idx") >= 20)
    out = str(tmp_path / "out")
    before = persistent_rdds(spark)
    run_pipeline(spark, transcripts.filter(~late), out, input_snapshot="c_on",
                 n_buckets=8)
    assert persistent_rdds(spark) == before
    repair_late_turns(spark, transcripts, transcripts.filter(late), out,
                      input_snapshot="c_m", prior_snapshot="c_on", n_buckets=8)
    assert persistent_rdds(spark) == before

    read = CAT.read_table(spark, out, "rollup_1m").filter(F.col("conv_bucket") == 0)
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" in plan and "InMemoryTableScan" not in plan, plan
