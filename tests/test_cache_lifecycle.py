"""Cache lifecycle of the tier and pattern entry points.

A long-lived session runs many ingests and repairs.  An entry point that
persists a frame and never releases it grows the session's block store
by one RDD per call, and Spark's cache manager then serves later reads
of the same table from that stale in-memory copy instead of the pruned
parquet scan."""

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans.pipeline import run_pattern_stage, run_pipeline
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


def test_pattern_stage_and_repair_leave_no_cache(spark, transcripts, tmp_path, monkeypatch):
    """The pattern pass persists one frame for its three writes; it is
    released after them, and also when a write raises."""
    late = (F.col("conv_id") == "conv_00005") & (F.col("turn_idx") >= 20)
    out = str(tmp_path / "out")
    patterns = dict(n_buckets=8, m=16, window="day", k=2)
    run_pipeline(spark, transcripts.filter(~late), out, input_snapshot="p_on", n_buckets=8)
    before = persistent_rdds(spark)
    run_pattern_stage(spark, out, **patterns)
    assert persistent_rdds(spark) == before
    r = repair_late_turns(spark, transcripts, transcripts.filter(late), out,
                          input_snapshot="p_m", prior_snapshot="p_on", n_buckets=8)
    run_pattern_stage(spark, out, units=r["units"], **patterns)
    assert persistent_rdds(spark) == before

    write, written = CAT.write_partitioned, []

    def second_write_fails(df, root, name, **kw):
        written.append(name)
        if len(written) == 2:
            raise RuntimeError(f"write of {name} failed")
        write(df, root, name, **kw)

    monkeypatch.setattr(CAT, "write_partitioned", second_write_fails)
    with pytest.raises(RuntimeError, match="discords"):
        run_pattern_stage(spark, out, **patterns)
    assert written == ["mp_day", "discords"]
    assert persistent_rdds(spark) == before
