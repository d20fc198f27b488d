"""Spark job budgets of the tier and pattern entry points.

At small inputs a run costs its Spark jobs, not its data, so every eager
job a run adds (a count, a probe, a re-read) shows as wall time.
These bounds are the measured counts on the ``transcripts`` fixture; a
change that adds a job must either remove another or say why the budget
moves."""

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans.pipeline import run_pattern_stage, run_pipeline
from more_pattern_extraction_spark.plans.repair import repair_late_turns

# measured: 29 / 2 / 31 / 33 jobs (a no-op resume runs only the
# unit-list collect; 4 of a partial resume's jobs are the collect of the
# units its pending turns reach); the cold-ingest and partial-resume
# bounds keep one job of slack because adaptive execution runs the
# stages of the ingest's unit-list collect as one or two jobs, depending
# on which stage finishes first
COLD_INGEST_JOBS = 30
NOOP_RESUME_JOBS = 2
REPAIR_JOBS = 31
PARTIAL_RESUME_JOBS = 34
# measured: 8 / 8 jobs for a pattern stage and for its rerun over the
# units a late-turn repair rewrote
PATTERN_STAGE_JOBS = 8
REPAIR_PATTERN_JOBS = 8


@pytest.fixture()
def split(transcripts):
    late = (
        ((F.col("conv_id") == "conv_00003") & (F.col("turn_idx") == 7))
        | ((F.col("conv_id") == "conv_00005") & (F.col("turn_idx") >= 20))
    )
    return transcripts.filter(~late), transcripts.filter(late)


def test_ingest_and_repair_job_budgets(spark, spark_jobs, transcripts, split, tmp_path):
    ontime, late = split
    out = str(tmp_path / "out")
    m, cold = spark_jobs("budget_cold", lambda: run_pipeline(
        spark, ontime, out, input_snapshot="b_on", n_buckets=8))
    assert m["units_done"] > 0
    m, noop = spark_jobs("budget_noop", lambda: run_pipeline(
        spark, ontime, out, input_snapshot="b_on", n_buckets=8))
    assert m["units_done"] == 0
    m, repair = spark_jobs("budget_repair", lambda: repair_late_turns(
        spark, transcripts, late, out, input_snapshot="b_m", prior_snapshot="b_on",
        n_buckets=8))
    assert m["units_repaired"] > 0
    # retention is a filesystem drop: a no-op resume that retires
    # partitions runs no more jobs than one that does not
    m, noop_retire = spark_jobs("budget_noop_retire", lambda: run_pipeline(
        spark, transcripts, out, input_snapshot="b_m", n_buckets=8,
        retention={"1m": "2024-01-03 00:00:00"}))
    assert m["units_done"] == 0
    assert cold <= COLD_INGEST_JOBS, cold
    assert noop <= NOOP_RESUME_JOBS, noop
    assert repair <= REPAIR_JOBS, repair
    assert noop_retire <= NOOP_RESUME_JOBS, noop_retire


def test_partial_resume_job_budget(spark, spark_jobs, transcripts, tmp_path):
    out = str(tmp_path / "out")
    run_pipeline(spark, transcripts.filter(F.col("ts") < "2024-01-02"), out,
                 input_snapshot="r_p", n_buckets=8)
    m, resume = spark_jobs("budget_partial_resume", lambda: run_pipeline(
        spark, transcripts, out, input_snapshot="r_p", n_buckets=8))
    assert 0 < m["units_done"] < m["units_total"]
    assert resume <= PARTIAL_RESUME_JOBS, resume


def test_pattern_stage_job_budgets(spark, spark_jobs, transcripts, split, tmp_path):
    ontime, late = split
    out = str(tmp_path / "out")
    patterns = dict(n_buckets=8, m=16, window="day", k=2)
    run_pipeline(spark, ontime, out, input_snapshot="p_on", n_buckets=8)
    m, cold = spark_jobs("budget_pattern", lambda: run_pattern_stage(spark, out, **patterns))
    assert m["mp_rows"] > 0 and m["discord_rows"] > 0 and m["regime_rows"] > 0
    r = repair_late_turns(spark, transcripts, late, out, input_snapshot="p_m",
                          prior_snapshot="p_on", n_buckets=8)
    m, repair = spark_jobs("budget_pattern_repair", lambda: run_pattern_stage(
        spark, out, units=r["units"], **patterns))
    assert m["windows_repaired"] > 0
    assert cold <= PATTERN_STAGE_JOBS, cold
    assert repair <= REPAIR_PATTERN_JOBS, repair
