"""Spark job budgets of the tier and pattern entry points.

At small inputs a run costs its Spark jobs, not its data, so every eager
job a run adds (a count, a probe, a re-read) shows as wall time.
These bounds are the measured counts on the ``transcripts`` fixture; a
change that adds a job must either remove another or say why the budget
moves."""

import os

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import chunks as CH
from more_pattern_extraction_spark.operators import distinct as DK
from more_pattern_extraction_spark.operators import local as LOCAL
from more_pattern_extraction_spark.operators import sketch as SK
from more_pattern_extraction_spark.plans.pipeline import run_pattern_stage, run_pipeline
from more_pattern_extraction_spark.plans.repair import repair_late_turns
from more_pattern_extraction_spark.sources import catalog as CAT
from more_pattern_extraction_spark.streaming.rollup_stream import stream_rollup_to_table

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
# measured: the four dashboard read shapes of perfbench's tier_read, one
# conversation-day each (the KMV count reads one day of every bucket);
# the p95, chunk and KMV reads run only their probe, and their results
# are local tables
READ_JOBS = {"range_1m": 2, "sketch_p95_1h": 1, "chunk_decode": 1, "distinct_1d": 1}
# measured: 2 jobs for the chunk read past the driver-decode cap (the
# probe's collect, then the mapInPandas decode); below the cap the probe
# is the only job, and the decoded frame is a local table
FALLBACK_DECODE_JOBS = 2
# measured: the p95 and KMV reads past the driver-merge cap (the probe,
# then the cascade's plan)
FALLBACK_MERGE_JOBS = {"sketch_p95_1h": 3, "distinct_1d": 4}
# measured: py4j commands the driver sends to build the sketch p95 and
# the KMV count over a stored tier frame, now including the probe job and
# the local table: 30-32 and 36; the cascades' plans alone take 38 and
# 44 (88 when the KMV bucket was a Column), against 704 and 969 when the
# folds and the hash mapping were Column lambdas
SKETCH_READ_COMMANDS = 45
KMV_READ_COMMANDS = 100
# measured: 39 jobs for one stream epoch (the fixture's turns as one
# file, into an empty root: 2 for the epoch's append, 37 for the repair
# over its units) and 0 for that epoch replayed by a fresh stream
# checkpoint (its dir and its ledger rows exist, so the sink reads
# nothing)
STREAM_EPOCH_JOBS = 39
REPLAYED_EPOCH_JOBS = 0


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


def test_stream_epoch_job_budgets(spark, transcripts, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    transcripts.coalesce(1).write.parquet(src)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    def epoch_jobs(ckpt):
        # a streaming query runs its batches under a job group named by its run id
        q = stream_rollup_to_table(spark, src, schema, out, n_buckets=8,
                                   checkpoint_dir=str(tmp_path / ckpt))
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))

    epoch = epoch_jobs("ckpt")
    assert os.listdir(f"{out}/transcripts") == ["epoch=0"]
    replay = epoch_jobs("ckpt_replay")
    assert epoch <= STREAM_EPOCH_JOBS, epoch
    assert replay <= REPLAYED_EPOCH_JOBS, replay


@pytest.fixture()
def py4j_commands(monkeypatch):
    """``py4j_commands(fn)`` runs ``fn`` and returns its result and the
    number of py4j commands the driver sent meanwhile.  Memory commands
    are not counted: they release JVM objects that Python dropped earlier,
    and arrive in bursts of a few hundred whenever py4j flushes them."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        sent[0] += not command.startswith(MEMORY_COMMAND_NAME)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def run(fn):
        n0 = sent[0]
        out = fn()
        return out, sent[0] - n0

    return run


def test_dashboard_read_budgets(spark, spark_jobs, py4j_commands, transcripts, tmp_path,
                               monkeypatch):
    out = str(tmp_path / "out")
    run_pipeline(spark, transcripts, out, input_snapshot="r_on", n_buckets=8)
    r = (CAT.read_table(spark, out, "rollup_1h")
         .select("conv_id", "conv_bucket", "ts_day").orderBy("conv_id", "ts_day").first())

    def one_day(table):
        return CAT.read_table(spark, out, table).filter(
            (F.col("conv_bucket") == r.conv_bucket) & (F.col("ts_day") == r.ts_day)
            & (F.col("conv_id") == r.conv_id))

    def sketch_p95():
        hours = one_day("rollup_1h").select("conv_id", "bucket_start", "latency_sketch")
        return SK.sketch_quantile(SK.sketch_cascade(hours, "1d"))

    def kmv_count():
        kmv = CAT.read_table(spark, out, "distinct_1m").filter(F.col("ts_day") == r.ts_day)
        return DK.kmv_estimate(DK.kmv_cascade(kmv, "1d", from_tier="1m"))

    reads = {
        "range_1m": lambda: one_day("rollup_1m").filter(F.hour("bucket_start") < 12)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("turn_cnt").alias("t")),
        "sketch_p95_1h": sketch_p95,
        "chunk_decode": lambda: CH.decode_chunks(one_day("chunks_1m")),
        "distinct_1d": kmv_count,
    }
    jobs = {}
    for name, build in reads.items():
        rows, jobs[name] = spark_jobs(f"budget_read_{name}", lambda: build().collect())
        assert rows, name
    assert jobs == READ_JOBS, jobs

    plan = CH.decode_chunks(one_day("chunks_1m"))._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan") and "Python" not in plan and "Pandas" not in plan, plan
    with monkeypatch.context() as m:
        m.setattr(CH, "DRIVER_DECODE_ROWS", 0)
        rows, fallback = spark_jobs("budget_read_chunk_decode_fallback",
                                    lambda: CH.decode_chunks(one_day("chunks_1m")).collect())
    assert rows
    assert fallback == FALLBACK_DECODE_JOBS, fallback

    merges = ("sketch_p95_1h", "distinct_1d")
    for name in merges:
        plan = reads[name]()._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan") and "Exchange" not in plan, plan
    fallback = {}
    with monkeypatch.context() as m:
        m.setattr(LOCAL, "DRIVER_MERGE_ENTRIES", 0)
        for name in merges:
            rows, fallback[name] = spark_jobs(f"budget_read_{name}_fallback",
                                              lambda: reads[name]().collect())
            assert rows, name
    assert fallback == FALLBACK_MERGE_JOBS, fallback

    hours = one_day("rollup_1h").select("conv_id", "bucket_start", "latency_sketch")
    kmv = CAT.read_table(spark, out, "distinct_1m")
    _df, sketch_cmds = py4j_commands(lambda: SK.sketch_quantile(SK.sketch_cascade(hours, "1d")))
    _df, kmv_cmds = py4j_commands(
        lambda: DK.kmv_estimate(DK.kmv_cascade(kmv, "1d", from_tier="1m")))
    assert sketch_cmds <= SKETCH_READ_COMMANDS, sketch_cmds
    assert kmv_cmds <= KMV_READ_COMMANDS, kmv_cmds
