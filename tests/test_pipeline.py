"""End-to-end pipeline: cold run, no-op resume, and interrupted-resume ==
cold-run equivalence (north rule: per-partition checkpoint/lineage/metrics)."""

import calendar
import os
import shutil
import time
from datetime import date, timedelta

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import stages as ST
from more_pattern_extraction_spark.plans.checkpoint import CheckpointStore, content_hash
from more_pattern_extraction_spark.plans.pipeline import run_pipeline
from more_pattern_extraction_spark.plans.repair import affected_units, repair_late_turns
from more_pattern_extraction_spark.sources import catalog as CAT

TABLES = ["rollup_1m", "distinct_1m", "rollup_1m_filled", "chunks_1m", "rollup_1h", "rollup_1d"]
TABLES_1M = ["rollup_1m", "distinct_1m", "rollup_1m_filled", "chunks_1m"]


@pytest.fixture()
def out(tmp_path):
    return str(tmp_path / "out")


def _table_digest(spark, root, name):
    df = CAT.read_table(spark, root, name)
    cols = [c for c in df.columns if c not in ("tier",)]
    return (
        df.select(
            F.sum(
                F.pmod(
                    F.xxhash64(*[F.col(c).cast("string") for c in sorted(cols)]),
                    F.lit(1_000_000_007),
                )
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )


def _rows_before(spark, root, day):
    """{table: rows before ``day``} of the 1m-resolution tables."""
    return {t: CAT.read_table(spark, root, t).filter(f"ts_day < date '{day}'").count()
            for t in TABLES_1M}


def test_cold_run_and_noop_resume(spark, transcripts, out):
    m1 = run_pipeline(spark, transcripts, out, input_snapshot="snapA", n_buckets=8)
    assert m1["units_done"] > 0 and m1["turns"] > 0
    for t in ["rollup_1m", "distinct_1m", "rollup_1m_filled", "chunks_1m", "rollup_1h", "rollup_1d"]:
        assert CAT.read_table(spark, out, t).count() > 0, t
    d1 = _table_digest(spark, out, "rollup_1m")

    m2 = run_pipeline(spark, transcripts, out, input_snapshot="snapA", n_buckets=8)
    assert m2["units_done"] == 0 and m2["units_skipped"] == m1["units_total"]
    d2 = _table_digest(spark, out, "rollup_1m")
    assert d1 == d2  # tables untouched

    # lineage + metrics tables populated
    store_metrics = spark.read.parquet(f"{out}/metrics")
    assert store_metrics.count() == 2
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.count() > 0
    assert set(lineage.columns) >= {"conv_bucket", "ts_bucket", "rows_out", "content_hash"}


def test_distinct_partials_serve_global_sketch(spark, transcripts, out):
    """The persisted distinct_1m PARTIALS (per conv_bucket) must recover
    the GLOBAL per-bucket sketch at any tier via kmv_cascade — the merge
    identity is what lets the pipeline store unit-local rows (repairable
    per unit) and still answer global distinct-count queries exactly."""
    from more_pattern_extraction_spark.operators import distinct as DK

    run_pipeline(spark, transcripts, out, input_snapshot="snapK", n_buckets=8)
    partials = CAT.read_table(spark, out, "distinct_1m")
    for tier in ("1m", "1h"):
        served = (
            DK.kmv_cascade(
                partials.select("bucket_start", "conv_kmv"), tier, from_tier="1m"
            )
            .orderBy("bucket_start")
            .collect()
        )
        direct = (
            DK.kmv_from_raw(transcripts, tier).orderBy("bucket_start").collect()
        )
        assert served == direct and len(served) > 0, tier


def test_interrupted_resume_equals_cold(spark, transcripts, out, tmp_path):
    cold_root = str(tmp_path / "cold")
    run_pipeline(spark, transcripts, cold_root, input_snapshot="snapB", n_buckets=8)

    # simulate an interrupted run: only the first day completed
    day1 = transcripts.filter(F.col("ts") < "2024-01-02")
    m_part = run_pipeline(spark, transcripts.filter(F.col("ts") < "2024-01-02"),
                          out, input_snapshot="snapB", n_buckets=8)
    assert m_part["units_done"] > 0
    # resume with the FULL input under the same snapshot: only the
    # remaining (conv_bucket, day) units are recomputed
    m_res = run_pipeline(spark, transcripts, out, input_snapshot="snapB", n_buckets=8)
    assert 0 < m_res["units_done"] < m_res["units_total"]
    assert m_res["units_done"] + m_res["units_skipped"] == m_res["units_total"]

    for t in TABLES:
        a, b = _table_digest(spark, out, t), _table_digest(spark, cold_root, t)
        assert a == b, t


def _partition_files(root, name):
    """{partition-dir relpath: {(file, size, mtime_ns)}} of a table."""
    base = os.path.join(root, name)
    out = {}
    for dirpath, _dirs, files in os.walk(base):
        data = {(f, os.stat(os.path.join(dirpath, f)).st_size,
                 os.stat(os.path.join(dirpath, f)).st_mtime_ns)
                for f in files if f.endswith(".parquet")}
        if data:
            out[os.path.relpath(dirpath, base)] = data
    return out


def test_partial_resume_rewrites_only_what_pending_turns_reach(spark, transcripts, out, tmp_path):
    """A resume of an interrupted ingest under its snapshot rewrites the
    ``affected_units`` closure of its pending units' turns, as a repair
    rewrites the closure of its late turns: every tier equals a cold
    run's, and each ``rollup_1m_filled`` partition outside the closure
    keeps its file."""
    cold_root = str(tmp_path / "cold")
    run_pipeline(spark, transcripts, cold_root, input_snapshot="snapP", n_buckets=8)
    run_pipeline(spark, transcripts.filter(F.col("ts") < "2024-01-02"), out,
                 input_snapshot="snapP", n_buckets=8)
    done = spark.createDataFrame(
        sorted(CheckpointStore(spark, out).completed(ST.PIPELINE_JOB, "1m", "snapP")),
        "conv_bucket int, ts_day date")
    pending = CAT.with_layout_cols(transcripts, 8).join(done, ["conv_bucket", "ts_day"],
                                                         "left_anti")
    reach = {f"conv_bucket={r['conv_bucket']}/ts_day={r['ts_day']}"
             for r in affected_units(transcripts, pending, 8).collect()}
    before = _partition_files(out, "rollup_1m_filled")
    outside = sorted(set(before) - reach)
    assert outside

    m = run_pipeline(spark, transcripts, out, input_snapshot="snapP", n_buckets=8)
    assert 0 < m["units_done"] < m["units_total"]
    for t in TABLES:
        assert _table_digest(spark, out, t) == _table_digest(spark, cold_root, t), t
    after = _partition_files(out, "rollup_1m_filled")
    rewritten = [p for p in outside if after.get(p) != before[p]]
    assert not rewritten, f"{len(rewritten)} of {len(outside)} rewritten: {rewritten[:3]}"


def test_window_start_equals_date_trunc(spark):
    """The driver-side window of a unit day is the day Spark's
    ``date_trunc`` gives the pattern tables' layout."""
    days = [date(2023, 12, 1) + timedelta(days=i) for i in range(430)]
    windows = ("day", "week", "month", "year", "hour", "quarter", "minute")
    rows = (
        spark.createDataFrame([(d,) for d in days], "d date")
        .select("d", *[F.date_trunc(w, F.col("d").cast("timestamp")).cast("date").alias(w)
                       for w in windows])
        .orderBy("d")
        .collect()
    )
    assert [r["d"] for r in rows] == days
    for w in windows:
        assert [ST.window_start(d, w) for d in days] == [r[w] for r in rows], w


def test_resume_lineage_one_row_per_unit(spark, transcripts, out):
    """A resumed run records lineage for the units it commits only: after
    an interrupted run and its resume under one snapshot, every unit has
    exactly one lineage row."""
    run_pipeline(spark, transcripts.filter(F.col("ts") < "2024-01-02"), out,
                 input_snapshot="snapL", n_buckets=8)
    m = run_pipeline(spark, transcripts, out, input_snapshot="snapL", n_buckets=8)
    assert 0 < m["units_done"] < m["units_total"]
    lineage = spark.read.parquet(f"{out}/lineage").filter(F.col("job") == "rollup_pipeline")
    per_unit = lineage.groupBy("conv_bucket", "ts_bucket", "input_snapshot").count()
    assert per_unit.count() == m["units_total"]
    assert per_unit.filter(F.col("count") != 1).count() == 0


def test_new_snapshot_recomputes(spark, transcripts, out):
    m1 = run_pipeline(spark, transcripts, out, input_snapshot="s1", n_buckets=8)
    m2 = run_pipeline(spark, transcripts, out, input_snapshot="s2", n_buckets=8)
    assert m2["units_done"] == m1["units_done"]  # new snapshot = fresh work


def test_retention(spark, transcripts, out):
    run_pipeline(
        spark, transcripts, out, input_snapshot="s3", n_buckets=8,
        retention={"1m": "2024-01-02 00:00:00"},
    )
    r1m = CAT.read_table(spark, out, "rollup_1m")
    assert r1m.filter("bucket_start < timestamp '2024-01-02'").count() == 0
    assert r1m.count() > 0
    assert _rows_before(spark, out, "2024-01-02") == dict.fromkeys(TABLES_1M, 0)


def test_noop_resume_applies_retention(spark, transcripts, out):
    """Retention runs on every run: a resume that has nothing to write
    still drops the partitions past the horizon it is given."""
    run_pipeline(spark, transcripts, out, input_snapshot="s4", n_buckets=8)
    assert _rows_before(spark, out, "2024-01-03")["rollup_1m"] > 0
    m = run_pipeline(spark, transcripts, out, input_snapshot="s4", n_buckets=8,
                     retention={"1m": "2024-01-03 00:00:00"})
    assert m["units_done"] == 0
    assert _rows_before(spark, out, "2024-01-03") == dict.fromkeys(TABLES_1M, 0)


def test_noop_resume_retires_pattern_tables(spark, transcripts, out):
    """Retention reaches the pattern tables: a resume given a 1m horizon
    drops every pattern partition whose whole window lies before it and
    leaves the files of later partitions as they were."""
    from more_pattern_extraction_spark.plans.pipeline import run_pattern_stage

    pattern_tables = ["mp_day", "discords", "regimes"]
    horizon = date(2024, 1, 3)

    def rows_before():
        return {t: CAT.read_table(spark, out, t).filter(f"ts_day < date '{horizon}'").count()
                for t in pattern_tables}

    def later_files():
        return {t: {p: f for p, f in _partition_files(out, t).items()
                    if date.fromisoformat(p.split("ts_day=")[1]) >= horizon}
                for t in pattern_tables}

    run_pipeline(spark, transcripts, out, input_snapshot="s5", n_buckets=8)
    run_pattern_stage(spark, out, n_buckets=8, m=16, window="day", k=2)
    assert all(rows_before().values()), rows_before()
    kept = later_files()
    assert all(kept.values())
    m = run_pipeline(spark, transcripts, out, input_snapshot="s5", n_buckets=8,
                     retention={"1m": f"{horizon} 00:00:00"})
    assert m["units_done"] == 0
    assert rows_before() == dict.fromkeys(pattern_tables, 0)
    assert later_files() == kept


def test_retire_keeps_pattern_windows_that_reach_the_horizon(tmp_path):
    """A week-window pattern partition is keyed on its Monday: it goes
    only when its whole week lies before the 1m horizon, and the shared
    ``discords`` and ``regimes`` tables follow the same cut."""
    root = str(tmp_path)
    mondays = ["2023-12-25", "2024-01-01", "2024-01-08"]
    for t in ("mp_week", "discords", "regimes"):
        for d in mondays:
            os.makedirs(os.path.join(root, t, "conv_bucket=0", f"ts_day={d}"))
    ST.retire(root, {"1m": "2024-01-03 00:00:00"})
    for t in ("mp_week", "discords", "regimes"):
        assert sorted(os.listdir(os.path.join(root, t, "conv_bucket=0"))) == [
            "ts_day=2024-01-01", "ts_day=2024-01-08"], t


def test_null_ts_turn_belongs_to_no_unit(spark, transcripts, out, tmp_path):
    """A turn with a NULL ``ts`` has no ``ts_day``, so it belongs to no
    unit: ingest and a no-op resume run, and every tier table equals a run
    over the features with that turn filtered out after ``turn_features``
    (the next turn keeps its NULL latency)."""
    from more_pattern_extraction_spark.operators import rollup as R

    hole = (F.col("conv_id") == "conv_00003") & (F.col("turn_idx") == 5)
    turns = transcripts.withColumn(
        "ts", F.when(hole, F.lit(None).cast("timestamp")).otherwise(F.col("ts"))
    )
    assert turns.filter(F.col("ts").isNull()).count() == 1
    m1 = run_pipeline(spark, turns, out, input_snapshot="snapN", n_buckets=8)
    m2 = run_pipeline(spark, turns, out, input_snapshot="snapN", n_buckets=8)
    assert m1["units_done"] > 0 and m2["units_done"] == 0

    ref = str(tmp_path / "ref")
    feats = R.turn_features(turns).filter(F.col("ts").isNotNull())
    run_pipeline(spark, feats, ref, input_snapshot="snapN", n_buckets=8, latency_col="latency")
    for t in TABLES:
        assert _table_digest(spark, out, t) == _table_digest(spark, ref, t), t


def test_pattern_stage_tables(spark, transcripts, out):
    """The optional pattern stage persists MP / discord / regime tables
    derived from the gap-filled grid (north star: pattern extraction as
    continuous aggregates)."""
    from more_pattern_extraction_spark.plans.pipeline import run_pattern_stage

    run_pipeline(spark, transcripts, out, input_snapshot="s4", n_buckets=8)
    m = run_pattern_stage(spark, out, n_buckets=8, m=16, window="day", k=2)
    assert m["mp_rows"] > 0 and m["discord_rows"] > 0
    mp = CAT.read_table(spark, out, "mp_day")
    assert m["mp_rows"] == mp.count()
    assert m["discord_rows"] == CAT.read_table(spark, out, "discords").count()
    assert m["regime_rows"] == CAT.read_table(spark, out, "regimes").count()
    assert {"conv_id", "pos", "mp", "pi", "win"} <= set(mp.columns)
    disc = CAT.read_table(spark, out, "discords")
    # window-local extraction: discord positions are window-local and every
    # (conv, win) emits at most k rows
    per = disc.groupBy("conv_id", "win").count().agg(F.max("count")).collect()[0][0]
    assert per <= 2
    reg = CAT.read_table(spark, out, "regimes")
    assert reg.count() >= 0 and {"conv_id", "win", "L", "regime_pos", "cac"} <= set(reg.columns)


def test_pattern_tables_keep_conv_ids_with_hash(spark, transcripts, out):
    """A ``#`` inside a conversation id survives the pattern stage's
    ``(conv_id, win)`` group key: every discord and regime row names a
    window that ``mp_day`` holds, and none loses its window."""
    from more_pattern_extraction_spark.plans.pipeline import run_pattern_stage

    turns = transcripts.withColumn("conv_id", F.concat(F.lit("team#"), "conv_id"))
    run_pipeline(spark, turns, out, input_snapshot="hash", n_buckets=8)
    run_pattern_stage(spark, out, n_buckets=8, m=16, window="day", k=2)

    def keys(table):
        rows = CAT.read_table(spark, out, table).select("conv_id", "win").distinct().collect()
        return {(r["conv_id"], r["win"]) for r in rows}

    mp = keys("mp_day")
    assert mp and all(c.startswith("team#conv_") and w is not None for c, w in mp)
    for table in ("discords", "regimes"):
        got = keys(table)
        assert got, table
        assert all(w is not None for _, w in got), table
        assert got <= mp, (table, sorted(got - mp, key=str)[:3])


def test_tier_sketch_p95_merge_identity_end_to_end(spark, transcripts, out):
    """Persisted tiers carry the mergeable latency sketch (VERDICT r04 #3):
    the 1h tier's sketch — merged from the STORED 1m maps through
    checkpoint/write/read, never rescanning raw — must equal building the
    sketch directly from raw turns at 1h, bin-for-bin, and so must its
    derived p95/count."""
    from more_pattern_extraction_spark.operators import rollup as R
    from more_pattern_extraction_spark.operators import sketch as SK

    run_pipeline(spark, transcripts, out, input_snapshot="s_sk", n_buckets=8)

    for tier in ("1m", "1h", "1d"):
        t = CAT.read_table(spark, out, f"rollup_{tier}")
        assert {"latency_sketch", "latency_cnt_sketch", "latency_p95_sketch"} <= set(t.columns), tier

    stored_1h = CAT.read_table(spark, out, "rollup_1h").select(
        "conv_id", "bucket_start", "latency_sketch",
        "latency_cnt_sketch", "latency_p95_sketch",
    ).filter(F.col("latency_sketch").isNotNull())
    direct_1h = SK.sketch_quantile(
        SK.sketch_from_raw(R.turn_features(transcripts), "1h")
    )
    # exact map equality + exact p95/count equality (merge identity is
    # bit-for-bit: binning is per-value, merge is integer sums)
    joined = stored_1h.alias("s").join(
        direct_1h.alias("d"), ["conv_id", "bucket_start"], "full"
    )
    n = joined.count()
    assert n == direct_1h.count() == stored_1h.count()
    ents = lambda side: F.array_sort(F.map_entries(F.col(f"{side}.latency_sketch")))
    bad = joined.filter(
        (ents("s") != ents("d"))  # maps aren't comparable; sorted entries are
        | (F.col("s.latency_cnt_sketch") != F.col("d.latency_cnt_sketch"))
        | (F.col("s.latency_p95_sketch") != F.col("d.latency_p95_sketch"))
        | F.col("s.latency_sketch").isNull() | F.col("d.latency_sketch").isNull()
    ).count()
    assert bad == 0


LEDGER = ("checkpoints", "lineage", "metrics")
RUN_METRICS = ("wall_s", "turns", "turns_per_s", "units_total", "units_done", "units_skipped")


def _spark_ledger(spark, root, units, snap):
    """The ledger of a finished ingest of ``units`` as Spark's writer lays
    it out (INT96 timestamps, ``_SUCCESS`` and ``.crc`` files), the layout
    of every ledger written before the driver wrote it."""
    def stamped(df, ts_col):
        return (df.withColumn("job", F.lit(ST.PIPELINE_JOB)).withColumn("tier", F.lit("1m"))
                .withColumn("input_snapshot", F.lit(snap)).withColumn(ts_col, F.current_timestamp()))

    keys = spark.createDataFrame(units, "conv_bucket int, ts_day date").coalesce(1)
    keys = keys.select("conv_bucket", F.col("ts_day").cast("timestamp").alias("ts_bucket"))
    stamped(keys, "completed_at").select(
        "job", "tier", "conv_bucket", "ts_bucket", "input_snapshot", "completed_at"
    ).write.mode("append").parquet(f"{root}/checkpoints")
    lineage = content_hash(CAT.read_table(spark, root, "rollup_1m"), ST.LINEAGE_COLS).select(
        "conv_bucket", F.col("ts_day").cast("timestamp").alias("ts_bucket"), "rows_out",
        "content_hash")
    stamped(lineage, "recorded_at").write.mode("append").parquet(f"{root}/lineage")
    spark.createDataFrame(
        [(ST.PIPELINE_JOB, "spark-written", time.time(), 1.0, 2.0, 2.0, 3.0, 3.0, 0.0)],
        "job string, run_id string, ts double, " + ", ".join(f"{k} double" for k in RUN_METRICS),
    ).write.mode("append").parquet(f"{root}/metrics")


def test_resume_and_repair_over_spark_written_ledger(spark, transcripts, out, tmp_path):
    """A ledger Spark wrote still resumes and repairs, and the files the
    driver adds to it read back in Spark with the schema of Spark's."""
    late_p = (F.col("conv_id") == "conv_00005") & (F.col("turn_idx") >= 20)
    ontime, late = transcripts.filter(~late_p), transcripts.filter(late_p)
    run_pipeline(spark, ontime, out, input_snapshot="s_on", n_buckets=8)
    units = sorted(tuple(r) for r in CAT.with_layout_cols(ontime, 8)
                   .select("conv_bucket", "ts_day").distinct().collect())
    driver, written = tmp_path / "driver", tmp_path / "spark"
    driver.mkdir()
    for t in LEDGER:
        shutil.move(f"{out}/{t}", driver / t)
    _spark_ledger(spark, out, units, "s_on")
    for t in LEDGER:
        shutil.copytree(f"{out}/{t}", written / t)
    names = os.listdir(f"{out}/checkpoints")
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    part = next(n for n in names if n.endswith(".parquet"))
    assert pq.ParquetFile(f"{out}/checkpoints/{part}").schema.column(3).physical_type == "INT96"

    m = run_pipeline(spark, ontime, out, input_snapshot="s_on", n_buckets=8)
    assert m["units_done"] == 0 and m["units_total"] == len(units)
    hit = {tuple(r) for r in affected_units(transcripts, late, 8).collect()}
    r = repair_late_turns(spark, transcripts, late, out, input_snapshot="s_m",
                          prior_snapshot="s_on", n_buckets=8)
    assert r["units_carried"] == len(set(units) - hit) > 0
    assert run_pipeline(spark, transcripts, out, input_snapshot="s_m", n_buckets=8)["units_done"] == 0

    # the mixed directories read with every column
    rows = CheckpointStore(spark, out).metrics().collect()
    assert len(rows) == 4
    for row in rows:
        keys = RUN_METRICS if row.job == ST.PIPELINE_JOB else ("units_repaired", "units_carried")
        assert all(row[k] is not None for k in ("run_id", "ts") + keys), row
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.schema == spark.read.parquet(str(written / "lineage")).schema
    assert lineage.filter(F.col("job") == "late_repair").count() == r["units_repaired"]
    assert lineage.count() == len(units) + r["units_repaired"]
    assert lineage.dropna().count() == lineage.count()
    # a table the driver wrote reads as the one Spark wrote
    for t in LEDGER:
        assert (spark.read.parquet(str(driver / t)).schema
                == spark.read.parquet(str(written / t)).schema), t


@pytest.fixture()
def los_angeles_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _midnight_utc(d):
    return calendar.timegm(d.timetuple())


def test_ledger_keys_ignore_process_time_zone(spark, transcripts, out, tmp_path, los_angeles_tz):
    """The Python process's local time zone (8 hours west of UTC here)
    moves no unit to another day: each ``ts_bucket`` is its unit's day
    at 00:00 UTC, and a commit leaves nothing pending."""
    assert time.localtime(0).tm_hour == 16
    cp = CheckpointStore(spark, str(tmp_path / "ledger"))
    units = [(1, date(2024, 1, 1)), (5, date(2024, 1, 2))]
    cp.commit(units, "job", "1m", "s")
    assert cp.completed("job", "1m", "s") == set(units)
    assert cp.pending_units(units, "job", "1m", "s") == []
    cp.record_lineage("job", "1m", "s", spark.createDataFrame(
        [(b, d, 1, 2) for b, d in units],
        "conv_bucket int, ts_day date, rows_out long, content_hash long"))
    want = {(b, _midnight_utc(d)) for b, d in units}
    for t in ("checkpoints", "lineage"):
        got = spark.read.parquet(f"{cp.root}/{t}").select(
            "conv_bucket", F.col("ts_bucket").cast("long")).collect()
        assert {tuple(r) for r in got} == want, t

    small = transcripts.filter(F.col("conv_id") <= "conv_00003")
    m = run_pipeline(spark, small, out, input_snapshot="s_tz", n_buckets=8)
    days = {tuple(r) for r in CAT.with_layout_cols(small, 8)
            .select("conv_bucket", "ts_day").distinct().collect()}
    got = spark.read.parquet(f"{out}/checkpoints").select(
        "conv_bucket", F.col("ts_bucket").cast("long")).collect()
    assert {tuple(r) for r in got} == {(b, _midnight_utc(d)) for b, d in days}
    assert m["units_done"] == len(days)
    assert run_pipeline(spark, small, out, input_snapshot="s_tz", n_buckets=8)["units_done"] == 0
