"""Incremental late-data repair (plans/repair.py): ontime-run + repair
must be bit-identical to a cold full run on EVERY tier table, while only
the provably-affected (conv_bucket, ts_day) partitions are rewritten."""

import os

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans.pipeline import run_pipeline
from more_pattern_extraction_spark.plans.repair import affected_units, repair_late_turns
from more_pattern_extraction_spark.sources import catalog as CAT

TABLES = ["rollup_1m", "distinct_1m", "rollup_1m_filled", "chunks_1m", "rollup_1h", "rollup_1d"]
TABLES_1M = ["rollup_1m", "distinct_1m", "rollup_1m_filled", "chunks_1m"]


def _table_digest(spark, root, name):
    df = CAT.read_table(spark, root, name)
    cols = sorted(c for c in df.columns if c != "tier")
    return (
        df.select(
            F.sum(
                F.pmod(
                    F.xxhash64(*[F.col(c).cast("string") for c in cols]),
                    F.lit(1_000_000_007),
                )
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
    )


def _partition_files(root, name):
    """{partition-dir relpath: {(file, size, mtime_ns)}} for a tier table."""
    base = os.path.join(root, name)
    out = {}
    for dirpath, _dirs, files in os.walk(base):
        rel = os.path.relpath(dirpath, base)
        data = {
            (f, os.stat(os.path.join(dirpath, f)).st_size,
             os.stat(os.path.join(dirpath, f)).st_mtime_ns)
            for f in files if f.endswith(".parquet")
        }
        if data:
            out[rel] = data
    return out


def _late_predicate():
    # a mid-conversation turn (splits an interpolation run / shifts the
    # successor's lag latency) + the final turns of another conversation
    # (extends the gap-fill grid past the old max bucket)
    return (
        ((F.col("conv_id") == "conv_00003") & (F.col("turn_idx") == 7))
        | ((F.col("conv_id") == "conv_00005") & (F.col("turn_idx") >= 20))
    )


@pytest.fixture(scope="module")
def split(transcripts):
    late = transcripts.filter(_late_predicate()).cache()
    ontime = transcripts.filter(~_late_predicate()).cache()
    assert late.count() > 0 and ontime.count() > 0
    return ontime, late


def test_repair_equals_cold_run_and_is_incremental(spark, transcripts, split, tmp_path):
    ontime, late = split
    cold = str(tmp_path / "cold")
    out = str(tmp_path / "out")
    run_pipeline(spark, transcripts, cold, input_snapshot="s_full", n_buckets=8)
    run_pipeline(spark, ontime, out, input_snapshot="s_ontime", n_buckets=8)

    units = {
        (r["conv_bucket"], str(r["ts_day"]))
        for r in affected_units(transcripts, late, 8).collect()
    }
    assert units, "late turns must map to at least one affected unit"
    before = {t: _partition_files(out, t) for t in TABLES}

    m = repair_late_turns(
        spark, transcripts, late, out,
        input_snapshot="s_merged", prior_snapshot="s_ontime", n_buckets=8,
    )
    assert m["units_repaired"] == len(units)
    assert m["late_turns"] == late.count()

    # every tier bit-identical to the cold full run
    for t in TABLES:
        assert _table_digest(spark, out, t) == _table_digest(spark, cold, t), t

    # incrementality: partitions OUTSIDE the affected unit set untouched
    # (same files, sizes, mtimes); at least one affected partition rewritten
    touched = {f"conv_bucket={b}/ts_day={d}" for b, d in units}
    for t in TABLES:
        after = _partition_files(out, t)
        for part, files in before[t].items():
            if part not in touched:
                assert after.get(part) == files, f"{t}/{part} was rewritten"
        changed = [p for p in after if p in touched and after[p] != before[t].get(p)]
        assert changed, f"{t}: no affected partition rewritten"

    # checkpoint certifies the merged snapshot: resume is a no-op
    m2 = run_pipeline(spark, transcripts, out, input_snapshot="s_merged", n_buckets=8)
    assert m2["units_done"] == 0

    # repair lineage + metrics recorded
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.filter(F.col("job") == "late_repair").count() > 0
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.filter(F.col("job") == "late_repair").count() == 1


def test_affected_units_bounds(spark, transcripts, split):
    _ontime, late = split
    units = affected_units(transcripts, late, 8)
    rows = units.collect()
    # bounded: a handful of (bucket, day) units, never the whole table
    all_units = (
        CAT.with_layout_cols(transcripts, 8)
        .select("conv_bucket", "ts_day").distinct().count()
    )
    assert 0 < len(rows) < all_units
    # every late turn's own (bucket, day) is included
    late_units = {
        (r["conv_bucket"], r["ts_day"])
        for r in CAT.with_layout_cols(late, 8)
        .select("conv_bucket", "ts_day").distinct().collect()
    }
    assert late_units <= {(r["conv_bucket"], r["ts_day"]) for r in rows}


def _rows_before(spark, root, horizon):
    """{table: rows before the horizon's day} of the 1m-resolution tables."""
    return {t: CAT.read_table(spark, root, t).filter(f"ts_day < date '{horizon[:10]}'").count()
            for t in TABLES_1M}


def test_repair_respects_retention(spark, transcripts, tmp_path):
    """A repair must not resurrect partitions retention already dropped
    (the recompute reads raw, which still holds the old turns), and every
    tier must equal a cold retained run: units older than the 1m horizon
    are recomputed, so the coarser tiers take the late turn, and then
    retired."""
    horizon = "2024-01-03 00:00:00"
    ret = {"1m": horizon}
    # one late turn before the horizon, one after
    old_pred = (F.col("conv_id") == "conv_00003") & (F.col("turn_idx") == 2)
    new_src = transcripts.filter(
        (F.col("conv_id") == "conv_00000") & (F.col("ts") >= horizon)
    ).orderBy("turn_idx").limit(1)
    new_key = [(r["conv_id"], r["turn_idx"]) for r in new_src.collect()]
    assert new_key, "fixture must have post-horizon turns"
    pred = old_pred | (
        (F.col("conv_id") == new_key[0][0]) & (F.col("turn_idx") == new_key[0][1])
    )
    late, ontime = transcripts.filter(pred), transcripts.filter(~pred)
    assert late.count() == 2
    assert late.filter(F.col("ts") < horizon).count() >= 1

    cold, out = str(tmp_path / "cold"), str(tmp_path / "out")
    run_pipeline(spark, transcripts, cold, input_snapshot="sf", n_buckets=8,
                 retention=ret)
    run_pipeline(spark, ontime, out, input_snapshot="so", n_buckets=8,
                 retention=ret)

    m = repair_late_turns(
        spark, transcripts, late, out, input_snapshot="sm",
        prior_snapshot="so", n_buckets=8, retention=ret,
    )
    assert m["units_repaired"] >= 1

    # no resurrection: nothing before the horizon came back
    r1m = CAT.read_table(spark, out, "rollup_1m")
    assert r1m.filter(f"ts_day < date '{horizon[:10]}'").count() == 0
    assert _rows_before(spark, out, horizon) == dict.fromkeys(TABLES_1M, 0)

    # the raw-derived tier matches a cold retained run exactly
    assert _table_digest(spark, out, "rollup_1m") == _table_digest(
        spark, cold, "rollup_1m"
    )
    for t in TABLES:
        assert _table_digest(spark, out, t) == _table_digest(spark, cold, t), t


def test_repair_pattern_stage_equals_cold(spark, transcripts, split, tmp_path):
    """repair_late_turns + run_pattern_stage over the repaired units
    reconcile the pattern tables (mp/discords/regimes) bit-identically to a cold full run,
    touching only the affected (conv_bucket, window) partitions."""
    from more_pattern_extraction_spark.plans.pipeline import run_pattern_stage

    ontime, late = split
    cold, out = str(tmp_path / "cold"), str(tmp_path / "out")
    run_pipeline(spark, transcripts, cold, input_snapshot="pf", n_buckets=8)
    run_pattern_stage(spark, cold, n_buckets=8, m=16, window="day", k=2)
    run_pipeline(spark, ontime, out, input_snapshot="po", n_buckets=8)
    run_pattern_stage(spark, out, n_buckets=8, m=16, window="day", k=2)

    units = {
        (r["conv_bucket"], str(r["ts_day"]))
        for r in affected_units(transcripts, late, 8).collect()
    }
    ptables = ["mp_day", "discords", "regimes"]
    before = {t: _partition_files(out, t) for t in ptables}

    r = repair_late_turns(spark, transcripts, late, out, input_snapshot="pm",
                          prior_snapshot="po", n_buckets=8)
    pm = run_pattern_stage(spark, out, n_buckets=8, m=16, window="day", k=2,
                           units=r["units"])
    assert pm["windows_repaired"] >= 1

    for t in ptables:
        assert _table_digest(spark, out, t) == _table_digest(spark, cold, t), t

    # window="day" → affected pattern partitions == affected units
    touched = {f"conv_bucket={b}/ts_day={d}" for b, d in units}
    for t in ptables:
        after = _partition_files(out, t)
        for part, files in before[t].items():
            if part not in touched:
                assert after.get(part) == files, f"{t}/{part} was rewritten"


def test_locf_carry_past_next_day_is_repaired(spark, tmp_path):
    """ADVICE r06 #1 regression: a late turn changes its successor's lag
    latency; when that successor is the last (here: only) anchor of the
    next present day and a multi-day pure gap follows, the changed value
    LOCF-carries into grid days BEYOND next_day.  The affected-unit bound
    must therefore extend one more present day (lead 2), and the repaired
    filled table must equal a cold rerun bit-for-bit."""
    rows = [
        ("c1", 0, "user", "t", None, "2024-01-01 10:00:00"),
        ("c1", 1, "user", "t", None, "2024-01-01 12:00:00"),  # the late turn
        ("c1", 2, "user", "t", None, "2024-01-03 10:00:00"),  # only anchor of next day
        ("c1", 3, "user", "t", None, "2024-01-06 10:00:00"),  # after a >=2-day pure gap
    ]
    merged = spark.createDataFrame(
        [(c, i, r, x, tl, __import__("datetime").datetime.fromisoformat(ts))
         for c, i, r, x, tl, ts in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    pred = F.col("turn_idx") == 1
    late, ontime = merged.filter(pred), merged.filter(~pred)

    units = {
        str(r["ts_day"]) for r in affected_units(merged, late, 4).collect()
    }
    # the carry run beyond next_day (2024-01-04/05) and its closing anchor
    # day must be inside the repair scope
    assert {"2024-01-04", "2024-01-05", "2024-01-06"} <= units

    cold, out = str(tmp_path / "cold"), str(tmp_path / "out")
    run_pipeline(spark, merged, cold, input_snapshot="s_full", n_buckets=4)
    run_pipeline(spark, ontime, out, input_snapshot="s_ontime", n_buckets=4)
    repair_late_turns(spark, merged, late, out,
                      input_snapshot="s_merged", prior_snapshot="s_ontime",
                      n_buckets=4)
    for t in TABLES:
        assert _table_digest(spark, out, t) == _table_digest(spark, cold, t), t


def test_repair_all_outside_retention_still_certifies(spark, transcripts, tmp_path):
    """ADVICE r06 #3 regression: when every late unit is outside the
    retention horizon the repair must still carry the prior snapshot's
    completed units forward under the merged snapshot, so a follow-up
    resume is a no-op instead of a full recompute, and must leave no row
    from before the horizon."""
    # mid-range horizon: the short conv_00003 (span ~a day from the fixture
    # start) falls entirely before it — every late unit is retired — while
    # the hot conversation keeps post-horizon units so the tier tables stay
    # non-empty
    horizon = "2024-01-05 00:00:00"
    ret = {"1m": horizon}
    pred = (F.col("conv_id") == "conv_00003") & (F.col("turn_idx") == 2)
    late, ontime = transcripts.filter(pred), transcripts.filter(~pred)
    out = str(tmp_path / "out")
    run_pipeline(spark, ontime, out, input_snapshot="so", n_buckets=8,
                 retention=ret)
    m = repair_late_turns(spark, transcripts, late, out, input_snapshot="sm",
                          prior_snapshot="so", n_buckets=8, retention=ret)
    assert _rows_before(spark, out, horizon) == dict.fromkeys(TABLES_1M, 0)
    assert m["units_carried"] > 0
    m2 = run_pipeline(spark, transcripts, out, input_snapshot="sm",
                      n_buckets=8, retention=ret)
    assert m2["units_done"] == 0
