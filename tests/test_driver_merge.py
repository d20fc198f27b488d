"""``sketch_cascade`` and ``kmv_cascade`` merged on the driver equal their
Spark plans, which a ``local.DRIVER_MERGE_ENTRIES`` of 0 (or −1 for an
empty input, which is within any cap of 0 or more) forces: the same
rows, map entries in the same order, and the same column names and
types."""

import datetime as dt
import hashlib
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import distinct as DK
from more_pattern_extraction_spark.operators import local as LOCAL
from more_pattern_extraction_spark.operators import sketch as SK
from more_pattern_extraction_spark.plans.pipeline import run_pipeline
from more_pattern_extraction_spark.sources import catalog as CAT


@pytest.fixture(scope="module")
def tiers(spark, transcripts, tmp_path_factory):
    """The fixture's tier tables as a run stores them."""
    out = str(tmp_path_factory.mktemp("merge_parity") / "out")
    run_pipeline(spark, transcripts, out, input_snapshot="m_on", n_buckets=8)
    return {t: CAT.read_table(spark, out, t) for t in ("rollup_1m", "rollup_1h", "distinct_1m")}


def _rows(df):
    """A frame's rows in one order, each map as its list of entries."""
    return sorted(
        (tuple(list(v.items()) if isinstance(v, dict) else v for v in r) for r in df.collect()),
        key=repr,
    )


def _plan_of(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_paths_equal(build, monkeypatch, plan_cap=0):
    """``build()`` on the driver path equals it on the plan path; returns
    the driver path's rows."""
    driver = build()
    assert _plan_of(driver).startswith("LocalTableScan"), _plan_of(driver)
    with monkeypatch.context() as m:
        m.setattr(LOCAL, "DRIVER_MERGE_ENTRIES", plan_cap)
        plan = build()
    assert not _plan_of(plan).startswith("LocalTableScan"), _plan_of(plan)
    assert driver.dtypes == plan.dtypes
    got = _rows(driver)
    assert got == _rows(plan)
    return got


def _scopes(table):
    """One conversation-day, one day across every bucket, the whole table
    and three seeded random unit sets of a stored tier table."""
    units = sorted({(r.conv_bucket, r.ts_day) for r in
                    table.select("conv_bucket", "ts_day").collect()})
    r = table.orderBy("conv_bucket", "ts_day").first()
    scopes = {
        "day": F.col("ts_day") == r.ts_day,
        "table": F.lit(True),
    }
    if "conv_id" in table.columns:
        scopes["conv_day"] = (F.col("conv_bucket") == r.conv_bucket) & (
            F.col("ts_day") == r.ts_day) & (F.col("conv_id") == r.conv_id)
    for seed in range(3):
        rng = np.random.default_rng(seed)
        pick = rng.choice(len(units), size=min(len(units), 2 + seed * 3), replace=False)
        scope = F.lit(False)
        for i in pick:
            b, d = units[i]
            scope = scope | ((F.col("conv_bucket") == b) & (F.col("ts_day") == d))
        scopes[f"units_seed{seed}"] = scope
    return scopes


def test_sketch_merge_equals_plan_on_stored_tiers(tiers, monkeypatch):
    for src, to in (("rollup_1h", "1d"), ("rollup_1m", "1h")):
        table = tiers[src]
        for name, scope in _scopes(table).items():
            sk = table.filter(scope).select("conv_id", "bucket_start", "latency_sketch")
            got = _assert_paths_equal(
                lambda: SK.sketch_quantile(SK.sketch_cascade(sk, to)), monkeypatch)
            assert got, (src, name)


def test_kmv_merge_equals_plan_on_stored_tiers(tiers, monkeypatch):
    table = tiers["distinct_1m"]
    for to in ("1h", "1d"):
        for name, scope in _scopes(table).items():
            kmv = table.filter(scope)
            got = _assert_paths_equal(
                lambda: DK.kmv_estimate(DK.kmv_cascade(kmv, to, from_tier="1m")), monkeypatch)
            assert got, (to, name)


def test_sketch_merge_of_null_and_empty_maps(spark, monkeypatch):
    """NULL and empty child maps reach no coarse bucket on either path."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0, {5: 1, 9: 2}), ("a", t0 + dt.timedelta(minutes=1), None),
        ("a", t0 + dt.timedelta(minutes=2), {}), ("a", t0 + dt.timedelta(minutes=3), {9: 1, 11: 4}),
        ("a", t0 + dt.timedelta(hours=1), {}), ("b", t0, None), ("c", t0, {}), ("d", t0, {0: 7}),
        ("it's", t0, {3: 1}), ("back\\slash", t0, {4: 1}),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, latency_sketch map<int, bigint>")
    got = _assert_paths_equal(lambda: SK.sketch_cascade(df, "1h"), monkeypatch)
    assert {r[0]: r[2] for r in got} == {
        "a": [(5, 1), (9, 3), (11, 4)], "d": [(0, 7)], "it's": [(3, 1)], "back\\slash": [(4, 1)]}


def test_kmv_merge_around_k(spark, monkeypatch):
    """Hour buckets whose one-minute partials hold k−1, k and k+1
    distinct hashes between them, repeated across minutes."""
    k = 5
    hashes = sorted(hashlib.md5(f"conv_{i}".encode()).hexdigest() for i in range(k + 1))
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for hour, n in enumerate((k - 1, k, k + 1)):
        for minute in range(3):
            part = hashes[:n][minute::2] + hashes[:1]
            rows.append((t0 + dt.timedelta(hours=hour, minutes=minute), sorted(set(part))))
    df = spark.createDataFrame(rows, "bucket_start timestamp, conv_kmv array<string>")
    got = _assert_paths_equal(
        lambda: DK.kmv_estimate(DK.kmv_cascade(df, "1h", k, from_tier="1m"), k), monkeypatch)
    assert [r[2] for r in got] == [k - 1, k, k]
    assert got[2][1] == hashes[:k]


def test_merges_of_no_entries_are_empty_frames(tiers, monkeypatch):
    none = F.col("ts_day") < dt.date(2000, 1, 1)
    sk = tiers["rollup_1h"].filter(none).select("conv_id", "bucket_start", "latency_sketch")
    kmv = tiers["distinct_1m"].filter(none)
    assert _assert_paths_equal(
        lambda: SK.sketch_quantile(SK.sketch_cascade(sk, "1d")), monkeypatch, plan_cap=-1) == []
    assert _assert_paths_equal(
        lambda: DK.kmv_estimate(DK.kmv_cascade(kmv, "1d", from_tier="1m")), monkeypatch,
        plan_cap=-1) == []


def test_merges_ignore_process_time_zone(tiers, monkeypatch, los_angeles_tz):
    """Coarse buckets come back from the driver path at the same instants
    as from the plan while the Python process is 8 hours west of UTC."""
    assert time.localtime(0).tm_hour == 16
    sk = tiers["rollup_1m"].select("conv_id", "bucket_start", "latency_sketch")
    assert _assert_paths_equal(lambda: SK.sketch_cascade(sk, "1d"), monkeypatch)
    assert _assert_paths_equal(
        lambda: DK.kmv_cascade(tiers["distinct_1m"], "1h", from_tier="1m"), monkeypatch)


def test_off_grid_kmv_cascade_raises_before_any_job(tiers, spark_jobs):
    kmv = tiers["distinct_1m"]

    def cascade():
        with pytest.raises(ValueError, match="multiple"):
            DK.kmv_cascade(kmv, "90s", from_tier="1m")

    _, jobs = spark_jobs("off_grid_kmv", cascade)
    assert jobs == 0
