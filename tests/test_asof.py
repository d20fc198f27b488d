"""As-of join (operators/asof.py): backward-inclusive semantics, tie
handling, tolerance, and the one-Exchange plan shape.  Engine-level
parity with DuckDB's native ASOF LEFT JOIN is the driver row
``asof_enrich``."""

import datetime as dt

from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators.asof import asof_join
from more_pattern_extraction_spark.plans import partitioning as P

T0 = dt.datetime(2024, 1, 1)


def _m(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def _frames(spark):
    left = spark.createDataFrame(
        [("a", _m(5), 1), ("a", _m(10), 2), ("a", _m(20), 3), ("b", _m(1), 4)],
        ["k", "ts", "lid"],
    )
    right = spark.createDataFrame(
        [("a", _m(0), "v0"), ("a", _m(10), "v10"), ("b", _m(30), "late")],
        ["k", "ts", "state"],
    )
    return left, right


def test_backward_inclusive_and_unmatched_null(spark):
    left, right = _frames(spark)
    rows = {
        r.lid: (r.state_asof, r.ts_asof)
        for r in asof_join(left, right, on="k").collect()
    }
    assert rows[1] == ("v0", _m(0))      # strictly-before match
    assert rows[2] == ("v10", _m(10))    # EQUAL timestamp matches (inclusive)
    assert rows[3] == ("v10", _m(10))    # latest, not first
    assert rows[4] == (None, None)       # right row is in the future


def test_tolerance_nulls_stale_matches(spark):
    left, right = _frames(spark)
    rows = {
        r.lid: r.state_asof
        for r in asof_join(left, right, on="k", tolerance_s=300).collect()
    }
    assert rows[1] == "v0"      # 5 min old == bound, inclusive
    assert rows[2] == "v10"
    assert rows[3] is None      # 10 min old > 5 min tolerance
    assert rows[4] is None


def test_left_columns_and_row_count_preserved(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="k")
    assert out.count() == left.count()
    assert set(out.columns) == {"k", "ts", "lid", "state_asof", "ts_asof"}


def test_single_exchange_plan(spark):
    """|L|+|R| union rows through ONE key shuffle — the property that
    distinguishes this form from a range join (which explodes) or a
    per-row subquery."""
    left, right = _frames(spark)
    plan = (
        asof_join(left, right, on="k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1


def test_suffix_collision_raises(spark):
    """ADVICE r06 #5: re-enriching a frame whose columns already carry the
    suffixed output names must fail loudly, not silently collide."""
    from pyspark.sql import functions as F

    from more_pattern_extraction_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 1.0, 2.0)], "conv_id string, ts double, price_asof double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("k", 1.0, 3.0)], "conv_id string, ts double, price double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="price_asof"):
        asof_join(left, right, on="conv_id")


def test_segmented_equals_plain(spark, monkeypatch):
    """Property: the (key, day)-segmented block-carry form is bit-equal to
    the single-window plain form — multi-day spread, NULL payload values
    (per-column ignorenulls carry), equal-timestamp right/left rows, and
    keys whose whole history sits in one block."""
    import random

    rng = random.Random(7)
    keys = ["a", "b", "c"]
    left_rows, right_rows = [], []
    for k in keys:
        for _ in range(40):
            ts = T0 + dt.timedelta(minutes=rng.randrange(0, 5 * 1440))
            left_rows.append((k, ts, rng.randrange(1000)))
        seen = set()
        for _ in range(25):
            ts = T0 + dt.timedelta(minutes=rng.randrange(0, 5 * 1440))
            if (k, ts) in seen:
                continue
            seen.add((k, ts))
            val = None if rng.random() < 0.3 else f"v{rng.randrange(100)}"
            aux = None if rng.random() < 0.5 else float(rng.randrange(10))
            right_rows.append((k, ts, val, aux))
    # one key entirely inside a single day (degenerate-block case)
    left_rows.append(("z", _m(3), 999))
    right_rows.append(("z", _m(1), "zv", 1.0))
    left = spark.createDataFrame(left_rows, ["k", "ts", "lid"])
    right = spark.createDataFrame(right_rows, ["k", "ts", "state", "aux"])

    def run(segmented, **kw):
        monkeypatch.setattr(P, "HOT_KEY_ROWS", 0 if segmented else 10**12)
        out = asof_join(left, right, on="k", **kw)
        return sorted(map(tuple, out.collect()))

    for tol in (None, 3600):
        plain = run(False, tolerance_s=tol)
        seg = run(True, tolerance_s=tol)
        assert plain == seg
