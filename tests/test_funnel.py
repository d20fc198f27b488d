"""Funnel (operators/funnel.py): step chaining, gap bound, stall,
furthest-step report, and the one-Exchange plan.  Engine-level parity
with an independent SQL derivation is the driver row
``funnel_view_click_purchase``."""

import datetime as dt

from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators.funnel import (
    funnel_counts,
    funnel_steps,
)
from more_pattern_extraction_spark.plans import partitioning as P

T0 = dt.datetime(2024, 1, 1)


def _turns(spark):
    rows = [
        # a: full funnel, in order
        ("a", 0, "view"), ("a", 10, "click"), ("a", 20, "buy"),
        # b: click BEFORE view — step 2 must use the later click
        ("b", 0, "click"), ("b", 10, "view"), ("b", 30, "click"), ("b", 40, "buy"),
        # c: stalls after view (no click)
        ("c", 0, "view"), ("c", 10, "buy"),
        # d: nothing matches
        ("d", 0, "other"),
    ]
    return spark.createDataFrame(
        [(c, T0 + dt.timedelta(minutes=m), e) for c, m, e in rows],
        ["conv_id", "ts", "event_type"],
    )


def _steps():
    return [
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "buy",
    ]


def test_ordering_stall_and_furthest(spark):
    got = {
        r.conv_id: (r.step1_ts, r.step2_ts, r.step3_ts, r.furthest_step)
        for r in funnel_steps(_turns(spark), _steps()).collect()
    }
    m = lambda x: T0 + dt.timedelta(minutes=x)
    assert got["a"] == (m(0), m(10), m(20), 3)
    # b: the t=0 click precedes the view and must NOT count
    assert got["b"] == (m(10), m(30), m(40), 3)
    assert got["c"] == (m(0), None, None, 1)
    assert got["d"] == (None, None, None, 0)


def test_gap_bound_stalls_funnel(spark):
    got = {
        r.conv_id: r.furthest_step
        for r in funnel_steps(_turns(spark), _steps(), within_s=600).collect()
    }
    # b's qualifying click is 20 min after its view: > 10 min bound
    assert got["a"] == 3 and got["b"] == 1


def test_funnel_counts(spark):
    row = funnel_counts(funnel_steps(_turns(spark), _steps()), 3).collect()[0]
    assert (row.reached_1, row.reached_2, row.reached_3) == (3, 2, 2)


def test_single_exchange_plan(spark):
    plan = (
        funnel_steps(_turns(spark), _steps())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1  # chained windows reuse the shuffle


def test_segmented_equals_plain(spark, monkeypatch):
    """Property: the gated iterative-aggregate form is value-equal to the
    chained whole-partition-window form, with and without the
    consecutive-step gap bound."""
    import random

    rng = random.Random(13)
    rows = []
    for c in range(20):
        for _ in range(30):
            rows.append(
                (f"c{c}", T0 + dt.timedelta(minutes=rng.randrange(0, 2000)),
                 rng.choice(["view", "click", "buy", "other"]))
            )
    df = spark.createDataFrame(rows, ["conv_id", "ts", "event_type"])

    def run(segmented, within):
        monkeypatch.setattr(P, "HOT_KEY_ROWS", 0 if segmented else 10**12)
        out = funnel_steps(df, _steps(), within_s=within)
        return sorted(map(tuple, out.collect()))

    for within in (None, 600):
        assert run(False, within) == run(True, within)
