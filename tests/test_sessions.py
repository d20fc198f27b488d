"""Sessionization (operators/sessions.py): boundary semantics, 1-based
indexing, stats, and the single-shuffle plan.  Engine-level parity with
an independent SQL derivation is the driver row ``sessionize_stats``."""

import datetime as dt

from more_pattern_extraction_spark.operators.sessions import (
    session_stats,
    sessionize,
)
from more_pattern_extraction_spark.plans import partitioning as P

T0 = dt.datetime(2024, 1, 1)


def _turns(spark):
    # conv a: gaps 10m, 40m (boundary), 5m ; conv b: single turn
    offs = {"a": [0, 10, 50, 55], "b": [0]}
    rows = [
        (c, T0 + dt.timedelta(minutes=m), i)
        for c, ms in offs.items()
        for i, m in enumerate(ms)
    ]
    return spark.createDataFrame(rows, ["conv_id", "ts", "event_id"])


def test_boundaries_and_indexing(spark):
    out = sessionize(_turns(spark), gap_s=1800, tie_cols=("event_id",))
    got = {
        (r.conv_id, r.event_id): (r.session_idx, r.is_session_start)
        for r in out.collect()
    }
    assert got[("a", 0)] == (1, True)
    assert got[("a", 1)] == (1, False)   # 10 min < 30 min
    assert got[("a", 2)] == (2, True)    # 40 min gap opens session 2
    assert got[("a", 3)] == (2, False)
    assert got[("b", 0)] == (1, True)


def test_exact_gap_is_same_session(spark):
    rows = [("c", T0, 0), ("c", T0 + dt.timedelta(seconds=1800), 1)]
    df = spark.createDataFrame(rows, ["conv_id", "ts", "event_id"])
    out = sessionize(df, gap_s=1800, tie_cols=("event_id",)).collect()
    assert {r.session_idx for r in out} == {1}  # gap == bound: same session


def test_session_stats(spark):
    st = {
        (r.conv_id, r.session_idx): (r.n_turns, r.duration_s)
        for r in session_stats(
            sessionize(_turns(spark), gap_s=1800, tie_cols=("event_id",))
        ).collect()
    }
    assert st[("a", 1)] == (2, 600.0)
    assert st[("a", 2)] == (2, 300.0)
    assert st[("b", 1)] == (1, 0.0)


def test_single_exchange_plan(spark):
    plan = (
        sessionize(_turns(spark), tie_cols=("event_id",))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1  # both window passes share one shuffle


def test_segmented_equals_plain(spark, monkeypatch):
    """Property: the (conv, day) block-carry prefix-sum form is bit-equal
    to the plain running-sum form — session boundaries crossing midnight,
    blocks with a single row, timestamp ties broken by tie_cols, and a
    conversation entirely inside one block."""
    import random

    rng = random.Random(11)
    rows = []
    for c in ("a", "b", "c"):
        t = T0
        for i in range(120):
            # gaps from seconds to half a day: plenty of session splits
            # and multi-day spread; occasional exact ties
            step = rng.choice([5, 60, 900, 1900, 7200, 40000, 0])
            t = t + dt.timedelta(seconds=step)
            rows.append((c, t, i))
    rows.append(("z", T0 + dt.timedelta(minutes=3), 0))  # single-row conv
    df = spark.createDataFrame(rows, ["conv_id", "ts", "event_id"])

    def run(segmented):
        monkeypatch.setattr(P, "HOT_KEY_ROWS", 0 if segmented else 10**12)
        out = sessionize(df, gap_s=1800, tie_cols=("event_id",))
        return sorted(map(tuple, out.collect()))

    assert run(False) == run(True)


def test_segmented_keeps_column_order(spark, monkeypatch):
    """Both forms return the input's columns in input order, then
    is_session_start and session_idx, whichever column the key is."""
    rows = [(i, T0 + dt.timedelta(minutes=7 * i + 600 * (i % 3)), c)
            for c in ("a", "b") for i in range(40)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "conv_id"])
    want = ["event_id", "ts", "conv_id", "is_session_start", "session_idx"]
    outs = {}
    for segmented in (False, True):
        monkeypatch.setattr(P, "HOT_KEY_ROWS", 0 if segmented else 10**12)
        outs[segmented] = sessionize(df, gap_s=1800, tie_cols=("event_id",))
    assert outs[False].columns == want
    assert outs[True].columns == want
    assert sorted(map(tuple, outs[True].collect())) == sorted(map(tuple, outs[False].collect()))
