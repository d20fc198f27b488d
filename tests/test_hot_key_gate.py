"""The one hot-key gate of the ordered-window operators
(plans/partitioning.HOT_KEY_ROWS): ``turn_features``, ``asof_join``,
``sessionize`` and ``funnel_steps`` each pick their plain or segmented
form from their input, both forms agree on NULL-key and NULL-timestamp
rows, and the asof witness counts the union both sides sort together.
Each test sets the threshold instead of building a 100k-row key."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import rollup as R
from more_pattern_extraction_spark.operators.asof import asof_join
from more_pattern_extraction_spark.operators.funnel import funnel_steps
from more_pattern_extraction_spark.operators.sessions import sessionize
from more_pattern_extraction_spark.plans import partitioning as P

T0 = dt.datetime(2024, 1, 1)
PLAIN = 10**12  # a threshold no input reaches


def _m(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def _turns(spark):
    """Conversation "a": 12 turns over three days; "b": 5 turns."""
    offs = {"a": [0, 3, 10, 50, 1500, 1510, 1600, 1700, 3000, 3005, 3100, 3200],
            "b": [0, 40, 80, 1500, 1540]}
    rows = [(c, _m(m), 100 * (c == "b") + i)
            for c, ms in offs.items() for i, m in enumerate(ms)]
    return spark.createDataFrame(rows, "conv_id string, ts timestamp, event_id int")


def _with_nulls(spark):
    """Conversation "a" with two NULL-ts turns, each the first of a
    two-turn lag block, and a conversation whose conv_id is NULL: the
    plain windows group both like any other key."""
    offs = [0, 3, 10, 1500, None, 1510, None, 3000]
    rows = [("a", None if m is None else _m(m), i) for i, m in enumerate(offs)]
    rows += [(None, _m(m), 8 + i) for i, m in enumerate([0, 3, 1600, 1700])]
    return spark.createDataFrame(rows, "conv_id string, ts timestamp, event_id int")


def _right(spark):
    return spark.createDataFrame(
        [("a", _m(0), 1), ("a", _m(1505), 2), ("a", None, 3), (None, _m(1), 4),
         ("b", _m(45), 5)],
        "conv_id string, ts timestamp, v int",
    )


def _steps():
    return [F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1]


def _features(turns):
    return R.turn_features(
        turns.withColumnRenamed("event_id", "turn_idx")
        .withColumn("tool", F.lit(None).cast("string"))
    )


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


# operator over a turn frame -> (segmented-form threshold, plan marker of
# the segmented form: its block key, or for the funnel its per-step
# joins).  turn_features' threshold is also its lag block width, so 2
# gives several blocks per conversation.
OPS = {
    "turn_features": (_features, 2, "_blk"),
    "asof_join": (lambda t: asof_join(t, _right(t.sparkSession), on="conv_id"), 0, "_blk"),
    "sessionize": (lambda t: sessionize(t, gap_s=1800, tie_cols=("event_id",)), 0, "_blk"),
    "funnel_steps": (lambda t: funnel_steps(t, _steps(), within_s=3600), 0, "Join"),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_null_rows_do_not_depend_on_the_gate(spark, monkeypatch, op):
    """NULL-ts and NULL-key rows come out of the segmented form exactly as
    out of the plain one: not dropped by a block join, not orphaned from
    their carry, and a NULL-ts predecessor still breaks the lag."""
    fn, hot_key_rows, marker = OPS[op]
    turns = _with_nulls(spark)
    monkeypatch.setattr(P, "HOT_KEY_ROWS", PLAIN)
    plain = fn(turns)
    monkeypatch.setattr(P, "HOT_KEY_ROWS", hot_key_rows)
    seg = fn(turns)
    assert marker not in _plan(plain)
    assert marker in _plan(seg)
    assert _rows(seg) == _rows(plain)


# operator -> its witness on _turns: the largest per-key row count the
# plain window sorts (asof: 12 left + 3 right rows of key "a")
GATED = {"asof_join": 15, "sessionize": 12, "funnel_steps": 12}


@pytest.mark.parametrize("op", sorted(GATED))
def test_gate_flips_at_threshold(spark, monkeypatch, op):
    """Plain form while the witness is below HOT_KEY_ROWS, segmented once
    it reaches it, and the same values either way."""
    fn, _, marker = OPS[op]
    turns = _turns(spark)
    monkeypatch.setattr(P, "HOT_KEY_ROWS", GATED[op] + 1)
    below = fn(turns)
    monkeypatch.setattr(P, "HOT_KEY_ROWS", GATED[op])
    at = fn(turns)
    assert marker not in _plan(below)
    assert marker in _plan(at)
    assert _rows(at) == _rows(below)


def test_asof_gate_probes_the_union(spark, monkeypatch):
    """The plain asof window sorts a key's left AND right rows together,
    so 6 + 6 rows reach a threshold of 10 although neither side does."""
    left = spark.createDataFrame(
        [("k", _m(10 * i), i) for i in range(6)], "k string, ts timestamp, lid int"
    )
    right = spark.createDataFrame(
        [("k", _m(10 * i + 5), f"v{i}") for i in range(6)],
        "k string, ts timestamp, state string",
    )
    monkeypatch.setattr(P, "HOT_KEY_ROWS", 10)
    out = asof_join(left, right, on="k")
    assert "_blk" in _plan(out)
    assert [r.state_asof for r in out.orderBy("lid").collect()] == [
        None, "v0", "v1", "v2", "v3", "v4"
    ]
