"""Mergeable log-histogram quantile sketch (operators/sketch.py).

Contracts under test (VERDICT r03 "next round" #4):
  * merge identity — cascading 1m sketches to 1h/1d equals building the
    sketch from raw at that tier, EXACTLY (map equality);
  * error bound — the sketch p95 is within the documented √r−1 relative
    bound of the exact discrete p95 over raw latencies at every tier;
  * attach — the sketch column rides alongside the rollup tier frame;
  * edge cases — ``sketch_quantile`` and ``sketch_cascade`` against
    Python models on NULL, empty and single-bin maps.
"""

import math

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import rollup as R
from more_pattern_extraction_spark.operators import sketch as SK


@pytest.fixture(scope="module")
def feats(transcripts):
    df = R.turn_features(transcripts)
    df.cache().count()
    return df


def _maps(df):
    return {
        (r.conv_id, r.bucket_start): sorted(r.latency_sketch.items())
        for r in df.collect()
    }


def test_merge_identity_1h(feats):
    via_cascade = _maps(SK.sketch_cascade(SK.sketch_from_raw(feats, "1m"), "1h"))
    direct = _maps(SK.sketch_from_raw(feats, "1h"))
    assert via_cascade == direct


def test_merge_identity_1d_two_hops(feats):
    two_hops = _maps(
        SK.sketch_cascade(
            SK.sketch_cascade(SK.sketch_from_raw(feats, "1m"), "1h"), "1d"
        )
    )
    direct = _maps(SK.sketch_from_raw(feats, "1d"))
    assert two_hops == direct


@pytest.mark.parametrize("tier,q", [("1h", 0.95), ("1d", 0.95), ("1d", 0.5)])
def test_quantile_error_bound(feats, tier, q):
    est = {
        (r.conv_id, r.bucket_start): (r.latency_cnt_sketch, r.latency_p95_sketch)
        for r in SK.sketch_quantile(SK.sketch_from_raw(feats, tier), q).collect()
    }
    exact = (
        feats.filter(F.col("latency").isNotNull())
        .groupBy("conv_id", F.date_trunc(R.TIERS[tier], "ts").alias("bucket_start"))
        .agg(F.sort_array(F.collect_list("latency")).alias("vals"))
        .collect()
    )
    assert len(exact) == len(est) and len(exact) > 15
    checked = 0
    for r in exact:
        n = len(r.vals)
        cnt, got = est[(r.conv_id, r.bucket_start)]
        assert cnt == n
        true_q = r.vals[max(1, math.ceil(q * n)) - 1]
        if true_q > SK.LO:
            assert abs(got - true_q) / true_q <= SK.REL_ERR_BOUND + 1e-12
            checked += 1
        else:
            assert abs(got - true_q) <= SK.LO  # underflow bin: absolute bound
    assert checked > 15


def test_attach_alongside_rollup(feats):
    r1h = R.cascade(R.rollup_from_raw(feats, "1m"), "1h")
    sk1h = SK.sketch_cascade(SK.sketch_from_raw(feats, "1m"), "1h")
    out = SK.attach_sketch_p95(r1h, sk1h)
    rows = out.collect()
    assert {"latency_p95", "latency_p95_sketch", "latency_cnt_sketch"} <= set(
        out.columns
    )
    # every bucket with latencies carries a sketch p95, and the sketch
    # count matches the exact rollup count
    for r in rows:
        if r.latency_cnt and r.latency_cnt > 0:
            assert r.latency_cnt_sketch == r.latency_cnt
            assert r.latency_p95_sketch is not None


def _quantile_model(m, q):
    """(count, representative value) of the discrete q-quantile of a
    sketch map, in Python: the first bin whose cumulative count reaches
    ``max(1, ceil(q·n))``, where ``q·n`` is an IEEE double product.  No
    bin reaches it in an empty map, which has no quantile (NULL)."""
    if m is None:
        return None, None
    n = sum(m.values())
    k, cum, b = max(1, math.ceil(q * n)), 0, -1
    for key in sorted(m):
        cum += m[key]
        if cum >= k:
            b = key
            break
    if b < 0:
        return n, None
    return n, SK.LO if b == 0 else SK.LO * 2.0 ** ((b - 0.5) / SK.BPO)


@pytest.mark.parametrize("q", [0.95, 0.5, 0.07, 0.14])
def test_quantile_edge_cases_match_python_model(spark, q):
    """NULL, empty and single-bin maps, and totals where ``q·n`` is a
    whole number: 20 and 4 entries (0.95·20, 0.5·4 are exact), and 100
    and 50 one-count bins, where the double products 0.07·100 and
    0.14·50 round just above 7, so a DECIMAL ``q`` would pick bin 7
    instead of 8."""
    maps = [None, {}, {0: 3}, {37: 1}, {0: 2, 200: 1}, {5: 20},
            {i: 1 for i in range(1, 21)}, {1: 1, 2: 1, 3: 1, 4: 1},
            {i: 1 for i in range(1, 101)}, {i: 1 for i in range(1, 51)}]
    df = spark.createDataFrame(
        list(enumerate(maps)), "id int, latency_sketch map<int, bigint>"
    )
    got = {r.id: (r.latency_cnt_sketch, r.latency_p95_sketch)
           for r in SK.sketch_quantile(df, q).collect()}
    for i, m in enumerate(maps):
        n, want = _quantile_model(m, q)
        assert got[i][0] == n, (i, m)
        if want is None:
            assert got[i][1] is None, (i, m)
        else:  # neighbouring bins differ by 4.4 %
            assert math.isclose(got[i][1], want, rel_tol=1e-12), (i, m, got[i], want)


def test_cascade_drops_null_and_empty_children(spark):
    """Only non-empty child maps reach a coarse bucket: a bucket whose
    children are all NULL or empty has no row, and the rest equal the
    per-bin sums of their non-empty children."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0, {5: 1, 9: 2}), ("a", t0 + dt.timedelta(minutes=1), None),
        ("a", t0 + dt.timedelta(minutes=2), {}), ("a", t0 + dt.timedelta(minutes=3), {9: 1, 11: 4}),
        ("a", t0 + dt.timedelta(hours=1), {}),
        ("b", t0, None), ("c", t0, {}), ("d", t0, {0: 7}),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, latency_sketch map<int, bigint>"
    )
    want = {}
    for conv, ts, m in rows:
        if m:
            acc = want.setdefault((conv, ts.replace(minute=0)), {})
            for b, c in m.items():
                acc[b] = acc.get(b, 0) + c
    got = SK.sketch_cascade(df, "1h").collect()
    assert {(r.conv_id, r.bucket_start): r.latency_sketch for r in got} == want
    assert [list(r.latency_sketch) for r in got] == [sorted(r.latency_sketch) for r in got]
