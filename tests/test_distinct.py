"""KMV distinct-count sketch (operators/distinct.py): exact merge
identity, estimator contract (exact below k, bounded error above),
hash-mapping exactness, cascade width validation, and the
WindowGroupLimit plan shape the 100 TB story rests on."""

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import distinct as DK


def _crowd(spark, n_convs=300, minutes=90):
    """Deterministic turns: conv i is active in minutes [0, i % minutes),
    so per-minute distinct counts sweep a wide range and every conv spans
    several buckets (exercises both the estimator and the merge)."""
    return (
        spark.range(n_convs)
        .withColumn("conv_id", F.format_string("conv_%05d", F.col("id")))
        .select(
            "conv_id",
            F.explode(
                F.sequence(F.lit(0), F.pmod(F.col("id"), F.lit(minutes)))
            ).alias("m"),
        )
        .select(
            "conv_id",
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(mins=F.col("m"))
            ).alias("ts"),
        )
    )


def test_merge_identity_exact(spark):
    """kmv(hour) built direct from raw == 1m sketches cascaded to 1h —
    ARRAY equality, the KMV analogue of the quantile sketch's map
    equality."""
    turns = _crowd(spark)
    k = 8
    direct = DK.kmv_from_raw(turns, "1h", k).orderBy("bucket_start").collect()
    merged = (
        DK.kmv_cascade(DK.kmv_from_raw(turns, "1m", k), "1h", k, from_tier="1m")
        .orderBy("bucket_start")
        .collect()
    )
    assert direct == merged
    assert len(direct) == 2  # 90 minutes span two hour buckets


def test_estimator_exact_below_k_and_bounded_above(spark):
    turns = _crowd(spark, n_convs=300, minutes=90)
    k = 64
    est = {
        r.bucket_start: (r.n_kmv, r.distinct_convs_est)
        for r in DK.kmv_estimate(DK.kmv_from_raw(turns, "1m", k), k).collect()
    }
    exact = {
        r.bucket_start: r.n
        for r in turns.groupBy(F.date_trunc("minute", "ts").alias("bucket_start"))
        .agg(F.count_distinct("conv_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    saw_est_branch = saw_exact_branch = False
    for b, (n_kmv, e) in est.items():
        if n_kmv < k:
            # below k the sketch IS the distinct set
            assert e == exact[b]
            saw_exact_branch = True
        else:
            # stderr ~ 1/sqrt(k-2) ~ 12.7%; allow 4 sigma on a fixed seed
            assert abs(e - exact[b]) / exact[b] < 0.51
            saw_est_branch = True
    assert saw_exact_branch and saw_est_branch


def test_u_expr_matches_python_hex_parse(spark):
    """The first 8 hex digits read by ``conv`` == int(hex[:8], 16) / 2^32
    exactly, from a column name and from a Column, at both ends of the
    range."""
    hs = ["0000000100000000", "ffffffff00000000", "89abcdef12345678",
          "00000000ffffffff", "0000000000000000", "ffffffffffffffff"]
    df = spark.createDataFrame([(h,) for h in hs], ["h"])
    want = [int(h[:8], 16) / 2**32 for h in hs]
    for h in (F.col("h"), "h"):
        got = [r.u for r in df.select(DK.u_expr(h).alias("u")).collect()]
        assert got == want


@pytest.mark.parametrize("k", [2, 5, 16])
def test_estimate_at_sizes_around_k(spark, k):
    """``kmv_estimate`` at sketch sizes k-1, k and k+1 against the Python
    estimator: exact size below k, ``(k-1)/u_k`` from the k-th hash at
    and above it."""
    import hashlib

    hashes = sorted(hashlib.md5(f"conv_{i}".encode()).hexdigest() for i in range(k + 1))
    arrays = [hashes[:n] for n in (k - 1, k, k + 1)]
    df = spark.createDataFrame([(a,) for a in arrays], "conv_kmv array<string>")
    got = [(r.n_kmv, r.distinct_convs_est) for r in DK.kmv_estimate(df, k).collect()]
    want = [(len(a), float(len(a)) if len(a) < k
             else round((k - 1) / (int(a[k - 1][:8], 16) / 2**32), 6)) for a in arrays]
    assert got == want
    by_col = [r.e for r in df.select(DK.estimate_expr(F.col("conv_kmv"), k).alias("e")).collect()]
    assert by_col == [e for _n, e in want]


def test_cascade_validates_tier_multiple(spark):
    turns = _crowd(spark, n_convs=10, minutes=10)
    sk = DK.kmv_from_raw(turns, "1m", 4)
    with pytest.raises(ValueError, match="not a .*multiple|multiple"):
        DK.kmv_cascade(sk, "90s", 4, from_tier="1m")


def test_topk_rides_window_group_limit(spark):
    """The rank filter must compile to WindowGroupLimit (map-side partial
    top-k before the exchange) — the valve that bounds shuffle volume at
    10^12 turns."""
    turns = _crowd(spark)
    plan = (
        DK.kmv_from_raw(turns, "1m", 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_kmv_matches_python_model_fuzz(spark):
    """Hypothesis cross-check against a pure-python KMV model: sketch
    content, size, and estimator must match for arbitrary (bucket, conv)
    multisets and k — the same class of oracle the DuckDB driver rows
    provide, but adversarially generated."""
    import datetime as dt
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    t0 = dt.datetime(2024, 1, 1)

    @settings(max_examples=10, deadline=None)
    @given(
        pairs=st.lists(
            st.tuples(st.integers(0, 4), st.text("abcd", min_size=1, max_size=3)),
            min_size=1,
            max_size=40,
        ),
        k=st.integers(1, 6),
    )
    def check(pairs, k):
        rows = [
            (conv, t0 + dt.timedelta(minutes=m)) for m, conv in pairs
        ]
        df = spark.createDataFrame(rows, ["conv_id", "ts"])
        got = {
            r.bucket_start: (list(r.conv_kmv), r.n_kmv, r.distinct_convs_est)
            for r in DK.kmv_estimate(DK.kmv_from_raw(df, "1m", k), k).collect()
        }
        want = {}
        per: dict = {}
        for m, conv in pairs:
            per.setdefault(m, set()).add(hashlib.md5(conv.encode()).hexdigest())
        for m, hashes in per.items():
            sk = sorted(hashes)[:k]
            n = len(sk)
            est = (
                float(n)
                if n < k
                else round((k - 1) / (int(sk[k - 1][:8], 16) / 2**32), 6)
            )
            want[t0 + dt.timedelta(minutes=m)] = (sk, n, est)
        assert got == want

    check()


def test_sliding_window_identity(spark):
    """kmv_sliding (union of per-child top-k, fan-out form) == the
    window sketch built directly from raw pairs — the sliding-window
    application of the merge identity."""
    import datetime as dt

    turns = _crowd(spark, n_convs=120, minutes=90)
    k = 8
    kmv1m = DK.kmv_from_raw(turns, "1m", k)
    got = (
        DK.kmv_sliding(kmv1m, 30, 60, k).orderBy("bucket_start").collect()
    )

    # direct build: every (serving minute with data, hash in its
    # trailing-30-minute window) pair, then the same top-k pack
    pairs = turns.select(
        F.date_trunc("minute", "ts").alias("b"),
        DK.conv_hash("conv_id").alias("h"),
    ).distinct()
    minutes = pairs.select(F.col("b").alias("bucket_start")).distinct()
    span = F.expr("INTERVAL 29 MINUTES")
    direct_pairs = (
        minutes.join(
            pairs,
            (F.col("b") >= F.col("bucket_start") - span)
            & (F.col("b") <= F.col("bucket_start")),
        )
        .select("bucket_start", "h")
        .distinct()
    )
    want = DK._pack_topk(direct_pairs, k).orderBy("bucket_start").collect()
    assert got == want and len(got) > 0


def test_union_expr_and_overlap_estimate(spark):
    """union_expr == the sketch built directly on the union set (merge
    identity as a column expression), and the inclusion-exclusion
    overlap estimate lands near the true intersection."""
    import datetime as dt
    import hashlib

    k = 64
    t0 = dt.datetime(2024, 1, 1)
    a_convs = [f"conv_{i:05d}" for i in range(0, 200)]
    b_convs = [f"conv_{i:05d}" for i in range(100, 300)]  # true overlap 100
    rows = [(c, t0) for c in a_convs] + [(c, t0 + dt.timedelta(days=1)) for c in b_convs]
    df = spark.createDataFrame(rows, ["conv_id", "ts"])
    kmv = DK.kmv_from_raw(df, "1d", k)
    prev = kmv.select(
        (F.col("bucket_start") + F.expr("INTERVAL 1 DAY")).alias("bucket_start"),
        F.col("conv_kmv").alias("prev_kmv"),
    )
    j = kmv.join(prev, "bucket_start")
    out = j.select(
        DK.union_expr("prev_kmv", "conv_kmv", k).alias("u"),
        DK.estimate_expr("prev_kmv", k).alias("ea"),
        DK.estimate_expr("conv_kmv", k).alias("eb"),
        DK.estimate_expr(DK.union_expr("prev_kmv", "conv_kmv", k), k).alias("eu"),
    ).collect()[0]

    model_union = sorted(
        {hashlib.md5(c.encode()).hexdigest() for c in set(a_convs) | set(b_convs)}
    )[:k]
    assert list(out.u) == model_union

    returning = out.ea + out.eb - out.eu
    # true overlap 100; three compounded k=64 estimates (stderr ~12.7% each)
    assert abs(returning - 100) / 100 < 0.6
