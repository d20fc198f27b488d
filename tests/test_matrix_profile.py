"""Spark matrix-profile / segmentation / motif operators vs the numpy
kernels (which are themselves brute-force-verified in test_kernels.py).
The distributed chunk-pair MP must equal the single-group MP exactly."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.functions import kernels as K
from more_pattern_extraction_spark.operators import matrix_profile as MP
from more_pattern_extraction_spark.operators import motifs as MO
from more_pattern_extraction_spark.operators import segmentation as SG


def _series_df(spark, arrays: dict[str, np.ndarray]):
    frames = []
    for cid, t in arrays.items():
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": cid,
                    "bucket_start": pd.date_range("2024-01-01", periods=len(t), freq="1min"),
                    "latency_avg_filled": t,
                }
            )
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.default_rng(11)
    t1 = rng.normal(0, 1, 400).cumsum()
    t2 = rng.normal(0, 1, 333).cumsum()
    return _series_df(spark, {"c1": t1, "c2": t2}), {"c1": t1, "c2": t2}


def test_matrix_profile_grouped_matches_kernel(spark, planted):
    df, arrays = planted
    m = 24
    got = MP.matrix_profile(df, m).orderBy("conv_id", "pos").toPandas()
    for cid, t in arrays.items():
        mp, pi = K.stomp(t, m)
        sub = got[got.conv_id == cid]
        np.testing.assert_allclose(sub["mp"].values, mp, rtol=1e-12)
        assert (sub["pi"].values == pi).all()


def test_matrix_profile_distributed_equals_grouped(spark, planted):
    df, arrays = planted
    m = 24
    single = MP.matrix_profile(df, m).orderBy("conv_id", "pos").toPandas()
    dist = (
        MP.matrix_profile_distributed(df, m, chunk_size=100)
        .orderBy("conv_id", "pos")
        .toPandas()
    )
    assert len(single) == len(dist)
    np.testing.assert_allclose(dist["mp"].values, single["mp"].values, rtol=1e-9)
    # indices: equal except genuine distance ties — verify via distances
    diff = dist["pi"].values != single["pi"].values
    assert diff.mean() < 0.02  # ties only
    for cid, t in arrays.items():
        sub_d = dist[dist.conv_id == cid].reset_index(drop=True)
        for i in np.flatnonzero((dist["conv_id"] == cid).values & diff):
            row = dist.iloc[i]
            a = t[int(row.pos) : int(row.pos) + m]
            b = t[int(row.pi) : int(row.pi) + m]
            az = (a - a.mean()) / a.std()
            bz = (b - b.mean()) / b.std()
            np.testing.assert_allclose(np.linalg.norm(az - bz), row.mp, rtol=1e-6)


def test_matrix_profile_distributed_banded_equals_full_when_h_covers(spark, planted):
    """H >= n/S must be bit-equal to the unbanded path (same pair set)."""
    df, arrays = planted
    m = 24
    full = (
        MP.matrix_profile_distributed(df, m, chunk_size=100)
        .orderBy("conv_id", "pos")
        .toPandas()
    )
    banded = (
        MP.matrix_profile_distributed(df, m, chunk_size=100, max_horizon_chunks=4)
        .orderBy("conv_id", "pos")
        .toPandas()
    )
    assert len(full) == len(banded)
    np.testing.assert_array_equal(banded["mp"].values, full["mp"].values)
    np.testing.assert_array_equal(banded["pi"].values, full["pi"].values)


def test_matrix_profile_banded_horizon_semantics(spark, planted):
    """With a tight horizon the profile is a pointwise UPPER bound of the
    full profile, exact wherever the true neighbor lies within H·S."""
    df, arrays = planted
    m, S, H = 24, 100, 1
    full = (
        MP.matrix_profile_distributed(df, m, chunk_size=S)
        .orderBy("conv_id", "pos")
        .toPandas()
    )
    banded = (
        MP.matrix_profile_distributed(df, m, chunk_size=S, max_horizon_chunks=H)
        .orderBy("conv_id", "pos")
        .toPandas()
    )
    assert len(full) == len(banded)
    assert (banded["mp"].values >= full["mp"].values - 1e-12).all()
    # wherever the true nearest neighbor is within the horizon band
    # (same or adjacent chunk), the banded result is exact
    near = (full["pi"].values // S - full["pos"].values // S) <= H
    near &= (full["pos"].values // S - full["pi"].values // S) <= H
    np.testing.assert_allclose(
        banded["mp"].values[near], full["mp"].values[near], rtol=1e-12
    )
    # banded neighbor indices always stay inside the horizon
    ok = banded["pi"].values >= 0
    assert (
        np.abs(banded["pi"].values[ok] // S - banded["pos"].values[ok] // S) <= H
    ).all()


def test_chunk_pairs_fanout_is_linear_in_horizon(spark):
    """The pair fan-out must be O(C·H), not O(C²): count the planned
    pairs directly on a long-conversation chunk table."""
    C, H = 40, 3
    chunk_ids = spark.createDataFrame(
        pd.DataFrame({"conv_id": "long", "chunk": np.arange(C)})
    )
    n_banded = MP.chunk_pairs(chunk_ids, H).count()
    n_full = MP.chunk_pairs(chunk_ids, None).count()
    # closed forms: full = C(C+1)/2; banded = C·(H+1) − H(H+1)/2
    assert n_full == C * (C + 1) // 2
    assert n_banded == C * (H + 1) - H * (H + 1) // 2
    assert n_banded < n_full / 4


def test_matrix_profile_multidim(spark):
    rng = np.random.default_rng(12)
    n = 250
    pdf = pd.DataFrame(
        {
            "conv_id": "c1",
            "bucket_start": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "f1": rng.normal(0, 1, n).cumsum(),
            "f2": rng.normal(0, 1, n).cumsum(),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        MP.matrix_profile_multidim(df, 16, ["f1", "f2"])
        .orderBy("k", "pos")
        .toPandas()
    )
    mps, idx = K.mstomp(pdf[["f1", "f2"]].to_numpy().T, 16)
    for k in (1, 2):
        sub = got[got.k == k]
        np.testing.assert_allclose(sub["mp"].values, mps[k - 1], rtol=1e-12)


def test_fluss_segments_spark(spark):
    rng = np.random.default_rng(13)
    a = np.sin(np.arange(600) * 0.3) + rng.normal(0, 0.1, 600)
    b = np.sign(np.sin(np.arange(600) * 0.05)) + rng.normal(0, 0.1, 600)
    df = _series_df(spark, {"c1": np.concatenate([a, b])})
    m = 25
    mp_tbl = MP.matrix_profile(df, m)
    seg = SG.fluss_segments(mp_tbl.select("conv_id", "pos", "pi"), [m], n_regimes=2)
    rows = seg.collect()
    assert len(rows) == 1
    assert abs(rows[0].regime_pos - 600) < 100


def test_rolling_slope_matches_pandas(spark):
    rng = np.random.default_rng(14)
    n, width = 120, 11
    vals = rng.normal(10, 2, n)
    pdf = pd.DataFrame(
        {
            "conv_id": "c1",
            "bucket_start": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "v": vals,
        }
    )
    got = (
        SG.rolling_slope(spark.createDataFrame(pdf), "v", width)
        .orderBy("bucket_start")
        .toPandas()["slope"]
        .values
    )

    def ols_slope(x):
        xs = np.arange(len(x), dtype=float)
        return np.polyfit(xs, np.asarray(x, dtype=float), 1)[0]

    exp = pd.Series(vals).rolling(width, center=True).apply(ols_slope).values
    np.testing.assert_allclose(
        got.astype(float), exp, rtol=1e-8, atol=1e-10, equal_nan=True
    )


def test_detect_changepoints_and_score_segments(spark):
    # piecewise series: flat → steep ramp → flat; slope extrema at the ramp
    n = 300
    v = np.concatenate([np.zeros(120), np.linspace(0, 50, 60), np.full(120, 50.0)])
    v += np.sin(np.arange(n)) * 0.05  # jitter so extrema are strict
    pdf = pd.DataFrame(
        {
            "conv_id": "c1",
            "bucket_start": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "residual": v,
        }
    )
    df = spark.createDataFrame(pdf)
    sl = SG.rolling_slope(df, "residual", 21)
    cps = SG.detect_changepoints(sl, t=0.95)
    got = sorted(r.bucket_start for r in cps.select("bucket_start").collect())
    assert len(got) >= 1
    idx = [(g - pd.Timestamp("2024-01-01")).total_seconds() / 60 for g in got]
    assert all(100 <= i <= 200 for i in idx)  # inside the ramp region
    seg = SG.score_segments(df, cps, "residual")
    segs = seg.orderBy("segment").collect()
    assert len(segs) == len(got) + 1
    assert segs[0].mce < segs[-1].mce  # flat-0 segment cubes < flat-50 cubes


def test_top_k_motifs_and_discords_spark(spark):
    rng = np.random.default_rng(15)
    t = rng.normal(0, 1, 500)
    pattern = np.sin(np.arange(30) * 0.7) * 3
    for pos in (50, 200, 400):
        t[pos : pos + 30] = pattern + rng.normal(0, 0.01, 30)
    df = _series_df(spark, {"c1": t})
    mo = MO.top_k_motifs(df, m=30, k=1, radius=3.0, ez=15).collect()
    found = sorted([mo[0].motif_pos, mo[0].pair_pos, *mo[0].neighbors])
    assert all(any(abs(f - p) <= 2 for p in (50, 200, 400)) for f in found)

    t2 = np.sin(np.arange(400) * 0.5)
    t2[200:215] += np.linspace(0, 6, 15)
    df2 = _series_df(spark, {"c1": t2}).withColumn("win", F.lit(None).cast("timestamp"))
    ds = MP.window_patterns(df2, 15, 1).filter(F.col("discord_rank").isNotNull()).collect()
    assert len(ds) == 1 and ds[0].discord_rank == 1
    assert abs(ds[0].pos - 200) <= 15


def test_find_neighbors_spark(spark, planted):
    df, arrays = planted
    q = arrays["c1"][40:70]
    got = MO.find_neighbors(
        df, q, exclusion_zone=15, max_neighbors=2
    ).toPandas()
    c1 = got[got.conv_id == "c1"].sort_values("distance")
    assert int(c1.iloc[0].neighbor_pos) == 40 and c1.iloc[0].distance < 1e-5
    assert (got.conv_id == "c2").any()  # cross-series matching too


def test_interval_mask_and_motif_stats(spark):
    n = 200
    pdf = pd.DataFrame(
        {
            "conv_id": "c1",
            "bucket_start": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "latency_avg_filled": np.sin(np.arange(n) * 0.3),
        }
    )
    grid = spark.createDataFrame(pdf)
    intervals = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1"],
                "start_ts": [pd.Timestamp("2024-01-01 00:00")],
                "end_ts": [pd.Timestamp("2024-01-01 01:40")],  # first 101 pos
            }
        )
    )
    mask = MO.interval_mask(grid, intervals)
    mk = mask.toPandas()
    assert mk[mk.pos <= 100].flag.all() and not mk[mk.pos > 100].flag.any()

    motifs = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1"],
                "motif_rank": [1],
                "motif_pos": [10],
                "pair_pos": [50],
                "neighbors": [[120, 95]],  # 120→false region, 95→spans both
            }
        )
    )
    stats = MO.motif_stats(motifs, mask, m=10).collect()[0]
    # occurrences: 10(true), 50(true), 120(false), 95(both: 95 true,104 false)
    assert stats.cls1_count == 2 and stats.cls2_count == 1 and stats.spanning_both == 1
    # cost per calc_cost: f=101/99, norm1=2/f, norm2=1
    f = 101 / 99
    n1, n2 = 2 / f, 1.0
    assert abs(stats.cost - (1 - abs(n1 - n2) / (n1 + n2))) < 1e-6
    assert stats.majority == "anomalous"


def test_windowed_mp_spreads_hot_conv_despite_parent_key_partitioning(spark):
    """Skew regression (SKEW_SCALING_r06 first execution): an upstream
    HashPartitioning(conv_id) — any Window/join on the parent key —
    SATISFIES the grouped UDF's ClusteredDistribution(conv_id, _win), so
    without an explicit exchange every week-group of a hot conversation
    runs on ONE task (measured: ~40 heavy groups in one 400k-row
    partition, 1.1 effective cores on 8).  spread_groups must make the
    full-key exchange physical: output partitions > 1 for a single
    conversation spanning many weeks."""
    n = 60 * 24 * 7 * 8  # 8 weeks of 1m buckets, one conversation
    pdf = pd.DataFrame(
        {
            "conv_id": "hot",
            "bucket_start": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "latency_avg_filled": np.sin(np.arange(n) / 7.0),
        }
    )
    week = F.date_trunc("week", "bucket_start").alias("win")
    # force the hazardous upstream shape: partitioned by conv_id alone
    grid = spark.createDataFrame(pdf).repartition("conv_id").select("*", week)
    out = MP.window_patterns(grid, 16, 2)
    pids = (
        out.withColumn("p", F.spark_partition_id())
        .select("p").distinct().count()
    )
    assert pids > 1, "hot conversation's week-groups collapsed to one task"
    # value sanity: the forced-upstream-partitioning run must be
    # bit-identical to the same computation on the raw input
    ref = (
        MP.window_patterns(spark.createDataFrame(pdf).select("*", week), 16, 2)
        .toPandas().sort_values(["win", "pos"]).reset_index(drop=True)
    )
    got = out.toPandas().sort_values(["win", "pos"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, ref)


def test_window_patterns_equal_local_kernels(spark):
    """Each ``(conv_id, win)`` group of ``window_patterns`` is ``stomp``,
    ``top_k_discords_kernel`` and ``fluss`` run locally on that window's
    series: two windows of one conversation, a window shorter than m (no
    rows) and a window holed by a NULL, whose inf / -1 positions are
    never discords."""
    rng = np.random.default_rng(21)
    m, k, hole = 16, 2, 120
    day = pd.Timestamp("2024-01-01")
    series = {
        ("c1", day): rng.normal(0, 1, 300).cumsum(),
        ("c1", day + pd.Timedelta(days=1)): np.sin(np.arange(200) * 0.3),
        ("c2", day): rng.normal(0, 1, m - 6),
        ("c3", day): rng.normal(0, 1, 250).cumsum(),
    }
    series[("c1", day)][150:155] += 25.0  # a planted discord
    series[("c3", day)][hole] = np.nan
    pdf = pd.concat([
        pd.DataFrame({"conv_id": c, "latency_avg_filled": t,
                      "bucket_start": pd.date_range(w, periods=len(t), freq="1min")})
        for (c, w), t in series.items()
    ], ignore_index=True)
    v = F.col("latency_avg_filled")
    grid = spark.createDataFrame(pdf.sample(frac=1.0, random_state=3)).select(
        "conv_id", "bucket_start", F.when(~F.isnan(v), v).alias("latency_avg_filled"),
        F.date_trunc("day", "bucket_start").alias("win"),
    )
    assert grid.filter(v.isNull()).count() == 1
    got = MP.window_patterns(grid, m, k).toPandas()
    assert len(got) == sum(max(len(t) - m + 1, 0) for t in series.values())
    for (c, w), t in series.items():
        sub = got[(got.conv_id == c) & (got.win == w)].sort_values("pos")
        mp, pi = K.stomp(t, m)
        if len(t) < m:
            assert sub.empty
            continue
        assert (sub["pos"].values == np.arange(len(mp))).all()
        np.testing.assert_allclose(sub["mp"].values, mp, rtol=1e-12)
        assert (sub["pi"].values == pi).all()
        discords = K.top_k_discords_kernel(mp, m // 4, k)
        found = sub[sub.discord_rank.notna()].sort_values("discord_rank")
        assert list(found["discord_rank"]) == list(range(1, len(discords) + 1))
        assert list(zip(found["pos"], found["distance"])) == discords
        assert np.isfinite(found["mp"]).all() and (found["pi"] >= 0).all()
        cac, regimes = K.fluss(pi, m, 3, 1)
        changes = sub[sub.cac.notna()]
        assert list(changes["pos"]) == list(regimes)
        np.testing.assert_allclose(changes["cac"].values, cac[regimes], rtol=1e-12)
    holed = got[(got.conv_id == "c3") & (got.pos > hole - m) & (got.pos <= hole)]
    assert len(holed) == m and np.isinf(holed["mp"]).all() and (holed["pi"] == -1).all()
    assert holed["discord_rank"].isna().all()
    assert got[(got.conv_id == "c1") & (got.win == day)].discord_rank.notna().sum() == k


def test_matrix_profile_null_value_grouped_equals_distributed(spark, planted):
    """A NULL past the gap-fill limit blanks only the windows holding it:
    both strategies give those windows mp inf / pi -1, never use them as a
    neighbour, and agree on every other position."""
    _, arrays = planted
    m, hole = 24, 200
    t = arrays["c1"].copy()
    df = _series_df(spark, {"c1": t})
    df = df.withColumn(
        "latency_avg_filled",
        F.when(F.col("bucket_start") == pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=hole),
               F.lit(None)).otherwise(F.col("latency_avg_filled")),
    )
    assert df.filter(F.col("latency_avg_filled").isNull()).count() == 1
    single = MP.matrix_profile(df, m).orderBy("pos").toPandas()
    dist = MP.matrix_profile_distributed(df, m, chunk_size=100).orderBy("pos").toPandas()
    t[hole] = np.nan
    mp, pi = K.stomp(t, m)
    holed = (np.arange(len(mp)) > hole - m) & (np.arange(len(mp)) <= hole)
    assert np.isinf(mp[holed]).all() and (pi[holed] == -1).all()
    assert np.isfinite(mp[~holed]).all() and not holed[pi[~holed]].any()
    np.testing.assert_allclose(single["mp"].values, mp, rtol=1e-12)
    assert (single["pi"].values == pi).all()
    assert len(dist) == len(single)
    np.testing.assert_allclose(dist["mp"].values, single["mp"].values, rtol=1e-9)
    assert ((dist["pi"].values == -1) == holed).all()
    diff = dist["pi"].values != single["pi"].values
    assert diff.mean() < 0.02  # ties only
