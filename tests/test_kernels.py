"""Kernel correctness vs brute-force z-normalized distance oracles
(the reference's stumpy outputs are reproduced by these same definitions;
motif/changepoint indices are integers → exact matches, SURVEY §5.2)."""

import numpy as np
import pytest

from more_pattern_extraction_spark.functions import kernels as K


def brute_znorm_dist(a: np.ndarray, b: np.ndarray) -> float:
    sa, sb = a.std(), b.std()
    if sa < 1e-13 and sb < 1e-13:
        return 0.0
    if sa < 1e-13 or sb < 1e-13:
        return float(np.sqrt(len(a)))
    az = (a - a.mean()) / sa
    bz = (b - b.mean()) / sb
    return float(np.linalg.norm(az - bz))


def brute_mp(t: np.ndarray, m: int, ez: int):
    l = len(t) - m + 1
    mp = np.full(l, np.inf)
    pi = np.full(l, -1, dtype=np.int64)
    for i in range(l):
        best, bj = np.inf, -1
        for j in range(l):
            if abs(i - j) <= ez:
                continue
            d = brute_znorm_dist(t[i : i + m], t[j : j + m])
            if d < best:
                best, bj = d, j
        mp[i], pi[i] = best, bj
    return mp, pi


@pytest.mark.parametrize("seed,n,m", [(0, 200, 16), (1, 137, 8), (2, 80, 25)])
def test_stomp_matches_brute_force(seed, n, m):
    rng = np.random.default_rng(seed)
    t = rng.normal(0, 1, n).cumsum()  # random walk: realistic structure
    ez = int(np.ceil(m / 4))
    mp, pi = K.stomp(t, m)
    bmp, bpi = brute_mp(t, m, ez)
    np.testing.assert_allclose(mp, bmp, rtol=1e-7, atol=1e-7)
    # indices may differ only on exact ties; verify distances at pi agree
    for i in range(len(pi)):
        d = brute_znorm_dist(t[i : i + m], t[pi[i] : pi[i] + m])
        np.testing.assert_allclose(d, bmp[i], rtol=1e-7, atol=1e-7)


def test_stomp_constant_windows():
    t = np.concatenate([np.zeros(30), np.sin(np.arange(40)), np.zeros(30)])
    mp, pi = K.stomp(t, 10)
    assert np.isfinite(mp).all()
    # the two flat ends are each other's zero-distance matches
    assert mp[0] == 0.0


def test_mass2_matches_brute():
    rng = np.random.default_rng(3)
    t = rng.normal(0, 1, 300).cumsum()
    q = t[50:74]
    prof = K.mass2(q, t)
    assert len(prof) == 300 - 24 + 1
    brute = np.array(
        [brute_znorm_dist(q, t[i : i + 24]) for i in range(len(prof))]
    )
    np.testing.assert_allclose(prof, brute, rtol=1e-6, atol=1e-6)
    assert prof[50] < 1e-5  # exact self-match


def test_mstomp_first_row_equals_stomp():
    rng = np.random.default_rng(4)
    t = rng.normal(0, 1, 150).cumsum()
    mp1, pi1 = K.stomp(t, 12)
    mps, idx = K.mstomp(t.reshape(1, -1), 12)
    np.testing.assert_allclose(mps[0], mp1, rtol=1e-7, atol=1e-9)
    assert (idx[0] == pi1).all()


def test_mstomp_kdim_monotone_and_include():
    rng = np.random.default_rng(5)
    d, n, m = 3, 200, 10
    ts = rng.normal(0, 1, (d, n)).cumsum(axis=1)
    mps, idx = K.mstomp(ts, m)
    # k-dim MP is non-decreasing in k at every position (mean of k smallest)
    assert (np.diff(mps, axis=0) >= -1e-9).all()
    mps_inc, _ = K.mstomp(ts, m, include=[2])
    # constrained 1-dim profile == dimension 2's own profile
    mp2, _ = K.stomp(ts[2], m)
    np.testing.assert_allclose(mps_inc[0], mp2, rtol=1e-7, atol=1e-9)


def test_fluss_detects_planted_regime_change():
    rng = np.random.default_rng(6)
    # two regimes with different generating patterns
    a = np.sin(np.arange(600) * 0.3) + rng.normal(0, 0.1, 600)
    b = np.sign(np.sin(np.arange(600) * 0.05)) + rng.normal(0, 0.1, 600)
    t = np.concatenate([a, b])
    m = 25
    mp, pi = K.stomp(t, m)
    cac, regimes = K.fluss(pi, L=m, n_regimes=2, excl_factor=5)
    assert len(regimes) == 1
    assert abs(regimes[0] - 600) < 100  # changepoint near the true boundary
    assert cac.min() < 0.4


def test_top_k_motifs_finds_planted_motif():
    rng = np.random.default_rng(7)
    t = rng.normal(0, 1, 500)
    pattern = np.sin(np.arange(30) * 0.7) * 3
    for pos in (50, 200, 400):
        t[pos : pos + 30] = pattern + rng.normal(0, 0.01, 30)
    mp, pi = K.stomp(t, 30)
    motifs = K.top_k_motifs_kernel(t, mp, pi, m=30, ez=15, radius=3.0, k=2)
    found = sorted(motifs[0]["motifs"] + motifs[0]["neighbors"])
    assert all(any(abs(f - p) <= 2 for p in (50, 200, 400)) for f in found)
    assert len(found) == 3  # pair + 1 neighbor


def test_top_k_discords_finds_planted_anomaly():
    t = np.sin(np.arange(400) * 0.5)
    t[200:215] += np.linspace(0, 6, 15)  # anomaly
    mp, pi = K.stomp(t, 15)
    discords = K.top_k_discords_kernel(mp, ez=15, k=1)
    assert len(discords) == 1
    assert abs(discords[0][0] - 200) <= 15


def test_find_neighbors_multidim():
    rng = np.random.default_rng(8)
    n = 300
    ts = rng.normal(0, 1, (n, 2)).cumsum(axis=0)
    q = ts[40:70]
    nbrs, dists = K.find_neighbors_kernel(
        q, ts, min_dist=float("inf"), exclusion_zone=15, max_neighbors=3
    )
    assert nbrs[0] == 40 and dists[0] < 1e-5
    assert len(nbrs) == 3 and all(d >= -1e-9 for d in np.diff(dists))


def test_complexity_av_and_apply():
    # flat region has low complexity, sine region high
    t = np.concatenate([np.zeros(100), np.sin(np.arange(100) * 0.5) * 3])
    m = 10
    av = K.complexity_av(t, m)
    assert av.min() >= 0 and av.max() <= 1
    assert av[:80].mean() < 0.1 < av[110:].mean()
    mp, pi = K.stomp(t, m)
    cmp_ = K.apply_av(mp, av)
    finite = np.isfinite(mp)
    assert (cmp_[finite] >= mp[finite] - 1e-12).all()
    # flat windows get pushed toward the max → ranked away from motifs
    assert cmp_[10] > mp[10]


# ---------------------------------------------------------------------------
# half-GEMM fold vs the row-block reference
# ---------------------------------------------------------------------------


def _stomp_rows(t: np.ndarray, m: int, ez: int | None = None):
    """Row-block STOMP: every block of rows against ALL columns, one row
    argmax per block, so every pair is computed twice.  The reference the
    half-GEMM fold of ``K.stomp`` must reproduce (pi exactly)."""
    t = np.asarray(t, dtype=np.float64)
    l = len(t) - m + 1
    if l < 1:
        return np.empty(0), np.empty(0, dtype=np.int64)
    if ez is None:
        ez = int(np.ceil(m / 4))
    Wz, const = K._znorm_windows(t, m)[:2]
    mp = np.full(l, np.inf)
    pi = np.full(l, -1, dtype=np.int64)
    b = 64  # rows are independent here, so any height gives the same result
    for i0 in range(0, l, b):
        i1 = min(i0 + b, l)
        qt = Wz[i0:i1] @ Wz.T
        K._apply_const_convention(qt, const[i0:i1], const, m)
        for i in range(i0, i1):
            qt[i - i0, max(0, i - ez) : min(l, i + ez + 1)] = -np.inf
        j = np.argmax(qt, axis=1)
        best = qt[np.arange(i1 - i0), j]
        fin = np.isfinite(best)
        mp[i0:i1][fin] = np.sqrt(np.clip(2.0 * (m - best[fin]), 0.0, None))
        pi[i0:i1][fin] = j[fin]
    return mp, pi


def _l_with(pred, lo=40, hi=3000) -> int:
    """Smallest window count l in [lo, hi) with pred(l, block height)."""
    return next(l for l in range(lo, hi) if pred(l, K._block_rows(l)))


def _fold_cases():
    rng = np.random.default_rng(21)
    m = 20
    below = _l_with(lambda l, b: l < b)
    multiple = _l_with(lambda l, b: l % b == 0 and l >= 2 * b)
    plus_one = _l_with(lambda l, b: l % b == 1 and l > 2 * b)

    def walk(l):
        return rng.normal(0, 1, l + m - 1).cumsum()

    const = np.concatenate([np.zeros(90), rng.normal(0, 1, 120).cumsum(),
                            np.full(70, 3.0), np.sin(np.arange(80)), np.zeros(60)])
    # 0/1 repeats with half the points of every window at 1: z-normalized
    # windows are exactly ±1, so dot products are exact integers that tie,
    # and only the first-index rule picks pi
    cases = {
        "below_one_block": (walk(below), m, None),
        "block_multiple": (walk(multiple), m, None),
        "block_multiple_plus_one": (walk(plus_one), m, None),
        "all_excluded": (walk(6), m, 5),
        "all_excluded_default_ez": (walk(int(np.ceil(m / 4)) + 1), m, None),
        "constant_windows": (const, m, None),
        "exact_repeats_2phase": (np.tile([0.0, 1.0], 200), 8, None),
        "exact_repeats_4phase": (np.tile([0.0, 0.0, 1.0, 1.0], 150), 12, None),
    }
    return [pytest.param(name, *args, id=name) for name, args in cases.items()]


@pytest.mark.parametrize("name,t,m,ez", _fold_cases())
def test_stomp_fold_equals_row_reference(name, t, m, ez):
    mp, pi = K.stomp(t, m, ez)
    rmp, rpi = _stomp_rows(t, m, ez)
    assert mp.shape == rmp.shape
    np.testing.assert_array_equal(pi, rpi)
    np.testing.assert_allclose(mp, rmp, rtol=0, atol=1e-12)
    if name.startswith("all_excluded"):
        assert np.isinf(mp).all() and (pi == -1).all()


def test_exclusion_band_helper():
    rows = np.arange(3, 9)
    cols = np.arange(0, 12)
    r, c = K._band(rows, cols, 2)
    want = [(i, j) for i in range(len(rows)) for j in range(len(cols))
            if abs(rows[i] - cols[j]) <= 2]
    assert sorted(zip(r.tolist(), c.tolist())) == want
    # global offsets: rows far from every column give no band
    r, c = K._band(np.arange(100, 104), np.arange(0, 50), 5)
    assert len(r) == len(c) == 0


# ---------------------------------------------------------------------------
# non-finite input: a window holding NaN is skipped, the rest unaffected
# ---------------------------------------------------------------------------


def _nan_walk(seed: int, n: int, holes) -> np.ndarray:
    t = np.random.default_rng(seed).normal(0, 1, n).cumsum()
    t[list(holes)] = np.nan
    return t


def _window_ok(t: np.ndarray, m: int) -> np.ndarray:
    return np.isfinite(np.lib.stride_tricks.sliding_window_view(t, m)).all(axis=1)


def brute_ab(ta, tb, m, ez, off_a, off_b):
    """AB-join by explicit distances, skipping windows holding a NaN."""
    la, lb = len(ta) - m + 1, len(tb) - m + 1
    ok_a, ok_b = _window_ok(ta, m), _window_ok(tb, m)
    mp = np.full(la, np.inf)
    pi = np.full(la, -1, dtype=np.int64)
    for i in range(la):
        if not ok_a[i]:
            continue
        for j in range(lb):
            if not ok_b[j] or abs((off_a + i) - (off_b + j)) <= ez:
                continue
            d = brute_znorm_dist(ta[i : i + m], tb[j : j + m])
            if d < mp[i]:
                mp[i], pi[i] = d, off_b + j
    return mp, pi


def _assert_profile(mp, pi, bmp, bpi, dist_at):
    assert np.isfinite(mp).any()
    np.testing.assert_array_equal(np.isinf(mp), np.isinf(bmp))
    np.testing.assert_array_equal(pi == -1, bpi == -1)
    np.testing.assert_allclose(mp, bmp, rtol=1e-7, atol=1e-7)
    for i in np.flatnonzero(pi >= 0):  # ties: the distance at pi must agree
        np.testing.assert_allclose(dist_at(i, pi[i]), bmp[i], rtol=1e-7, atol=1e-7)


@pytest.mark.parametrize("holes", [[150], [0], [299], [40, 41, 220]])
def test_stomp_skips_nan_windows(holes):
    m = 20
    t = _nan_walk(31, 300, holes)
    ez = int(np.ceil(m / 4))
    mp, pi = K.stomp(t, m)
    bmp, bpi = brute_ab(t, t, m, ez, 0, 0)
    _assert_profile(mp, pi, bmp, bpi,
                    lambda i, j: brute_znorm_dist(t[i : i + m], t[j : j + m]))
    ok = _window_ok(t, m)
    assert np.isinf(mp[~ok]).all() and (pi[~ok] == -1).all()
    assert ok[pi[pi >= 0]].all()  # a NaN window is nobody's neighbour


@pytest.mark.parametrize("off_a,off_b", [(0, 0), (0, 130), (130, 0)])
def test_stomp_ab_skips_nan_windows(off_a, off_b):
    m, ez = 20, 5
    ta = _nan_walk(33, 150, [70])
    tb = _nan_walk(34, 160, [10, 120])
    mp, pi = K.stomp_ab(ta, tb, m, ez, off_a, off_b)
    bmp, bpi = brute_ab(ta, tb, m, ez, off_a, off_b)
    _assert_profile(mp, pi, bmp, bpi,
                    lambda i, j: brute_znorm_dist(ta[i : i + m], tb[j - off_b : j - off_b + m]))


def brute_mstomp(ts, m, ez):
    """mSTOMP by explicit per-dimension distances: a window holding a NaN
    in dimension k is at distance inf in that dimension only."""
    d, n = ts.shape
    l = n - m + 1
    ok = np.array([_window_ok(ts[k], m) for k in range(d)])
    mps = np.full((d, l), np.inf)
    idx = np.full((d, l), -1, dtype=np.int64)
    for i in range(l):
        D = np.full((d, l), np.inf)
        for j in range(l):
            if abs(i - j) <= ez:
                continue
            for k in range(d):
                if ok[k, i] and ok[k, j]:
                    D[k, j] = brute_znorm_dist(ts[k, i : i + m], ts[k, j : j + m])
        prof = np.cumsum(np.sort(D, axis=0), axis=0) / np.arange(1, d + 1)[:, None]
        for k in range(d):
            j = int(np.argmin(prof[k]))
            if np.isfinite(prof[k, j]):
                mps[k, i], idx[k, i] = prof[k, j], j
    return mps, idx


@pytest.mark.parametrize("holes", [[[60]], [[60], [], [10, 130]]])
def test_mstomp_skips_nan_windows(holes):
    m = 12
    ts = np.stack([_nan_walk(35 + k, 150, h) for k, h in enumerate(holes)])
    ez = int(np.ceil(m / 4))
    mps, idx = K.mstomp(ts, m)
    bmps, bidx = brute_mstomp(ts, m, ez)
    np.testing.assert_array_equal(np.isinf(mps), np.isinf(bmps))
    np.testing.assert_array_equal(idx == -1, bidx == -1)
    np.testing.assert_allclose(mps, bmps, rtol=1e-7, atol=1e-7)
    for k in range(len(ts)):
        assert np.isfinite(mps[k]).sum() > 100


def test_mass2_skips_nan_windows():
    t = _nan_walk(36, 300, [120])
    q = t[40:64]
    prof = K.mass2(q, t)
    ok = _window_ok(t, 24)
    assert np.isinf(prof[~ok]).all()
    brute = np.array([brute_znorm_dist(q, t[i : i + 24]) for i in np.flatnonzero(ok)])
    np.testing.assert_allclose(prof[ok], brute, rtol=1e-6, atol=1e-6)
