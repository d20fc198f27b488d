"""Numpy kernels for sliding-window pattern extraction.

Implements, from the published algorithms (no stumpy/scipy in the image):

  * STOMP self-join matrix profile (Zhu et al., "Matrix Profile II", ICDM
    2016) — z-normalized Euclidean, as blocked GEMMs over the upper
    triangle: each window pair's dot product is computed once, about
    l²·m/2 multiply-adds for l windows, one block of at most 128 rows ×
    l at a time (see _block_rows); replaces the reference's
    ``stumpy.stump`` (``modules/patterns.py:313-364`` create_mp).
  * mSTOMP k-dimensional matrix profile (Yeh et al., "Matrix Profile VI",
    ICDM 2017) with ``include`` constraint — replaces ``mstump``.
  * MASS2 FFT distance profile (Mueen et al.) — replaces
    ``matrixprofile.algorithms.mass2`` used by ``modules/similarity.py:
    32-104`` find_neighbors.
  * FLUSS corrected arc curve + regime extraction (Gharghabi et al.,
    "Domain Agnostic Online Semantic Segmentation", ICDM 2017) — replaces
    ``stumpy.fluss`` (``modules/patterns.py:368-402`` segment_ts).

Conventions matching stumpy (the reference's backend):
  * exclusion zone = ceil(m/4) unless given;
  * constant (σ≈0) subsequences: both constant → distance 0, one constant
    → distance sqrt(m) (so no noise injection is needed, unlike the
    reference's add_noise_to_series, preprocessing.py:106-144);
  * a subsequence holding a non-finite value (an unfilled gap) gets
    profile inf and index −1 and is nobody's neighbour; every other
    subsequence is unaffected.

These run inside grouped pandas UDFs (operators/matrix_profile.py) — one
conversation (or conversation-chunk pair) per group.
"""

from __future__ import annotations

import numpy as np

_EPS = 1e-13


def sliding_mean_std(t: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Rolling mean/std of every length-m window, numerically stable
    (two-pass cumsum over de-meaned data).  A window holding a non-finite
    value gets mean and std NaN; the other windows are unaffected."""
    t = np.asarray(t, dtype=np.float64)
    n = len(t)
    l = n - m + 1
    finite = np.isfinite(t)
    holed = not finite.all()
    if holed:
        # stand-in values keep the cumsums finite; their windows are
        # blanked below
        t = np.where(finite, t, t[finite].mean() if finite.any() else 0.0)
    c = t - t.mean()  # precondition to tame cumsum cancellation
    cs = np.concatenate([[0.0], np.cumsum(c)])
    cs2 = np.concatenate([[0.0], np.cumsum(c * c)])
    mu_c = (cs[m:] - cs[:l]) / m
    var = (cs2[m:] - cs2[:l]) / m - mu_c * mu_c
    var[var < 0] = 0.0
    mu, sig = mu_c + t.mean(), np.sqrt(var)
    if holed:
        holes = np.concatenate([[0], np.cumsum(~finite)])
        bad = holes[m:] > holes[:l]
        mu[bad] = np.nan
        sig[bad] = np.nan
    return mu, sig


def _sliding_dot(q: np.ndarray, t: np.ndarray) -> np.ndarray:
    """dot(q, t[i:i+m]) for all i, via FFT convolution (O(n log n))."""
    m, n = len(q), len(t)
    size = 1 << int(np.ceil(np.log2(n + m)))
    fq = np.fft.rfft(q[::-1], size)
    ft = np.fft.rfft(t, size)
    conv = np.fft.irfft(fq * ft, size)
    return conv[m - 1 : n]


def _zdist_from_qt(
    qt: np.ndarray, m: int,
    mu_q: float, sig_q: float,
    mu_t: np.ndarray, sig_t: np.ndarray,
) -> np.ndarray:
    """z-normalized Euclidean distance from dot products, with the stumpy
    constant-window convention."""
    q_const = sig_q < _EPS
    t_const = sig_t < _EPS
    with np.errstate(divide="ignore", invalid="ignore"):
        rho = (qt - m * mu_q * mu_t) / (m * sig_q * sig_t)
    d2 = 2.0 * m * (1.0 - rho)
    d2[d2 < 0] = 0.0
    d = np.sqrt(d2)
    if q_const:
        d = np.where(t_const, 0.0, np.sqrt(m))
    else:
        d = np.where(t_const, np.sqrt(m), d)
    return d


def mass2(q: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Distance profile of query q against series t (z-normalized); a
    window of t holding a non-finite value is at distance inf."""
    q = np.asarray(q, dtype=np.float64)
    t = np.asarray(t, dtype=np.float64)
    m = len(q)
    mu_t, sig_t = sliding_mean_std(t, m)
    bad = np.isnan(sig_t)
    holed = bad.any()
    # the FFT would smear one NaN over every dot product
    qt = _sliding_dot(q, np.where(np.isfinite(t), t, 0.0) if holed else t)
    d = _zdist_from_qt(qt, m, q.mean(), q.std(), mu_t, sig_t)
    if holed:
        d[bad] = np.inf
    return d


def _block_rows(l: int) -> int:
    """Row-block height of the STOMP GEMMs: at most 128 rows, and an
    output block of at most 2^19 doubles (4 MB).  In the half-GEMM
    ``stomp`` a block's own square is computed twice (about l·b/2 extra
    pairs over the l²/2 needed) while every block pays a fixed cost for
    its few dozen numpy calls, so the best height is a constant, not a
    share of l.  Measured on a 4-core VM with one BLAS thread, 8 series of
    1,381 windows (m = 60), stomp → discords → FLUSS paired against the
    full-GEMM form: 94–189 rows 0.52–0.55×, 128 rows 0.52×, 256 rows
    0.58×, and the former 2^19/l height (379 rows) 0.72×."""
    return max(16, min(128, (1 << 19) // max(l, 1)))


def _znorm_windows(t: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(l × m) matrix of z-normalized windows, constant-window mask, and
    the mask of windows holding a non-finite value.  Constant and
    non-finite windows become zero rows (their dot with anything is 0)."""
    mu, sig = sliding_mean_std(t, m)
    W = np.ascontiguousarray(np.lib.stride_tricks.sliding_window_view(t, m))
    const = sig < _EPS
    bad = np.isnan(sig)
    safe = np.where(const, 1.0, sig)
    Wz = (W - mu[:, None]) / safe[:, None]
    Wz[const] = 0.0
    if bad.any():
        Wz[bad] = 0.0
    return Wz, const, bad


def _apply_const_convention(qt: np.ndarray, r_const: np.ndarray, c_const: np.ndarray, m: int) -> None:
    """Map the stumpy constant-window convention into qt space, where
    d = sqrt(2·(m − qt)) is monotone-decreasing in qt:
    const↔const → d 0 (qt=m); const↔non-const → d sqrt(m) (qt=m/2)."""
    if c_const.any():
        qt[:, c_const] = m / 2.0
    if r_const.any():
        qt[r_const] = np.where(c_const, float(m), m / 2.0)[None, :]


def _exclude_windows(qt: np.ndarray, r_bad: np.ndarray, c_bad: np.ndarray) -> None:
    """qt −inf on every pair with a window holding a non-finite value (the
    stumpy convention): it gets profile inf and index −1, and is no
    window's neighbour.  Applied after _apply_const_convention."""
    qt[r_bad] = -np.inf
    qt[:, c_bad] = -np.inf


def _band(rows: np.ndarray, cols: np.ndarray, ez: int) -> tuple[np.ndarray, np.ndarray]:
    """Exclusion band of a (rows × cols) block: the (r, c) index pairs
    with |rows[r] − cols[c]| ≤ ez, for ascending window positions ``cols``
    (global positions for an AB-join)."""
    lo = np.searchsorted(cols, rows - ez)
    hi = np.searchsorted(cols, rows + ez, side="right")
    cnt = hi - lo
    r = np.repeat(np.arange(len(rows)), cnt)
    c = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt - lo, cnt)
    return r, c


def stomp(t: np.ndarray, m: int, ez: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Self-join matrix profile: (distances, nearest-neighbor indices).

    Half-GEMM formulation: windows are z-normalized ONCE, and the block
    of rows [i0, i1) is one GEMM against the columns j ≥ i0 only, so each
    window pair is computed once, in the block of min(i, j).  Its row
    maxima fold into rows [i0, i1) and its column maxima into the later
    columns [i1, l), both on qt (d = sqrt(2(m − qt)) is computed only for
    the winners).  Folds replace on strict >: a candidate from an earlier
    block always has the smaller index, so the result keeps np.argmax's
    first-index tie-break over a whole row.
    """
    t = np.asarray(t, dtype=np.float64)
    n = len(t)
    l = n - m + 1
    if l < 1:
        return np.empty(0), np.empty(0, dtype=np.int64)
    if ez is None:
        ez = int(np.ceil(m / 4))
    Wz, const, bad = _znorm_windows(t, m)
    holed = bad.any()
    pos = np.arange(l)
    best = np.full(l, -np.inf)
    pi = np.full(l, -1, dtype=np.int64)
    b = _block_rows(l)
    for i0 in range(0, l, b):
        i1 = min(i0 + b, l)
        qt = Wz[i0:i1] @ Wz[i0:].T
        _apply_const_convention(qt, const[i0:i1], const[i0:], m)
        if holed:
            _exclude_windows(qt, bad[i0:i1], bad[i0:])
        qt[_band(pos[i0:i1], pos[i0:], ez)] = -np.inf
        # rows: candidates j ≥ i0 against the folds of earlier blocks
        j = np.argmax(qt, axis=1)
        v = qt[pos[: i1 - i0], j]
        up = np.flatnonzero(v > best[i0:i1])
        best[i0 + up] = v[up]
        pi[i0 + up] = i0 + j[up]
        # later columns: candidates i in [i0, i1); only improved columns
        # need the (strided) column argmax
        tail = qt[:, i1 - i0 :]
        cmax = tail.max(axis=0)
        up = np.flatnonzero(cmax > best[i1:])
        best[i1 + up] = cmax[up]
        pi[i1 + up] = i0 + np.argmax(tail[:, up], axis=0)
    mp = np.full(l, np.inf)
    fin = np.isfinite(best)
    mp[fin] = np.sqrt(np.clip(2.0 * (m - best[fin]), 0.0, None))
    return mp, pi


def _sort_dims_inplace(dist: np.ndarray) -> np.ndarray:
    """Ascending sort along axis 0 (the dimension axis, small d) via a
    vectorized odd-even transposition network — ~10× faster than
    np.sort(axis=0), which strides across the slowest axis.

    Inputs must be NaN-free: np.minimum/maximum propagate NaN into BOTH
    lanes, so one NaN dimension would poison every profile level (np.sort
    pushed NaN last instead).  mstomp gives a window holding a non-finite
    value distance +inf (_exclude_windows), never NaN — +inf sorts last
    exactly like np.sort's NaN-last, and any profile level whose
    cumulative sum touches it is non-finite and excluded."""
    d = dist.shape[0]
    for rnd in range(d):
        for k in range(rnd % 2, d - 1, 2):
            a, b = dist[k], dist[k + 1]
            lo = np.minimum(a, b)
            np.maximum(a, b, out=dist[k + 1])
            dist[k] = lo
    return dist


def mstomp(
    ts: np.ndarray, m: int, ez: int | None = None, include: list[int] | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """k-dimensional matrix profile (mSTOMP): ts is (d, n) row-major.

    Returns (mps, idx), each (d, l): row k is the (k+1)-dimensional
    profile / index.  ``include`` forces those dimension indices into
    every subset (the reference's constrained search,
    patterns.py:313-364 include=['active power'])."""
    ts = np.asarray(ts, dtype=np.float64)
    d, n = ts.shape
    l = n - m + 1
    if l < 1:
        return np.empty((d, 0)), np.empty((d, 0), dtype=np.int64)
    if ez is None:
        ez = int(np.ceil(m / 4))
    include = sorted(include) if include else []
    rest = [k for k in range(d) if k not in include]
    Wz, consts, bads = zip(*(_znorm_windows(ts[k], m) for k in range(d)))
    holed = [bad.any() for bad in bads]
    pos = np.arange(l)
    mps = np.full((d, l), np.inf)
    idx = np.full((d, l), -1, dtype=np.int64)
    # blocked-GEMM like stomp(): per row-block, one GEMM per dim, then the
    # cross-dim sort/cummean — replaces the former O(l) per-position Python
    # loop (the engine's next single-node wall per VERDICT r01).  Block
    # height keeps the (d × b × l) distance stack ~8 MB: the sort/cumsum/
    # argmin passes over the stack are bandwidth-bound, so it must stay
    # cache-resident (measured 2× vs a 64 MB stack).
    b = max(4, min(_block_rows(l), (1 << 20) // max(1, d * l)))
    for i0 in range(0, l, b):
        i1 = min(i0 + b, l)
        bb = i1 - i0
        dist = np.empty((d, bb, l))
        for k in range(d):
            # GEMM straight into the stack slice, then transform in place:
            # qt → sqrt(2·(m − qt)) with the constant-window convention; a
            # window holding a non-finite value → +inf in this dimension
            # (qt −inf), which keeps the sort network NaN-free
            qt = dist[k]
            np.matmul(Wz[k][i0:i1], Wz[k].T, out=qt)
            _apply_const_convention(qt, consts[k][i0:i1], consts[k], m)
            if holed[k]:
                _exclude_windows(qt, bads[k][i0:i1], bads[k])
            np.clip(qt, None, float(m), out=qt)
            np.subtract(float(m), qt, out=qt)
            qt *= 2.0
            np.sqrt(qt, out=qt)
        r, c = _band(pos[i0:i1], pos, ez)
        dist[:, r, c] = np.inf
        if include:
            ordered = (
                np.concatenate([dist[include], _sort_dims_inplace(dist[rest])])
                if rest else dist[include]
            )
        else:
            ordered = _sort_dims_inplace(dist)
        # running add in place == cumsum(axis=0) but with contiguous passes
        for k in range(1, ordered.shape[0]):
            np.add(ordered[k], ordered[k - 1], out=ordered[k])
        rows = np.arange(bb)
        for k in range(d):
            # argmin before the /(k+1): dividing by a constant preserves it
            j = np.argmin(ordered[k], axis=1)
            best = ordered[k][rows, j] / (k + 1)
            fin = np.isfinite(best)
            mps[k, i0:i1][fin] = best[fin]
            idx[k, i0:i1][fin] = j[fin]
    return mps, idx


def stomp_ab(
    ta: np.ndarray,
    tb: np.ndarray,
    m: int,
    ez: int,
    offset_a: int,
    offset_b: int,
) -> tuple[np.ndarray, np.ndarray]:
    """AB-join: for every subsequence i of ``ta``, the min z-norm distance
    to any subsequence j of ``tb`` (and the *global* index of that j),
    honoring the self-join exclusion zone on global positions
    ``|(offset_a+i) - (offset_b+j)| <= ez``.

    This is the chunk-pair primitive of the exact distributed matrix
    profile (operators/matrix_profile.py): a conversation too long for one
    task is split into chunks with m-1 halo rows; every chunk pair runs
    stomp_ab both ways and a min-reduce by global position recovers the
    exact self-join profile.
    """
    ta = np.asarray(ta, dtype=np.float64)
    tb = np.asarray(tb, dtype=np.float64)
    la = len(ta) - m + 1
    lb = len(tb) - m + 1
    mp = np.full(la, np.inf)
    pi = np.full(la, -1, dtype=np.int64)
    if la < 1 or lb < 1:
        return mp, pi
    Wa, const_a, bad_a = _znorm_windows(ta, m)
    Wb, const_b, bad_b = _znorm_windows(tb, m)
    holed = bad_a.any() or bad_b.any()
    WbT = Wb.T
    ig = offset_a + np.arange(la)
    jg = offset_b + np.arange(lb)
    b = _block_rows(lb)
    for i0 in range(0, la, b):
        i1 = min(i0 + b, la)
        qt = Wa[i0:i1] @ WbT
        _apply_const_convention(qt, const_a[i0:i1], const_b, m)
        if holed:
            _exclude_windows(qt, bad_a[i0:i1], bad_b)
        qt[_band(ig[i0:i1], jg, ez)] = -np.inf
        j = np.argmax(qt, axis=1)
        best = qt[np.arange(i1 - i0), j]
        fin = np.isfinite(best)
        mp[i0:i1][fin] = np.sqrt(np.clip(2.0 * (m - best[fin]), 0.0, None))
        pi[i0:i1][fin] = jg[j[fin]]
    return mp, pi


# ---------------------------------------------------------------------------
# FLUSS
# ---------------------------------------------------------------------------


def arc_curve(pi: np.ndarray) -> np.ndarray:
    """Number of nearest-neighbor arcs crossing each position."""
    l = len(pi)
    marks = np.zeros(l + 1)
    lo = np.minimum(np.arange(l), pi)
    hi = np.maximum(np.arange(l), pi)
    valid = pi >= 0
    np.add.at(marks, lo[valid], 1)
    np.add.at(marks, hi[valid], -1)
    return np.cumsum(marks)[:l]


def fluss_cac(pi: np.ndarray, L: int, excl_factor: int = 5) -> np.ndarray:
    """Corrected arc curve: AC / idealized-AC, clipped to 1, with the
    first/last excl_factor*L positions pinned to 1."""
    l = len(pi)
    ac = arc_curve(pi)
    i = np.arange(l)
    iac = 2.0 * i * (l - i) / l
    with np.errstate(divide="ignore", invalid="ignore"):
        cac = np.where(iac > 0, ac / iac, 1.0)
    cac = np.minimum(cac, 1.0)
    ez = excl_factor * L
    cac[: min(ez, l)] = 1.0
    cac[max(0, l - ez):] = 1.0
    return cac


def fluss_regimes(cac: np.ndarray, L: int, n_regimes: int, excl_factor: int = 5) -> np.ndarray:
    """Iteratively pick the n_regimes-1 lowest CAC valleys, excluding
    ±excl_factor*L around each chosen changepoint."""
    cac = cac.copy()
    l = len(cac)
    ez = excl_factor * L
    locs = []
    for _ in range(max(0, n_regimes - 1)):
        j = int(np.argmin(cac))
        if cac[j] >= 1.0:
            break
        locs.append(j)
        cac[max(0, j - ez) : min(l, j + ez + 1)] = np.inf
    return np.array(sorted(locs), dtype=np.int64)


def fluss(pi: np.ndarray, L: int, n_regimes: int, excl_factor: int = 5):
    cac = fluss_cac(pi, L, excl_factor)
    return cac, fluss_regimes(cac, L, n_regimes, excl_factor)


# ---------------------------------------------------------------------------
# Motifs / discords / neighbors (reference similarity.py + learning.py:pmc)
# ---------------------------------------------------------------------------


def apply_exclusion(d: np.ndarray, idx: int, ez: int) -> None:
    d[max(0, idx - ez) : min(len(d), idx + ez + 1)] = np.inf


def find_neighbors_kernel(
    query: np.ndarray,
    ts: np.ndarray,
    min_dist: float,
    exclusion_zone: int = 0,
    max_neighbors: int = 100,
    radius: float = 3.0,
) -> tuple[list[int], list[float]]:
    """Multi-dim neighbor search: per-dim MASS2 profiles, per-position
    ascending sort across dims, cumulative mean, take the d-dim profile,
    then iterative argmin with exclusion — mirrors modules/similarity.py:
    32-104 semantics exactly (validated in tests)."""
    q = np.atleast_2d(np.asarray(query, dtype=np.float64).T)
    t = np.atleast_2d(np.asarray(ts, dtype=np.float64).T)
    dims = t.shape[0]
    D = np.empty((dims, t.shape[1] - q.shape[1] + 1))
    for i in range(dims):
        D[i] = mass2(q[i], t[i])
    D.sort(axis=0, kind="mergesort")
    profile = np.cumsum(D, axis=0)[dims - 1] / dims
    neighbors: list[int] = []
    dists: list[float] = []
    for _ in range(max_neighbors):
        j = int(np.argmin(profile))
        dj = profile[j]
        if not np.isfinite(dj) or dj > radius * min_dist:
            break
        neighbors.append(j)
        dists.append(float(dj))
        apply_exclusion(profile, j, exclusion_zone)
    return neighbors, dists


def top_k_motifs_kernel(
    t: np.ndarray,
    mp: np.ndarray,
    pi: np.ndarray,
    m: int,
    ez: int,
    radius: float,
    k: int,
    max_neighbors: int = 50,
) -> list[dict]:
    """Top-k motif pairs + their radius-neighbors from a univariate MP
    (reference get_top_k_motifs, similarity.py:8-29, backed by the
    matrixprofile-foundation algorithm)."""
    # greedy selection runs on round-4 distances: engines (numpy GEMM vs
    # relational sums) agree at 4 dp but not at the last ulp, so unrounded
    # argmin near-ties would pick different positions per engine
    mpr = np.round(mp, 4)
    mpr[~np.isfinite(mpr)] = np.inf
    out = []
    for _ in range(k):
        a = int(np.argmin(mpr))
        if not np.isfinite(mpr[a]):
            break
        b = int(pi[a])
        min_dist = float(mpr[a])
        # canonical pair representative: a motif pair appears twice in a
        # self-join MP (mp[a] == mp[b] mathematically, fp noise decides the
        # argmin) — the SMALLER index always drives the neighbor profile so
        # the result is deterministic and engine-portable
        i, j = (a, b) if a <= b else (b, a)
        prof = mass2(t[i : i + m], t)
        apply_exclusion(prof, i, ez)
        apply_exclusion(prof, j, ez)
        neighbors = []
        for _n in range(max_neighbors):
            nb = int(np.argmin(prof))
            if not np.isfinite(prof[nb]) or prof[nb] > radius * min_dist:
                break
            neighbors.append(nb)
            apply_exclusion(prof, nb, ez)
        out.append({"motifs": [i, j], "distance": min_dist, "neighbors": neighbors})
        for p in [i, j, *neighbors]:
            apply_exclusion(mpr, p, ez)
    return out


def complexity_av(t: np.ndarray, m: int) -> np.ndarray:
    """Complexity annotation vector (reference W3, compute_mp_av,
    patterns.py:68-93 / the matrixprofile-foundation 'complexity' AV):
    per-window complexity = sqrt(sum(diff²)), min-max normalized to
    [0, 1].  Computed via cumsum — O(n)."""
    t = np.asarray(t, dtype=np.float64)
    d2 = np.diff(t) ** 2
    cs = np.concatenate([[0.0], np.cumsum(d2)])
    l = len(t) - m + 1
    comp = np.sqrt(cs[m - 1 :][:l] - cs[:l])
    lo, hi = comp.min(), comp.max()
    if hi - lo < _EPS:
        return np.ones(l)
    return (comp - lo) / (hi - lo)


def apply_av(mp: np.ndarray, av: np.ndarray) -> np.ndarray:
    """Corrected matrix profile: cmp = mp + (1 − av)·max(mp)
    (patterns.py:68-93; genlib.py:116-119) — de-prioritizes low-complexity
    (flat) windows in motif ranking."""
    finite = np.isfinite(mp)
    if not finite.any():
        return mp.copy()
    mx = np.max(mp[finite])
    return mp + (1.0 - av) * mx


def subspace_kernel(
    ts: np.ndarray, m: int, idx: int, nn_idx: int, k: int,
    include: list[int] | None = None,
) -> np.ndarray:
    """Which k+1 dimensions participate in a k-dim motif (reference W12,
    pick_subspace_columns → stumpy.subspace, patterns.py:7-35): rank
    dimensions by the z-normalized distance between the motif pair's
    subsequences, forced ``include`` dims first."""
    ts = np.asarray(ts, dtype=np.float64)
    d = ts.shape[0]

    def znorm(x):
        s = x.std()
        return (x - x.mean()) / s if s > _EPS else np.zeros_like(x)

    dists = np.array(
        [
            np.linalg.norm(
                znorm(ts[i, idx : idx + m]) - znorm(ts[i, nn_idx : nn_idx + m])
            )
            for i in range(d)
        ]
    )
    include = sorted(include) if include else []
    rest = [i for i in range(d) if i not in include]
    order = include + sorted(rest, key=lambda i: dists[i])
    return np.array(order[: k + 1], dtype=np.int64)


def dtw_distance(a: np.ndarray, b: np.ndarray) -> float:
    """Dynamic-time-warping distance with manhattan local cost — the
    accumulated DP cost D[-1,-1] (reference plot_segmentation,
    plots.py:167-240, uses dtw(regimes, label_ids, dist=|x−y|) to rank the
    FLUSS L-sweep; the library's path-length normalization is a global
    monotone rescale that cannot change the per-conversation ranking)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return float("nan")
    D = np.abs(a[:, None] - b[None, :])
    for i in range(la):
        for j in range(lb):
            if i == 0 and j == 0:
                continue
            opts = []
            if i > 0:
                opts.append(D[i - 1, j])
            if j > 0:
                opts.append(D[i, j - 1])
            if i > 0 and j > 0:
                opts.append(D[i - 1, j - 1])
            D[i, j] += min(opts)
    return float(D[-1, -1])


def top_k_discords_kernel(mp: np.ndarray, ez: int, k: int) -> list[tuple[int, float]]:
    """Top-k discords = highest finite MP values with exclusion zones.

    Selection runs on round-4 distances (first-index tie-break): mutual-NN
    pairs share one mathematical MP value, and unrounded argmax near-ties
    would pick different members per engine (see top_k_motifs_kernel)."""
    mp = np.round(mp, 4)
    out = []
    for _ in range(k):
        finite = np.isfinite(mp)
        if not finite.any():
            break
        j = int(np.argmax(np.where(finite, mp, -np.inf)))
        out.append((j, float(mp[j])))
        mp[max(0, j - ez) : j + ez + 1] = np.nan
    return out
