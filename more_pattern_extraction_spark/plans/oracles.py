"""Generated DuckDB oracle SQL for the iterative / kernel-backed queries.

These oracles share NO code with the numpy kernels: each re-derives the
result with brute-force relational algebra (all-pairs z-normalized
distances, window aggregates, unrolled greedy argmin/argmax steps).

Greedy exclusion loops (top-k motifs/discords, neighbor search, FLUSS
regime extraction — reference ``modules/similarity.py:8-104``,
``modules/patterns.py:368-402``) cannot recurse in DuckDB (recursive CTE +
correlated LATERAL hits an internal error), so they are UNROLLED: each
pick is one CTE computing ``min({'d': dist, 'i': i})`` — a lexicographic
struct-min that reproduces numpy's first-index tie-break — under the
accumulated exclusion predicates of all earlier picks.  The unroll depth
equals the operator's ``max_neighbors``/``k`` argument, which the Spark
query pins to the same constant, so both sides compute the identical
capped greedy sequence by construction.
"""

from __future__ import annotations

import numpy as np

M = 16          # subsequence length shared with plans/entry.py (_MP_M)
EZ = 4          # exclusion zone = ceil(M/4) (_MP_EZ)
MAX_NBRS = 10   # neighbor-loop unroll depth (Spark side passes the same)
RADIUS = 3.0


def _series_cte(m: int = M) -> str:
    """Positional per-user series + per-window mean/std (the shared prefix
    of every matrix-profile-family oracle)."""
    return f"""
    v AS MATERIALIZED (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
             value
      FROM events
    ), stats AS MATERIALIZED (
      SELECT user_id, pos AS i,
             avg(value) OVER w AS mu,
             var_pop(value) OVER w AS varp,
             count(*) OVER w AS cnt
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {m - 1} FOLLOWING)
    ), subs AS MATERIALIZED (
      SELECT user_id, i, mu, sqrt(varp) AS sig FROM stats WHERE cnt = {m}
    )"""


def _mp_cte(m: int = M, ez: int = EZ) -> str:
    """All-pairs z-norm distance matrix (|i-j| > ez) + matrix profile
    (prof = min dist per i) + profile index (pidx = argmin, first-index
    tie-break like np.argmax over the correlation)."""
    return f""",
    pairs AS MATERIALIZED (
      SELECT a.user_id, a.i, b.i AS j,
             a.mu AS mu_i, a.sig AS sig_i, b.mu AS mu_j, b.sig AS sig_j
      FROM subs a JOIN subs b USING (user_id)
      WHERE abs(a.i - b.i) > {ez}
    ), dots AS MATERIALIZED (
      SELECT p.user_id, p.i, p.j, sum(va.value * vb.value) AS qt
      FROM pairs p
      JOIN v va ON va.user_id = p.user_id AND va.pos BETWEEN p.i AND p.i + {m - 1}
      JOIN v vb ON vb.user_id = p.user_id AND vb.pos = va.pos - p.i + p.j
      GROUP BY 1, 2, 3
    ), dmat AS MATERIALIZED (
      SELECT dots.user_id, dots.i, dots.j,
             sqrt(greatest(0, 2 * {m} * (1 - (qt - {m} * mu_i * mu_j)
                                             / ({m} * sig_i * sig_j)))) AS dist
      FROM dots JOIN pairs USING (user_id, i, j)
    ), prof AS MATERIALIZED (
      SELECT user_id, i, min(dist) AS mp FROM dmat GROUP BY 1, 2
    ), pidx AS MATERIALIZED (
      SELECT user_id, i, struct_extract(min({{'d': dist, 'j': j}}), 'j') AS j
      FROM dmat GROUP BY 1, 2
    )"""


# ---------------------------------------------------------------------------
# discord_discovery — k=2 argmax-with-exclusion over the MP
# ---------------------------------------------------------------------------

def discord_sql(k: int = 2, ez: int = EZ) -> str:
    steps, outs = [], []
    for r in range(1, k + 1):
        excl = " AND ".join(
            f"abs(p.i - struct_extract(r{s}.s, 'i')) > {ez}" for s in range(1, r)
        )
        joins = "".join(f" JOIN r{s} ON r{s}.user_id = p.user_id" for s in range(1, r))
        where = f"WHERE {excl}" if excl else ""
        steps.append(
            f"r{r} AS MATERIALIZED (SELECT p.user_id, min({{'d': -round(p.mp, 4), 'i': p.i, 'v': round(p.mp, 4)}}) AS s\n"
            f"         FROM prof p{joins} {where} GROUP BY 1)"
        )
        outs.append(
            f"SELECT user_id AS conv_key, CAST({r} AS BIGINT) AS discord_rank,\n"
            f"       CAST(struct_extract(s, 'i') AS BIGINT) AS pos,\n"
            f"       round(struct_extract(s, 'v'), 4) AS distance FROM r{r}"
        )
    return (
        "WITH" + _series_cte() + _mp_cte() + ",\n"
        + ",\n".join(steps) + "\n"
        + "\nUNION ALL\n".join(outs)
    )


# ---------------------------------------------------------------------------
# neighbor_search — fixed query pattern, 3 argmin-with-exclusion picks
# ---------------------------------------------------------------------------

def neighbor_search_sql(max_neighbors: int = 3, ez: int = EZ, m: int = M) -> str:
    q = np.sin(np.arange(m) * 0.4) * 100 + 150  # mirrors plans/entry.py
    qvals = ", ".join(f"({i}, {v!r})" for i, v in enumerate(q))
    steps, outs = [], []
    for r in range(1, max_neighbors + 1):
        excl = " AND ".join(
            f"abs(d.i - struct_extract(r{s}.s, 'i')) > {ez}" for s in range(1, r)
        )
        joins = "".join(f" JOIN r{s} ON r{s}.user_id = d.user_id" for s in range(1, r))
        where = f"WHERE {excl}" if excl else ""
        steps.append(
            f"r{r} AS MATERIALIZED (SELECT d.user_id, min({{'d': d.dist, 'i': d.i}}) AS s\n"
            f"         FROM dprof d{joins} {where} GROUP BY 1)"
        )
        outs.append(
            f"SELECT user_id AS conv_key,\n"
            f"       CAST(struct_extract(s, 'i') AS BIGINT) AS neighbor_pos,\n"
            f"       round(struct_extract(s, 'd'), 4) AS distance FROM r{r}"
        )
    return (
        "WITH" + _series_cte(m) + f""",
    q(qpos, qv) AS (VALUES {qvals}),
    qs AS (SELECT avg(qv) AS mq, stddev_pop(qv) AS sq FROM q),
    qdots AS MATERIALIZED (
      SELECT v.user_id, v.pos - q.qpos AS i, sum(v.value * q.qv) AS qt
      FROM v JOIN q ON v.pos >= q.qpos
      GROUP BY 1, 2 HAVING count(*) = {m}
    ), dprof AS MATERIALIZED (
      SELECT d.user_id, d.i,
             sqrt(greatest(0, 2 * {m} * (1 - (d.qt - {m} * qs.mq * s.mu)
                                             / ({m} * qs.sq * s.sig)))) AS dist
      FROM qdots d JOIN subs s ON s.user_id = d.user_id AND s.i = d.i, qs
    ),
"""
        + ",\n".join(steps) + "\n"
        + "\nUNION ALL\n".join(outs)
    )


# ---------------------------------------------------------------------------
# fluss_regimes — arc counts → CAC → n_regimes-1 argmin picks
# ---------------------------------------------------------------------------

def fluss_sql(L: int = M, n_regimes: int = 3, excl_factor: int = 1) -> str:
    ezL = excl_factor * L
    steps, outs = [], []
    for r in range(1, n_regimes):
        excl = " AND ".join(
            f"abs(c.p - struct_extract(r{s}.s, 'p')) > {ezL}" for s in range(1, r)
        )
        joins = "".join(f" JOIN r{s} ON r{s}.user_id = c.user_id" for s in range(1, r))
        where = f"AND {excl}" if excl else ""
        steps.append(
            f"r{r} AS MATERIALIZED (SELECT c.user_id, min({{'c': c.cac, 'p': c.p}}) AS s\n"
            f"         FROM cac c{joins} WHERE c.cac < 1.0 {where} GROUP BY 1)"
        )
        outs.append(
            f"SELECT user_id AS conv_key, CAST({L} AS BIGINT) AS L,\n"
            f"       CAST(struct_extract(s, 'p') AS BIGINT) AS regime_pos,\n"
            f"       round(struct_extract(s, 'c'), 6) AS cac FROM r{r}"
        )
    return (
        "WITH" + _series_cte() + _mp_cte() + f""",
    cnt AS (SELECT user_id, count(*) AS l FROM subs GROUP BY 1),
    arcs AS (SELECT user_id, least(i, j) AS lo, greatest(i, j) AS hi FROM pidx),
    ac AS (
      SELECT s.user_id, s.i AS p, count(a.lo) AS ac
      FROM subs s LEFT JOIN arcs a
        ON a.user_id = s.user_id AND a.lo <= s.i AND a.hi > s.i
      GROUP BY 1, 2
    ), cac AS (
      SELECT ac.user_id, ac.p,
             CASE WHEN ac.p < {ezL} OR ac.p >= c.l - {ezL} THEN 1.0
                  WHEN 2.0 * ac.p * (c.l - ac.p) / c.l > 0
                  THEN least(ac.ac / (2.0 * ac.p * (c.l - ac.p) / c.l), 1.0)
                  ELSE 1.0 END AS cac
      FROM ac JOIN cnt c USING (user_id)
    ),
"""
        + ",\n".join(steps) + "\n"
        + "\nUNION ALL\n".join(outs)
    )


def fluss_ranking_sql(
    L_values: tuple[int, ...] = (16, 24, 32), n_regimes: int = 3, excl_factor: int = 1
) -> str:
    """L-sweep DTW ranking oracle (plot_segmentation, plots.py:167-240).

    With exactly 2 labels and ≤ 2 regimes (n_regimes=3), the manhattan DTW
    accumulated cost collapses to a closed form: for |a|=2 the min over
    {D11, D11+c12, D11+c21} is D11 itself (costs ≥ 0), so
    d = |a1−b1| + |a2−b2|; for |a|=1, d = |a1−b1| + |a1−b2|.  Positions
    are integers, so d is fp-exact on both engines."""
    ll = ", ".join(str(int(x)) for x in L_values)
    steps = []
    for r in range(1, n_regimes):
        excl = " AND ".join(
            f"abs(c.p - struct_extract(rr{s}.s, 'p')) > {excl_factor} * c.L"
            for s in range(1, r)
        )
        joins = "".join(
            f" JOIN rr{s} ON rr{s}.user_id = c.user_id AND rr{s}.L = c.L"
            for s in range(1, r)
        )
        where = f"AND {excl}" if excl else ""
        steps.append(
            f"rr{r} AS MATERIALIZED (SELECT c.user_id, c.L, min({{'c': c.cac, 'p': c.p}}) AS s\n"
            f"         FROM cacL c{joins} WHERE c.cac < 1.0 {where} GROUP BY 1, 2)"
        )
    regall = "\nUNION ALL\n".join(
        f"SELECT user_id, L, struct_extract(s, 'p') AS p FROM rr{r}"
        for r in range(1, n_regimes)
    )
    return (
        "WITH" + _series_cte() + _mp_cte() + f""",
    cnt AS (SELECT user_id, count(*) AS l FROM subs GROUP BY 1),
    arcs AS (SELECT user_id, least(i, j) AS lo, greatest(i, j) AS hi FROM pidx),
    ac AS (
      SELECT s.user_id, s.i AS p, count(a.lo) AS ac
      FROM subs s LEFT JOIN arcs a
        ON a.user_id = s.user_id AND a.lo <= s.i AND a.hi > s.i
      GROUP BY 1, 2
    ), cacL AS MATERIALIZED (
      SELECT ac.user_id, Ls.L, ac.p,
             CASE WHEN ac.p < {excl_factor} * Ls.L
                    OR ac.p >= c.l - {excl_factor} * Ls.L THEN 1.0
                  WHEN 2.0 * ac.p * (c.l - ac.p) / c.l > 0
                  THEN least(ac.ac / (2.0 * ac.p * (c.l - ac.p) / c.l), 1.0)
                  ELSE 1.0 END AS cac
      FROM ac JOIN cnt c USING (user_id)
      CROSS JOIN (SELECT unnest([{ll}]) AS L) Ls
    ),
"""
        + ",\n".join(steps)
        + f""",
    regall AS ({regall}),
    regs AS (
      SELECT user_id, L, list_sort(list(CAST(p AS DOUBLE))) AS regs
      FROM regall GROUP BY 1, 2
    ), posd AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
             row_number() OVER (PARTITION BY user_id, (event_type = 'error')
                                ORDER BY ts, event_id) AS rn_type
      FROM events
    ), labs AS (
      SELECT user_id,
             CAST(min(CASE WHEN rn_type = 1 THEN pos END) AS DOUBLE) AS b1,
             CAST(min(CASE WHEN rn_type = 2 THEN pos END) AS DOUBLE) AS b2
      FROM posd WHERE event_type = 'error'
      GROUP BY 1 HAVING count(*) >= 2
    ), dt AS (
      SELECT r.user_id, r.L,
             CASE WHEN len(r.regs) = 1
                  THEN abs(r.regs[1] - l.b1) + abs(r.regs[1] - l.b2)
                  ELSE abs(r.regs[1] - l.b1) + abs(r.regs[2] - l.b2)
             END AS d
      FROM regs r JOIN labs l USING (user_id)
    ), nrm AS (
      SELECT user_id, L, d,
             (d - min(d) OVER (PARTITION BY user_id))
             / nullif(max(d) OVER (PARTITION BY user_id)
                      - min(d) OVER (PARTITION BY user_id), 0) AS norm_dist,
             row_number() OVER (PARTITION BY user_id ORDER BY d, L) AS rank
      FROM dt
    )
    SELECT user_id AS conv_key, CAST(L AS BIGINT) AS L,
           round(d, 6) AS dtw_dist, round(norm_dist, 6) AS norm_dist, rank
    FROM nrm
    """
    )


def nn_stats_sql(
    max_neighbors: int = 3, ez: int = EZ, m: int = M, maj_other: str = "anomalous"
) -> str:
    """A8 calculate_nn_stats oracle: the neighbor_search picks classified
    against the error-interval mask (same machinery as motif_label_stats
    but keyed per conversation, plus the matching_maj flag)."""
    base = neighbor_search_sql(max_neighbors, ez, m)
    # keep the CTE chain, replace the final UNION of pick-outputs with a
    # stats computation over the union of picks
    head, _sep, _tail = base.partition("SELECT user_id AS conv_key")
    picks = "\nUNION ALL\n".join(
        f"SELECT user_id, struct_extract(s, 'i') AS start FROM r{r}"
        for r in range(1, max_neighbors + 1)
    )
    return head.rstrip() + f""",
    occ AS ({picks}),
    err AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
    flagged AS (
      SELECT DISTINCT g.user_id, g.pos
      FROM v g JOIN err e ON e.user_id = g.user_id
        AND g.ts >= e.ts - INTERVAL 10 MINUTE
        AND g.ts <= e.ts + INTERVAL 10 MINUTE
    ), mask AS (
      SELECT g.user_id, g.pos, (f.pos IS NOT NULL) AS flag
      FROM v g LEFT JOIN flagged f ON f.user_id = g.user_id AND f.pos = g.pos
    ), cls_len AS (
      SELECT user_id,
             sum(CASE WHEN flag THEN 1 ELSE 0 END) AS cls1_len,
             sum(CASE WHEN flag THEN 0 ELSE 1 END) AS cls2_len
      FROM mask GROUP BY 1
    ), loc AS (
      SELECT o.user_id,
             CASE WHEN ms.flag = me.flag
                  THEN (CASE WHEN ms.flag THEN 'anomalous' ELSE 'normal' END)
                  ELSE 'both' END AS loc
      FROM occ o
      LEFT JOIN mask ms ON ms.user_id = o.user_id AND ms.pos = o.start
      LEFT JOIN mask me ON me.user_id = o.user_id AND me.pos = o.start + {m - 1}
    ), counts AS (
      SELECT user_id,
             CAST(count(CASE WHEN loc = 'anomalous' THEN 1 END) AS BIGINT) AS cls1_count,
             CAST(count(CASE WHEN loc = 'normal' THEN 1 END) AS BIGINT) AS cls2_count,
             CAST(count(CASE WHEN loc = 'both' THEN 1 END) AS BIGINT) AS spanning_both
      FROM loc GROUP BY 1
    ), scored AS (
      SELECT c.user_id, c.cls1_count, c.cls2_count, c.spanning_both,
             l.cls1_len, l.cls2_len,
             c.cls1_count / (l.cls1_len / CAST(l.cls2_len AS DOUBLE)) AS norm1,
             CAST(c.cls2_count AS DOUBLE) AS norm2,
             (c.cls1_count + c.cls2_count <= 2
              OR l.cls1_len = 0 OR l.cls2_len = 0) AS degen
      FROM counts c JOIN cls_len l USING (user_id)
    )
    SELECT user_id AS conv_key, cls1_count, cls2_count, spanning_both,
           round(CASE WHEN degen THEN 1.0
                      ELSE round(1 - abs(norm1 - norm2) / (norm1 + norm2), 9)
                 END, 6) AS cost,
           CASE WHEN degen OR norm1 = norm2 THEN 'None'
                WHEN norm1 > norm2 THEN 'anomalous' ELSE 'normal' END AS majority,
           (CASE WHEN degen OR norm1 = norm2 THEN 'None'
                 WHEN norm1 > norm2 THEN 'anomalous' ELSE 'normal' END)
           = '{maj_other}' AS matching_maj
    FROM scored
    """


def _cav_ctes(m: int = M) -> str:
    """Complexity annotation vector + corrected profile (W3,
    patterns.py:68-93): comp = sqrt(window sum of diff^2), av = per-conv
    min-max of comp, cprof = mp + (1 - av) * max(mp)."""
    return f""",
    dsq AS (
      SELECT user_id, pos,
             (value - lag(value) OVER (PARTITION BY user_id ORDER BY pos))
             * (value - lag(value) OVER (PARTITION BY user_id ORDER BY pos)) AS dd
      FROM v
    ), compw AS (
      SELECT user_id, pos AS i,
             sqrt(sum(dd) OVER (PARTITION BY user_id ORDER BY pos
                                ROWS BETWEEN 1 FOLLOWING AND {m - 1} FOLLOWING)) AS comp
      FROM dsq
    ), comps AS MATERIALIZED (
      SELECT c.user_id, c.i, c.comp
      FROM compw c JOIN subs s ON s.user_id = c.user_id AND s.i = c.i
    ), rng AS (
      SELECT user_id, min(comp) AS lo, max(comp) AS hi FROM comps GROUP BY 1
    ), av AS MATERIALIZED (
      SELECT c.user_id, c.i,
             CASE WHEN r.hi - r.lo < 1e-13 THEN 1.0
                  ELSE (c.comp - r.lo) / (r.hi - r.lo) END AS av
      FROM comps c JOIN rng r USING (user_id)
    ), mxv AS (
      SELECT user_id, max(mp) AS mx FROM prof GROUP BY 1
    ), cprof AS MATERIALIZED (
      SELECT p.user_id, p.i, p.mp + (1 - a.av) * x.mx AS mp
      FROM prof p
      JOIN av a ON a.user_id = p.user_id AND a.i = p.i
      JOIN mxv x ON x.user_id = p.user_id
    )"""


def corrected_mp_sql() -> str:
    return (
        "WITH" + _series_cte() + _mp_cte() + _cav_ctes() + """
    SELECT p.user_id AS conv_key, CAST(p.i AS BIGINT) AS pos,
           round(p.mp, 4) AS mp, round(a.av, 6) AS av, round(c.mp, 4) AS cmp
    FROM prof p
    JOIN av a ON a.user_id = p.user_id AND a.i = p.i
    JOIN cprof c ON c.user_id = p.user_id AND c.i = p.i
    """
    )


# ---------------------------------------------------------------------------
# motif_discovery — k rounds of (argmin seed + unrolled neighbor loop)
# ---------------------------------------------------------------------------

def _seed_profile_ctes(rnd: int, m: int = M) -> str:
    """Distance profile of round-``rnd``'s seed window against every
    window of its conversation (the kernel's mass2(t[i:i+m], t))."""
    return f"""
    sd{rnd} AS MATERIALIZED (
      SELECT s.user_id, vb.pos - (va.pos - s.i0) AS j, sum(va.value * vb.value) AS qt
      FROM seed{rnd} s
      JOIN v va ON va.user_id = s.user_id AND va.pos BETWEEN s.i0 AND s.i0 + {m - 1}
      JOIN v vb ON vb.user_id = s.user_id AND vb.pos - (va.pos - s.i0) >= 0
      GROUP BY 1, 2 HAVING count(*) = {m}
    ), sp{rnd} AS MATERIALIZED (
      SELECT d.user_id, d.j,
             sqrt(greatest(0, 2 * {m} * (1 - (d.qt - {m} * sa.mu * sb.mu)
                                             / ({m} * sa.sig * sb.sig)))) AS dist
      FROM sd{rnd} d
      JOIN seed{rnd} se ON se.user_id = d.user_id
      JOIN subs sa ON sa.user_id = d.user_id AND sa.i = se.i0
      JOIN subs sb ON sb.user_id = d.user_id AND sb.i = d.j
    )"""


def _neighbor_steps(rnd: int, max_nbrs: int, radius: float, ez: int) -> str:
    """Unrolled greedy neighbor picks for round ``rnd``: step s excludes
    ±ez around the seed pair and every earlier pick (NULL-safe: once a
    step finds no candidate, all later steps are NULL too)."""
    steps = []
    for s in range(1, max_nbrs + 1):
        prev_excl = " AND ".join(
            f"(n{rnd}_{t}.p IS NULL OR abs(sp.j - n{rnd}_{t}.p) > {ez})"
            for t in range(1, s)
        )
        joins = "".join(
            f" JOIN n{rnd}_{t} ON n{rnd}_{t}.user_id = b.user_id" for t in range(1, s)
        )
        cond = f"AND {prev_excl}" if prev_excl else ""
        steps.append(f"""
    n{rnd}_{s} AS MATERIALIZED (
      SELECT b.user_id,
             (SELECT struct_extract(min({{'d': sp.dist, 'j': sp.j}}), 'j')
              FROM sp{rnd} sp
              WHERE sp.user_id = b.user_id AND sp.dist <= {radius} * b.d0
                AND abs(sp.j - b.i0) > {ez} AND abs(sp.j - b.j0) > {ez} {cond}) AS p
      FROM seed{rnd} b{joins}
    )""")
    plist = ", ".join(f"n{rnd}_{s}.p" for s in range(1, max_nbrs + 1))
    njoins = "".join(
        f" JOIN n{rnd}_{s} ON n{rnd}_{s}.user_id = se.user_id"
        for s in range(1, max_nbrs + 1)
    )
    steps.append(f"""
    nb{rnd} AS MATERIALIZED (
      SELECT se.user_id, list_filter([{plist}], x -> x IS NOT NULL) AS nbrs
      FROM seed{rnd} se{njoins}
    )""")
    return ",".join(steps)


def motif_core_ctes(
    k: int = 2, max_nbrs: int = MAX_NBRS, radius: float = RADIUS,
    ez: int = EZ, m: int = M, prof_tbl: str = "prof",
) -> str:
    """CTE chain computing seed{r} (motif pair + distance) and nb{r}
    (neighbor list) for rounds 1..k — shared by the motif_discovery and
    motif_label_stats oracles."""
    parts = [f"""
    m1 AS MATERIALIZED (SELECT user_id, min({{'d': round(mp, 4), 'i': i}}) AS s FROM {prof_tbl} GROUP BY 1),
    seed1 AS MATERIALIZED (
      -- canonical pair: smaller index drives the neighbor profile (the
      -- kernel does the same — fp noise must not pick the representative)
      SELECT m1.user_id,
             least(struct_extract(m1.s, 'i'), px.j) AS i0,
             greatest(struct_extract(m1.s, 'i'), px.j) AS j0,
             struct_extract(m1.s, 'd') AS d0
      FROM m1 JOIN pidx px
        ON px.user_id = m1.user_id AND px.i = struct_extract(m1.s, 'i')
    ),{_seed_profile_ctes(1, m)},{_neighbor_steps(1, max_nbrs, radius, ez)}"""]
    for r in range(2, k + 1):
        parts.append(f""",
    ex{r - 1} AS MATERIALIZED (
      SELECT s.user_id, list_concat([s.i0, s.j0], nb{r - 1}.nbrs) AS ex
      FROM seed{r - 1} s JOIN nb{r - 1} ON nb{r - 1}.user_id = s.user_id
    ), m{r} AS MATERIALIZED (
      SELECT p.user_id, min({{'d': round(p.mp, 4), 'i': p.i}}) AS s
      FROM {prof_tbl} p JOIN ex{r - 1} ON ex{r - 1}.user_id = p.user_id
      WHERE len(list_filter(ex{r - 1}.ex, e -> abs(p.i - e) <= {ez})) = 0
      GROUP BY 1
    ), seed{r} AS MATERIALIZED (
      SELECT m{r}.user_id,
             least(struct_extract(m{r}.s, 'i'), px.j) AS i0,
             greatest(struct_extract(m{r}.s, 'i'), px.j) AS j0,
             struct_extract(m{r}.s, 'd') AS d0
      FROM m{r} JOIN pidx px
        ON px.user_id = m{r}.user_id AND px.i = struct_extract(m{r}.s, 'i')
    ),{_seed_profile_ctes(r, m)},{_neighbor_steps(r, max_nbrs, radius, ez)}""")
    return "".join(parts)


def motif_sql(k: int = 2, max_nbrs: int = MAX_NBRS, corrected: bool = False) -> str:
    outs = [
        f"""SELECT se.user_id AS conv_key, CAST({r} AS BIGINT) AS motif_rank,
       CAST(se.i0 AS BIGINT) AS motif_pos, CAST(se.j0 AS BIGINT) AS pair_pos,
       round(se.d0, 4) AS distance, CAST(len(nb{r}.nbrs) AS BIGINT) AS n_neighbors
FROM seed{r} se JOIN nb{r} ON nb{r}.user_id = se.user_id"""
        for r in range(1, k + 1)
    ]
    cav = _cav_ctes() if corrected else ""
    prof_tbl = "cprof" if corrected else "prof"
    return (
        "WITH" + _series_cte() + _mp_cte() + cav + ","
        + motif_core_ctes(k, max_nbrs, prof_tbl=prof_tbl)
        + "\n" + "\nUNION ALL\n".join(outs)
    )


# ---------------------------------------------------------------------------
# motif_label_stats — rank-1 motif occurrences classified against the
# error-interval mask (A6/A7, patterns.py:135-243)
# ---------------------------------------------------------------------------

def motif_label_stats_sql(max_nbrs: int = MAX_NBRS, m: int = M) -> str:
    return (
        "WITH" + _series_cte() + _mp_cte() + ","
        + motif_core_ctes(k=1, max_nbrs=max_nbrs)
        + f""",
    err AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
    flagged AS (
      SELECT DISTINCT g.user_id, g.pos
      FROM v g JOIN err e ON e.user_id = g.user_id
        AND g.ts >= e.ts - INTERVAL 10 MINUTE
        AND g.ts <= e.ts + INTERVAL 10 MINUTE
    ), mask AS (
      SELECT g.user_id, g.pos, (f.pos IS NOT NULL) AS flag
      FROM v g LEFT JOIN flagged f ON f.user_id = g.user_id AND f.pos = g.pos
    ), cls_len AS (
      SELECT user_id,
             sum(CASE WHEN flag THEN 1 ELSE 0 END) AS cls1_len,
             sum(CASE WHEN flag THEN 0 ELSE 1 END) AS cls2_len
      FROM mask GROUP BY 1
    ), occ AS (
      SELECT se.user_id, 1 AS motif_rank,
             unnest(list_concat([se.i0, se.j0], nb1.nbrs)) AS start
      FROM seed1 se JOIN nb1 ON nb1.user_id = se.user_id
    ), loc AS (
      SELECT o.user_id, o.motif_rank,
             CASE WHEN ms.flag = me.flag
                  THEN (CASE WHEN ms.flag THEN 'anomalous' ELSE 'normal' END)
                  ELSE 'both' END AS loc
      FROM occ o
      LEFT JOIN mask ms ON ms.user_id = o.user_id AND ms.pos = o.start
      LEFT JOIN mask me ON me.user_id = o.user_id AND me.pos = o.start + {m - 1}
    ), counts AS (
      SELECT user_id, motif_rank,
             CAST(count(CASE WHEN loc = 'anomalous' THEN 1 END) AS BIGINT) AS cls1_count,
             CAST(count(CASE WHEN loc = 'normal' THEN 1 END) AS BIGINT) AS cls2_count,
             CAST(count(CASE WHEN loc = 'both' THEN 1 END) AS BIGINT) AS spanning_both
      FROM loc GROUP BY 1, 2
    ), scored AS (
      SELECT c.user_id, c.motif_rank, c.cls1_count, c.cls2_count, c.spanning_both,
             l.cls1_len, l.cls2_len,
             c.cls1_count / (l.cls1_len / CAST(l.cls2_len AS DOUBLE)) AS norm1,
             CAST(c.cls2_count AS DOUBLE) AS norm2
      FROM counts c JOIN cls_len l USING (user_id)
    )
    SELECT user_id AS conv_key, CAST(motif_rank AS BIGINT) AS motif_rank,
           cls1_count, cls2_count, spanning_both,
           round(CASE WHEN cls1_count + cls2_count <= 2
                        OR cls1_len = 0 OR cls2_len = 0 THEN 1.0
                      ELSE round(1 - abs(norm1 - norm2) / (norm1 + norm2), 9)
                 END, 6) AS cost,
           CASE WHEN cls1_count + cls2_count <= 2
                  OR cls1_len = 0 OR cls2_len = 0 OR norm1 = norm2 THEN 'None'
                WHEN norm1 > norm2 THEN 'anomalous' ELSE 'normal' END AS majority
    FROM scored
    """
    )


# ---------------------------------------------------------------------------
# matrix_profile_multidim — brute-force 2-dim mSTOMP (k=1: min of per-dim
# distances; k=2: their mean — Yeh et al. sorted-cummean construction)
# ---------------------------------------------------------------------------

def _multidim_prefix(m: int = M, ez: int = EZ) -> str:
    return f"""
    WITH v2 AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
             value AS f1,
             CAST(json_extract_string(props, '$.k') AS DOUBLE) AS f2
      FROM events
    ), st AS (
      SELECT user_id, pos AS i,
             avg(f1) OVER w AS mu1, var_pop(f1) OVER w AS va1,
             avg(f2) OVER w AS mu2, var_pop(f2) OVER w AS va2,
             count(*) OVER w AS cnt
      FROM v2
      WINDOW w AS (PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {m - 1} FOLLOWING)
    ), sb AS (
      SELECT user_id, i, mu1, sqrt(va1) AS s1, mu2, sqrt(va2) AS s2
      FROM st WHERE cnt = {m}
    ), prs AS (
      SELECT a.user_id, a.i, b.i AS j,
             a.mu1 AS mu1i, a.s1 AS s1i, b.mu1 AS mu1j, b.s1 AS s1j,
             a.mu2 AS mu2i, a.s2 AS s2i, b.mu2 AS mu2j, b.s2 AS s2j
      FROM sb a JOIN sb b USING (user_id)
      WHERE abs(a.i - b.i) > {ez}
    ), dts AS (
      SELECT p.user_id, p.i, p.j,
             sum(va.f1 * vb.f1) AS qt1, sum(va.f2 * vb.f2) AS qt2
      FROM prs p
      JOIN v2 va ON va.user_id = p.user_id AND va.pos BETWEEN p.i AND p.i + {m - 1}
      JOIN v2 vb ON vb.user_id = p.user_id AND vb.pos = va.pos - p.i + p.j
      GROUP BY 1, 2, 3
    ), dd AS (
      SELECT d.user_id, d.i, d.j,
             sqrt(greatest(0, 2 * {m} * (1 - (qt1 - {m} * mu1i * mu1j)
                                             / ({m} * s1i * s1j)))) AS d1,
             sqrt(greatest(0, 2 * {m} * (1 - (qt2 - {m} * mu2i * mu2j)
                                             / ({m} * s2i * s2j)))) AS d2
      FROM dts d JOIN prs USING (user_id, i, j)
    )"""


def multidim_sql(m: int = M, ez: int = EZ) -> str:
    return _multidim_prefix(m, ez) + f"""
    SELECT user_id AS conv_key, CAST(1 AS BIGINT) AS k, CAST(i AS BIGINT) AS pos,
           round(min(least(d1, d2)), 4) AS mp
    FROM dd GROUP BY user_id, i
    UNION ALL
    SELECT user_id, CAST(2 AS BIGINT), CAST(i AS BIGINT),
           round(min((d1 + d2) / 2), 4)
    FROM dd GROUP BY user_id, i
    """


def subspace_sql(m: int = M, ez: int = EZ) -> str:
    """W12 subspace oracle: best 2-dim motif pair (argmin of the k=2
    profile on round-4 values, canonical smaller-index pair), dims ranked
    by per-dim z-norm distance at that pair — subspace_kernel's
    ||znorm(a)-znorm(b)|| equals the z-dist d_k exactly."""
    return _multidim_prefix(m, ez) + """
    , p2 AS MATERIALIZED (
      SELECT user_id, i, min({'d': (d1 + d2) / 2, 'j': j}) AS s
      FROM dd GROUP BY 1, 2
    ), seed AS MATERIALIZED (
      SELECT user_id,
             min({'d': round(struct_extract(s, 'd'), 4), 'i': i}) AS mm
      FROM p2 GROUP BY 1
    ), pick AS (
      SELECT p2.user_id,
             least(p2.i, struct_extract(p2.s, 'j')) AS i0,
             greatest(p2.i, struct_extract(p2.s, 'j')) AS j0
      FROM p2 JOIN seed
        ON p2.user_id = seed.user_id AND p2.i = struct_extract(seed.mm, 'i')
    ), dims AS (
      SELECT pk.user_id, pk.i0, pk.j0, dd.d1, dd.d2
      FROM pick pk JOIN dd
        ON dd.user_id = pk.user_id AND dd.i = pk.i0 AND dd.j = pk.j0
    )
    SELECT user_id AS conv_key, CAST(i0 AS BIGINT) AS motif_pos,
           CAST(j0 AS BIGINT) AS nn_pos, CAST(1 AS BIGINT) AS dim_rank,
           CASE WHEN d1 <= d2 THEN 'f1' ELSE 'f2' END AS dim
    FROM dims
    UNION ALL
    SELECT user_id, CAST(i0 AS BIGINT), CAST(j0 AS BIGINT), CAST(2 AS BIGINT),
           CASE WHEN d1 <= d2 THEN 'f2' ELSE 'f1' END
    FROM dims
    """


# ---------------------------------------------------------------------------
# changepoint_event_scores — per-event OLS on train window, val/test errors
# ---------------------------------------------------------------------------

CHANGEPOINT_SQL = """
    WITH x AS (
      SELECT user_id, ts, value AS y,
             (epoch(ts) - epoch(timestamp '2024-01-01')) / 86400.0 AS xd
      FROM events
    ), e AS (
      SELECT user_id, min(ts) AS event_ts
      FROM events WHERE event_type = 'error' AND ts > timestamp '2024-01-10'
      GROUP BY 1 HAVING min(ts) > timestamp '2024-01-10'
    ), j AS (
      SELECT x.user_id, x.ts, x.y, x.xd, e.event_ts,
             CASE WHEN x.ts < e.event_ts - INTERVAL 2 DAY THEN 'train'
                  WHEN x.ts < e.event_ts THEN 'val' ELSE 'test' END AS split
      FROM x JOIN e ON x.user_id = e.user_id
        AND x.ts >= e.event_ts - INTERVAL 7 DAY - INTERVAL 2 DAY
        AND x.ts < e.event_ts + INTERVAL 2 DAY
    ), fit AS (
      SELECT user_id,
             (avg(xd * y) - avg(xd) * avg(y))
             / (avg(xd * xd) - avg(xd) * avg(xd)) AS slope,
             avg(y) AS my, avg(xd) AS mx
      FROM j WHERE split = 'train' GROUP BY 1
    ), p AS (
      SELECT j.user_id, j.split, j.y,
             (fit.my - fit.slope * fit.mx) + fit.slope * j.xd AS pred
      FROM j JOIN fit USING (user_id) WHERE j.split != 'train'
    ), ps AS (
      SELECT user_id, split, avg(y - pred) AS me,
             avg(abs(y - pred)) / avg(y) AS mape
      FROM p GROUP BY 1, 2
    ), val AS (
      SELECT user_id, me AS val_me, mape AS val_mape FROM ps WHERE split = 'val'
    ), tst AS (
      SELECT user_id, me AS test_me FROM ps WHERE split = 'test'
    )
    SELECT CAST(v.user_id AS VARCHAR) AS event_id,
           round(val_me, 6) AS val_me, round(val_mape, 6) AS val_mape,
           round(test_me, 6) AS test_me,
           round((test_me - val_me) / nullif(abs(val_me), 0), 6) AS ratio
    FROM val v JOIN tst t ON v.user_id = t.user_id
"""


# changepoint_event_scores_poly2 — per-event closed-form QUADRATIC fit on
# days-relative-to-event (Cramer's rule over normal-equation moments — the
# exact arithmetic the Spark side runs, so fp parity holds at round-6)
CHANGEPOINT_POLY2_SQL = """
    WITH e AS (
      SELECT user_id, min(ts) AS event_ts
      FROM events WHERE event_type = 'error' AND ts > timestamp '2024-01-10'
      GROUP BY 1 HAVING min(ts) > timestamp '2024-01-10'
    ), j AS (
      SELECT x.user_id, x.ts, x.value AS y,
             (epoch(x.ts) - epoch(e.event_ts)) / 86400.0 AS xe,
             CASE WHEN x.ts < e.event_ts - INTERVAL 2 DAY THEN 'train'
                  WHEN x.ts < e.event_ts THEN 'val' ELSE 'test' END AS split
      FROM events x JOIN e ON x.user_id = e.user_id
        AND x.ts >= e.event_ts - INTERVAL 7 DAY - INTERVAL 2 DAY
        AND x.ts < e.event_ts + INTERVAL 2 DAY
    ), mo AS (
      SELECT user_id, CAST(count(*) AS DOUBLE) AS s0,
             sum(xe) AS s1, sum(xe * xe) AS s2,
             sum(xe * xe * xe) AS s3, sum(xe * xe * xe * xe) AS s4,
             sum(y) AS t0, sum(xe * y) AS t1, sum(xe * xe * y) AS t2
      FROM j WHERE split = 'train' GROUP BY 1
    ), fit AS (
      SELECT user_id,
        (t0*(s2*s4 - s3*s3) - s1*(t1*s4 - s3*t2) + s2*(t1*s3 - s2*t2))
        / (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS c0,
        (s0*(t1*s4 - s3*t2) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - t1*s2))
        / (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS c1,
        (s0*(s2*t2 - t1*s3) - s1*(s1*t2 - t1*s2) + t0*(s1*s3 - s2*s2))
        / (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS c2
      FROM mo
    ), p AS (
      SELECT j.user_id, j.split, j.y,
             fit.c0 + fit.c1 * j.xe + fit.c2 * j.xe * j.xe AS pred
      FROM j JOIN fit USING (user_id) WHERE j.split != 'train'
    ), ps AS (
      SELECT user_id, split, avg(y - pred) AS me,
             avg(abs(y - pred)) / avg(y) AS mape
      FROM p GROUP BY 1, 2
    ), val AS (
      SELECT user_id, me AS val_me, mape AS val_mape FROM ps WHERE split = 'val'
    ), tst AS (
      SELECT user_id, me AS test_me FROM ps WHERE split = 'test'
    )
    SELECT CAST(v.user_id AS VARCHAR) AS event_id,
           round(val_me, 6) AS val_me, round(val_mape, 6) AS val_mape,
           round(test_me, 6) AS test_me,
           round((test_me - val_me) / nullif(abs(val_me), 0), 6) AS ratio
    FROM val v JOIN tst t ON v.user_id = t.user_id
"""


# ---------------------------------------------------------------------------
# dedup_simhash — 64-bit md5-token simhash, all-pairs hamming verify
# (pigeonhole: the Spark blocking with max_hamming < n_blocks is exactly
# equivalent to the brute-force hamming filter, so the oracle skips blocks)
# ---------------------------------------------------------------------------

def simhash_sql(planted_sql: str, max_hamming: int = 6) -> str:
    hex_to_hugeint = (
        "list_sum(list_transform(range(1, 17), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS HUGEINT)"
        " * (CAST(1 AS HUGEINT) << (4 * (16 - i)))))"
    )
    return f"""
    WITH d AS ({planted_sql}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
    th AS (SELECT doc_id, {hex_to_hugeint} AS h FROM tok),
    bits AS (
      SELECT t.doc_id, r.range AS b,
             sum(CAST((t.h // (CAST(1 AS HUGEINT) << r.range)) % 2 AS BIGINT)) AS ones,
             count(*) AS n
      FROM th t CROSS JOIN range(64) r GROUP BY 1, 2
    ), simh AS (
      SELECT doc_id,
             sum(CASE WHEN ones * 2 >= n THEN CAST(1 AS HUGEINT) << b
                      ELSE CAST(0 AS HUGEINT) END) AS h
      FROM bits GROUP BY 1
    ), simi AS (
      SELECT doc_id,
             CAST(CASE WHEN h >= CAST(1 AS HUGEINT) << 63
                       THEN h - (CAST(1 AS HUGEINT) << 64) ELSE h END AS BIGINT) AS sim
      FROM simh
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
    FROM simi a JOIN simi b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# embedding LSH oracles — hyperplanes inlined as literals (same seed)
# ---------------------------------------------------------------------------

def _planes_values(n_planes: int = 6, dim: int = 64, seed: int = 7) -> str:
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    rows = []
    for b, p in enumerate(planes):
        lst = ", ".join(repr(float(x)) for x in p)
        rows.append(f"({b}, [{lst}])")
    return ",\n      ".join(rows)


_DOTQ = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST({v}[i] AS DOUBLE) * CAST({w}[i] AS DOUBLE)))"
)


def _bucket_cte(src: str, n_planes: int = 6) -> str:
    dot = _DOTQ.format(v="e.embedding", w="p.pl")
    return f"""
    planes(b, pl) AS (VALUES {_planes_values(n_planes)}),
    bk AS (
      SELECT e.vec_id, e.embedding,
             sum(CASE WHEN {dot} >= 0 THEN 1 << p.b ELSE 0 END) AS bucket
      FROM {src} e CROSS JOIN planes p GROUP BY 1, 2
    )"""


def embedding_topk_lsh_sql(k: int = 3, n_planes: int = 6) -> str:
    cos = (
        f"round({_DOTQ.format(v='q.embedding', w='c.embedding')}"
        f" / sqrt({_DOTQ.format(v='q.embedding', w='q.embedding')}"
        f" * {_DOTQ.format(v='c.embedding', w='c.embedding')}), 6)"
    )
    return f"""
    WITH {_bucket_cte('embeddings', n_planes)},
    q AS (SELECT vec_id AS query_id, embedding, bucket FROM bk WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS cand_id, {cos} AS cos
      FROM bk c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.query_id
    ), r AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cos, rank FROM r WHERE rank <= {k}
    """


def embedding_near_dups_sql(threshold: float = 0.99, n_planes: int = 6) -> str:
    cos = (
        f"round({_DOTQ.format(v='a.embedding', w='b.embedding')}"
        f" / sqrt({_DOTQ.format(v='a.embedding', w='a.embedding')}"
        f" * {_DOTQ.format(v='b.embedding', w='b.embedding')}), 6)"
    )
    return f"""
    WITH planted AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
    ), {_bucket_cte('planted', n_planes).lstrip()}
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, {cos} AS cos
    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """


# ---------------------------------------------------------------------------
# multimodal — the fake codec is pure arithmetic over utf8 byte values
# (documents.text is ASCII, verified: ascii(substr(text,i,1)) == byte i)
# ---------------------------------------------------------------------------

MULTIMODAL_FEATURES_SQL = """
    WITH s AS (
      SELECT doc_id, text, octet_length(encode(text)) AS L,
             greatest(1, CAST(floor(sqrt(octet_length(encode(text)))) AS BIGINT)) AS side
      FROM documents
    )
    SELECT doc_id, 'image' AS modality,
           CAST(L AS BIGINT) AS n_bytes,
           side AS width, side AS height,
           round(coalesce(
             list_avg(list_transform(range((side * side) // 8),
                      p -> CAST(ascii(substr(text, CAST(p AS INT) + 1, 1)) AS DOUBLE))),
             0.0), 6) AS feat0
    FROM s
"""

MULTIMODAL_FRAMES_SQL = """
    WITH s AS (SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
    f AS (
      SELECT doc_id, L,
             unnest(range(0, CAST(ceil(L / 64.0) AS BIGINT), 4)) AS frame_idx
      FROM s
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(least(64, L - frame_idx * 64) AS BIGINT) AS frame_bytes
    FROM f
"""


# ---------------------------------------------------------------------------
# knee_detection — W14 knee over dimensions (reference plot_knee,
# plots.py:17-44): min value of each k-dim profile as a curve over k, the
# visual elbow made explicit as the k maximizing discrete curvature.
# 3-dim brute force (f1 = value, f2 = props.k, f3 = lag(f1)); min over all
# admissible pairs == min over positions of the per-position profile, and
# round(min(x)) == min(round(x)) for the monotone round, so the oracle can
# aggregate pairs directly.
# ---------------------------------------------------------------------------


def _multidim3_prefix(m: int = M, ez: int = EZ) -> str:
    return f"""
    WITH v0 AS (
      SELECT user_id, ts, event_id, value AS f1,
             CAST(json_extract_string(props, '$.k') AS DOUBLE) AS f2,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS f3
      FROM events
    ), v2 AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
             f1, f2, f3
      FROM v0 WHERE f3 IS NOT NULL
    ), st AS (
      SELECT user_id, pos AS i,
             avg(f1) OVER w AS mu1, var_pop(f1) OVER w AS va1,
             avg(f2) OVER w AS mu2, var_pop(f2) OVER w AS va2,
             avg(f3) OVER w AS mu3, var_pop(f3) OVER w AS va3,
             count(*) OVER w AS cnt
      FROM v2
      WINDOW w AS (PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {m - 1} FOLLOWING)
    ), sb AS (
      SELECT user_id, i, mu1, sqrt(va1) AS s1, mu2, sqrt(va2) AS s2,
             mu3, sqrt(va3) AS s3
      FROM st WHERE cnt = {m}
    ), prs AS (
      SELECT a.user_id, a.i, b.i AS j,
             a.mu1 AS mu1i, a.s1 AS s1i, b.mu1 AS mu1j, b.s1 AS s1j,
             a.mu2 AS mu2i, a.s2 AS s2i, b.mu2 AS mu2j, b.s2 AS s2j,
             a.mu3 AS mu3i, a.s3 AS s3i, b.mu3 AS mu3j, b.s3 AS s3j
      FROM sb a JOIN sb b USING (user_id)
      WHERE abs(a.i - b.i) > {ez}
    ), dts AS (
      SELECT p.user_id, p.i, p.j,
             sum(va.f1 * vb.f1) AS qt1, sum(va.f2 * vb.f2) AS qt2,
             sum(va.f3 * vb.f3) AS qt3
      FROM prs p
      JOIN v2 va ON va.user_id = p.user_id AND va.pos BETWEEN p.i AND p.i + {m - 1}
      JOIN v2 vb ON vb.user_id = p.user_id AND vb.pos = va.pos - p.i + p.j
      GROUP BY 1, 2, 3
    ), dd AS (
      SELECT d.user_id, d.i, d.j,
             sqrt(greatest(0, 2 * {m} * (1 - (qt1 - {m} * mu1i * mu1j)
                                             / ({m} * s1i * s1j)))) AS d1,
             sqrt(greatest(0, 2 * {m} * (1 - (qt2 - {m} * mu2i * mu2j)
                                             / ({m} * s2i * s2j)))) AS d2,
             sqrt(greatest(0, 2 * {m} * (1 - (qt3 - {m} * mu3i * mu3j)
                                             / ({m} * s3i * s3j)))) AS d3
      FROM dts d JOIN prs USING (user_id, i, j)
    )"""


def knee_sql(m: int = M, ez: int = EZ) -> str:
    return _multidim3_prefix(m, ez) + """
    , prof AS (
      SELECT user_id, 1 AS k, min(round(least(d1, d2, d3), 4)) AS min_mp
      FROM dd GROUP BY 1
      UNION ALL
      SELECT user_id, 2,
             min(round((d1 + d2 + d3 - greatest(d1, d2, d3)) / 2, 4))
      FROM dd GROUP BY 1
      UNION ALL
      SELECT user_id, 3, min(round((d1 + d2 + d3) / 3, 4)) FROM dd GROUP BY 1
    ), c AS (
      SELECT user_id, k, min_mp,
             min_mp - lag(min_mp) OVER w AS increment
      FROM prof WINDOW w AS (PARTITION BY user_id ORDER BY k)
    ), cc AS (
      SELECT user_id, k, min_mp, increment,
             lead(increment) OVER w - increment AS curvature
      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY k)
    ), rk AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY curvature DESC NULLS LAST, k) AS rn
      FROM cc
    )
    SELECT CAST(user_id AS BIGINT) AS conv_key, CAST(k AS BIGINT) AS k,
           round(min_mp, 4) AS min_mp, round(increment, 4) AS increment,
           round(curvature, 4) AS curvature,
           (curvature IS NOT NULL AND rn = 1) AS is_knee
    FROM rk
    """


# ---------------------------------------------------------------------------
# quantile_event_scores — exact τ-quantile (pinball) line fit per event on
# the train window, val/test exceedance + pinball scores (the reference's
# quantile model family, underperformance_estimator.py:20-48).  The exact
# fit enumerates every train point-pair line (an optimal quantile-LP
# solution passes through two points) with the IDENTICAL rounded-loss
# argmin + (i, j) tie-break the Spark grouped UDF runs.
# ---------------------------------------------------------------------------


def quantile_event_scores_sql(tau: float = 0.9) -> str:
    def rho(r: str) -> str:
        return (f"CASE WHEN {r} >= 0 THEN {tau} * ({r}) "
                f"ELSE {tau - 1.0} * ({r}) END")

    return f"""
    WITH e AS (
      SELECT user_id, min(ts) AS event_ts
      FROM events WHERE event_type = 'error' AND ts > timestamp '2024-01-10'
      GROUP BY 1 HAVING min(ts) > timestamp '2024-01-10'
    ), j AS (
      SELECT x.user_id, x.ts, x.value AS y,
             (epoch(x.ts) - epoch(e.event_ts)) / 86400.0 AS xe,
             CASE WHEN x.ts < e.event_ts - INTERVAL 2 DAY THEN 'train'
                  WHEN x.ts < e.event_ts THEN 'val' ELSE 'test' END AS split
      FROM events x JOIN e ON x.user_id = e.user_id
        AND x.ts >= e.event_ts - INTERVAL 7 DAY - INTERVAL 2 DAY
        AND x.ts < e.event_ts + INTERVAL 2 DAY
      WHERE x.value IS NOT NULL
    ), tr AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, y) - 1 AS rid,
             xe AS x, y
      FROM j WHERE split = 'train'
    ), cand AS (
      SELECT a.user_id, a.rid AS ci, b.rid AS cj,
             (b.y - a.y) / (b.x - a.x) AS slope,
             a.y - (b.y - a.y) / (b.x - a.x) * a.x AS icept
      FROM tr a JOIN tr b
        ON a.user_id = b.user_id AND a.rid < b.rid AND a.x != b.x
    ), loss AS (
      SELECT c.user_id, c.ci, c.cj, c.slope, c.icept,
             sum({rho('t.y - (c.icept + c.slope * t.x)')}) AS pl
      FROM cand c JOIN tr t ON t.user_id = c.user_id
      GROUP BY 1, 2, 3, 4, 5
    ), best AS (
      SELECT user_id,
             min({{'l': round(pl, 6), 'i': ci, 'j': cj,
                  's': slope, 'c': icept}}) AS bb
      FROM loss GROUP BY 1
    ), fit AS (
      SELECT user_id, struct_extract(bb, 's') AS slope,
             struct_extract(bb, 'c') AS icept
      FROM best
    ), sc AS (
      SELECT j.user_id, j.split, j.y, fit.slope, fit.icept,
             fit.icept + fit.slope * j.xe AS pred
      FROM j JOIN fit USING (user_id) WHERE j.split != 'train'
    ), ps AS (
      SELECT user_id, split,
             avg(CASE WHEN y > pred THEN 1.0 ELSE 0.0 END) AS exceed,
             avg({rho('y - pred')}) AS pinball,
             any_value(slope) AS slope, any_value(icept) AS icept
      FROM sc GROUP BY 1, 2
    )
    SELECT CAST(v.user_id AS VARCHAR) AS event_id,
           round(v.slope, 6) AS slope, round(v.icept, 6) AS icept,
           round(v.exceed, 6) AS val_exceed,
           round(v.pinball, 6) AS val_pinball,
           round(t.exceed, 6) AS test_exceed,
           round(t.pinball, 6) AS test_pinball
    FROM ps v JOIN ps t
      ON v.user_id = t.user_id AND v.split = 'val' AND t.split = 'test'
    """


# ---------------------------------------------------------------------------
# grid_search_sweep — F1 per (m, radius) combination (plans/ga.grid_search,
# reference GridSearchCV family).  One fully-parameterized motif-coverage
# chain per combination (DuckDB scopes a WITH inside each parenthesized
# UNION branch), reusing the shared seed/neighbor machinery; coverage =
# union of [s, s+m) over the rank-1 motif pair + its radius-neighbors,
# classified against the error ±10 min mask, exactly the Spark
# _coverage_udf semantics (incl. the n >= 2m guard and ez = int(m*0.25)
# == ceil(m/4) for the swept m values).
# ---------------------------------------------------------------------------

def grid_search_sweep_sql(
    ms=(8, 16), radii=(2.0, 3.0), ez_frac: float = 0.25,
    max_nbrs: int = MAX_NBRS,
) -> str:
    import itertools

    branches = []
    for indiv, (m, radius) in enumerate(itertools.product(ms, radii)):
        ez = max(1, int(m * ez_frac))
        assert ez == int(np.ceil(m / 4)), "sweep m must keep kernel ez == stomp default ez"
        branches.append(f"""
    (WITH{_series_cte(m)}{_mp_cte(m, ez)},{motif_core_ctes(k=1, max_nbrs=max_nbrs, radius=radius, ez=ez, m=m)},
    nlen AS (SELECT user_id, count(*) AS n FROM v GROUP BY 1),
    starts AS (
      SELECT se.user_id, unnest(list_concat([se.i0, se.j0], nb1.nbrs)) AS s
      FROM seed1 se
      JOIN nb1 ON nb1.user_id = se.user_id
      JOIN nlen ON nlen.user_id = se.user_id AND nlen.n >= {2 * m}
    ), pred AS (
      SELECT g.user_id, g.ts,
             EXISTS (SELECT 1 FROM starts st WHERE st.user_id = g.user_id
                     AND g.pos BETWEEN st.s AND st.s + {m - 1}) AS p
      FROM v g
    ), err AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
    mask AS (
      SELECT t.user_id, t.ts,
             EXISTS (SELECT 1 FROM err e WHERE e.user_id = t.user_id
                     AND t.ts BETWEEN e.ts - INTERVAL 10 MINUTE
                                  AND e.ts + INTERVAL 10 MINUTE) AS flag
      FROM (SELECT DISTINCT user_id, ts FROM v) t
    ), conf AS (
      SELECT sum(CASE WHEN mk.flag AND p.p THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN NOT mk.flag AND p.p THEN 1 ELSE 0 END) AS fp,
             sum(CASE WHEN mk.flag AND NOT p.p THEN 1 ELSE 0 END) AS fn
      FROM pred p JOIN mask mk ON mk.user_id = p.user_id AND mk.ts = p.ts
    )
    SELECT CAST({indiv} AS BIGINT) AS indiv, CAST({m} AS BIGINT) AS m,
           CAST({radius!r} AS DOUBLE) AS radius,
           CAST({ez_frac!r} AS DOUBLE) AS ez_frac, CAST(1 AS BIGINT) AS k,
           round(coalesce(2.0 * tp / nullif(2 * tp + fp + fn, 0), 0.0), 6) AS f1
    FROM conf)""")
    return "\nUNION ALL\n".join(branches)


# ---------------------------------------------------------------------------
# embedding_topk_ivf — IVF ANN: nearest-cell assignment (struct-min over
# inlined centroids, distances rounded to 6 dp on BOTH engines so the
# argmin agrees on near-ties), n_probe nearest cells per query, exact
# cosine rank inside the candidate set.  Centroids are trained once by
# the shared numpy kmeans (similarity_search.kmeans_fit) and inlined
# here as literals — the SQL never re-derives the quantizer.
# ---------------------------------------------------------------------------

def ivf_topk_sql(centroids, k: int = 3, n_probe: int = 3,
                 n_queries: int = 5, dim: int = 64) -> str:
    import numpy as np  # noqa: F811

    def arr(c):
        return "[" + ", ".join(repr(float(x)) for x in c) + "]"

    cent_rows = ",\n      ".join(
        f"({j}, {arr(c)}::DOUBLE[], {float(np.dot(c, c))!r})"
        for j, c in enumerate(centroids)
    )

    def dot(a, b):
        return (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")

    return f"""
    WITH cent(j, cv, n2) AS (VALUES
      {cent_rows}
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < {n_queries}),
    c AS (SELECT vec_id AS cand_id, embedding AS v FROM embeddings),
    cand_dist AS (
      -- cross join instead of a correlated subquery: DuckDB lambdas
      -- (list_transform) cannot capture correlated outer columns
      SELECT c.cand_id, cent.j,
             round(cent.n2 - 2 * {dot('c.v', 'cent.cv')}, 6) AS d
      FROM c CROSS JOIN cent
    ),
    cand_cell AS (
      SELECT cd.cand_id, c.v,
             struct_extract(min({{'d': cd.d, 'j': cd.j}}), 'j') AS cell
      FROM cand_dist cd JOIN c ON c.cand_id = cd.cand_id
      GROUP BY cd.cand_id, c.v
    ),
    qdist AS (
      SELECT q.query_id, q.qv, cent.j AS cell,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(cent.n2 - 2 * {dot('q.qv', 'cent.cv')}, 6), cent.j
             ) AS rn
      FROM q CROSS JOIN cent
    ),
    probes AS (SELECT query_id, qv, cell FROM qdist WHERE rn <= {n_probe}),
    scored AS (
      SELECT p.query_id, cc.cand_id,
             round({dot('p.qv', 'cc.v')}
                   / sqrt({dot('p.qv', 'p.qv')} * {dot('cc.v', 'cc.v')}), 6) AS cos
      FROM cand_cell cc JOIN probes p ON cc.cell = p.cell
      WHERE cc.cand_id != p.query_id
    ),
    r AS (SELECT query_id, cand_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, cand_id) AS rank
          FROM scored)
    SELECT query_id, cand_id, cos, rank FROM r WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# distinct_convs_kmv_* — KMV distinct-conversation sketch per tier bucket
# (operators/distinct.py).  The oracle builds the sketch DIRECTLY at the
# coarse tier from raw events, while the Spark query cascades finer-tier
# sketches — value equality under the driver hash therefore verifies the
# KMV merge identity on real data, not just the arithmetic.
# ---------------------------------------------------------------------------

def _kmv_u(h: str) -> str:
    """Horner over the first 8 hex digits of md5 expression ``h`` → [0, 1).
    BIGINT accumulator (the product reaches 16^8 > int32 — DuckDB raises on
    int32 overflow), one exact divide by 2^32.  The engine reads the same
    digits with ``conv`` (operators/distinct.u_expr); this Horner sum is an
    independent derivation of the same exact value."""
    def digit(i: int) -> str:
        a = f"ascii(substr({h}, {i}, 1))"
        return f"CAST({a} - CASE WHEN {a} >= 97 THEN 87 ELSE 48 END AS BIGINT)"
    expr = digit(1)
    for i in range(2, 9):
        expr = f"({expr} * 16 + {digit(i)})"
    return f"(CAST({expr} AS DOUBLE) / 4294967296.0)"


def kmv_distinct_sql(unit: str, k: int) -> str:
    """Per-``unit`` bucket KMV sketch + distinct estimate over events,
    conv key = user_id (FIXTURES.md §6)."""
    return f"""
    WITH pairs AS (
      SELECT DISTINCT date_trunc('{unit}', ts) AS bucket_start,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    ranked AS (
      SELECT bucket_start, h,
             row_number() OVER (PARTITION BY bucket_start ORDER BY h) AS rn
      FROM pairs
    ),
    sk AS (
      SELECT bucket_start, list_sort(list(h)) AS conv_kmv
      FROM ranked WHERE rn <= {k} GROUP BY 1
    )
    SELECT bucket_start, len(conv_kmv) AS n_kmv,
           md5(array_to_string(conv_kmv, '')) AS kmv_digest,
           round(CASE WHEN len(conv_kmv) < {k} THEN CAST(len(conv_kmv) AS DOUBLE)
                 ELSE {k - 1}.0 / (SELECT {_kmv_u('kth')}
                                   FROM (SELECT conv_kmv[{k}] AS kth))
                 END, 6) AS distinct_convs_est
    FROM sk
    """


def kmv_sliding_sql(k: int, window: int = 24) -> str:
    """Trailing-``window``-hour KMV distinct served at every data hour.
    The oracle builds each window's sketch DIRECTLY from raw pairs while
    Spark unions the per-hour top-k's — value equality under the driver
    hash proves the sliding-window identity (operators/distinct.kmv_sliding)."""
    return f"""
    WITH pairs AS (
      SELECT DISTINCT date_trunc('hour', ts) AS b,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    hours AS (SELECT DISTINCT b FROM pairs),
    win AS (
      SELECT DISTINCT h2.b AS bucket_start, p.h
      FROM hours h2 JOIN pairs p
        ON p.b BETWEEN h2.b - INTERVAL {window - 1} HOUR AND h2.b
    ),
    ranked AS (
      SELECT bucket_start, h,
             row_number() OVER (PARTITION BY bucket_start ORDER BY h) AS rn
      FROM win
    ),
    sk AS (
      SELECT bucket_start, list_sort(list(h)) AS conv_kmv
      FROM ranked WHERE rn <= {k} GROUP BY 1
    )
    SELECT bucket_start, len(conv_kmv) AS n_kmv,
           md5(array_to_string(conv_kmv, '')) AS kmv_digest,
           round(CASE WHEN len(conv_kmv) < {k} THEN CAST(len(conv_kmv) AS DOUBLE)
                 ELSE {k - 1}.0 / (SELECT {_kmv_u('kth')}
                                   FROM (SELECT conv_kmv[{k}] AS kth))
                 END, 6) AS distinct_convs_est
    FROM sk
    """


def kmv_churn_sql(k: int) -> str:
    """Day-over-day returning-conversation estimate via KMV
    inclusion-exclusion (operators/distinct union_expr/estimate_expr).
    Sketches built directly at the day tier; union = k smallest distinct
    of the two arrays; rounding order mirrors the Spark query exactly
    (each estimate rounded, then the sum rounded)."""
    def est(arr: str) -> str:
        return (
            f"round(CASE WHEN len({arr}) < {k} THEN CAST(len({arr}) AS DOUBLE) "
            f"ELSE {k - 1}.0 / (SELECT {_kmv_u('kth')} "
            f"FROM (SELECT {arr}[{k}] AS kth)) END, 6)"
        )
    union = f"list_slice(list_sort(list_distinct(conv_kmv || prev_kmv)), 1, {k})"
    return f"""
    WITH pairs AS (
      SELECT DISTINCT date_trunc('day', ts) AS bucket_start,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    ranked AS (
      SELECT bucket_start, h,
             row_number() OVER (PARTITION BY bucket_start ORDER BY h) AS rn
      FROM pairs
    ),
    sk AS (
      SELECT bucket_start, list_sort(list(h)) AS conv_kmv
      FROM ranked WHERE rn <= {k} GROUP BY 1
    ),
    j AS (
      SELECT a.bucket_start, a.conv_kmv, b.conv_kmv AS prev_kmv
      FROM sk a JOIN sk b ON b.bucket_start = a.bucket_start - INTERVAL 1 DAY
    )
    SELECT bucket_start,
           {est('prev_kmv')} AS est_prev_day,
           {est('conv_kmv')} AS est_day,
           (SELECT {est('u')} FROM (SELECT {union} AS u)) AS est_union,
           round({est('prev_kmv')} + {est('conv_kmv')}
                 - (SELECT {est('u')} FROM (SELECT {union} AS u)), 6)
             AS returning_est
    FROM j
    """


def hash_split_sql(fractions: dict[str, float]) -> str:
    """Deterministic hash-fraction split counts
    (operators/sampling.hash_split): same md5 → Horner u ∈ [0,1) as the
    KMV estimator, cumulative cuts in insertion order."""
    total = sum(fractions.values())
    items = list(fractions.items())
    cum, whens = 0.0, []
    for label, w in items[:-1]:
        cum += w / total
        whens.append(f"WHEN u < {cum!r} THEN '{label}'")
    case = f"CASE {' '.join(whens)} ELSE '{items[-1][0]}' END"
    return f"""
    WITH h AS (
      SELECT md5(CAST(event_id AS VARCHAR)) AS hh FROM events
    ),
    u AS (SELECT {_kmv_u('hh')} AS u FROM h)
    SELECT {case} AS split, count(*) AS n
    FROM u GROUP BY 1
    """
