"""Partitioning & skew handling: the hot-key gate and the explicit
exchanges that split hot conversations.

Two distinct skew surfaces:

  * **Ordered windows over a whole conversation** (``turn_features``'
    lag, ``asof_join``, ``sessionize``, ``funnel_steps``): a plain
    ``Window.partitionBy(conv)`` sorts a conversation's every row on one
    task, and AQE cannot split a window partition.  Each of these
    operators has a plain form and a segmented block-carry form, and
    picks one from its input against the ONE threshold below
    (``HOT_KEY_ROWS``).  The witness is exact and cheap:
    ``max(turn_idx)`` for the lag (one global aggregate, no shuffle),
    ``max_group_rows`` for the other three.  The segmented forms key
    their block windows and per-block summary joins on ONE struct column
    ``_blk = struct(key..., block)``: it is never NULL and struct
    equality matches NULL fields, so NULL keys and NULL-timestamp rows
    stay grouped as in the plain window, and the block window reuses the
    join's exchange (a null-safe ``<=>`` join hashes on
    ``coalesce``/``isnull`` of each key and would shuffle the rows twice).
  * **Grouped pandas UDFs** (matrix profile per conv): AQE does NOT split
    a single group either, so the group is sub-keyed by ts-window
    (operators/matrix_profile.window_patterns, the pattern stage's pass)
    or by chunk pair (``matrix_profile_distributed``), and the spreading
    exchange is pinned with ``spread_groups``.

Relational ops (rollup groupBy, interval joins) need nothing custom: the
bucket column already splits hot conversations and AQE's skew-join
handling does the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-key row count from which an ordered window takes its segmented
#: form (one conversation on one task is the hazard).  The segmented form
#: wins 1.6-2.7x on a 94 %-hot input (scripts/SKEW_GATE_r07.json) and
#: costs 37 % more wall time on uniform data
#: (scripts/SEG_OVERHEAD_r06.json), hence a gate rather than a default.
#: ``turn_features`` also uses it as its lag block width.  Read at call
#: time, so tests and measurement scripts can set it.
HOT_KEY_ROWS = 100_000


def max_group_rows(df: DataFrame, *keys: str) -> int:
    """Exact hot-key witness: the largest per-key row count.  One
    column-pruned partial-aggregated pass over the key columns — the
    probe the asof/sessionize/funnel gates run against ``HOT_KEY_ROWS``
    before choosing a plan.  Eager: one Spark job at plan-build time."""
    row = df.groupBy(*[F.col(k) for k in keys]).count().agg(
        F.max("count")
    ).first()
    return int(row[0] or 0)


def spread_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Force a physical hash exchange on the FULL grouping key before a
    sub-keyed grouped UDF.

    Why this must be explicit: ``groupBy(k, sub).applyInPandas`` only
    *requires* ``ClusteredDistribution([k, sub])`` — and an upstream
    ``HashPartitioning([k])`` (left by any Window/join/groupBy on the
    parent key alone) SATISFIES that requirement, so Catalyst skips the
    spreading exchange and every sub-keyed group of a hot key lands on
    ONE task.  Measured on the skew harness input (one conversation =
    67 % of all turns): the week-windowed matrix profile ran its ~40
    heavy (conv, week) groups in a single 400 k-row partition at ~1.1
    effective cores on an 8-core leg (scripts/SKEW_SCALING_r06.json,
    first execution) — the sub-keying existed logically but never
    physically.  An explicit ``repartition(n, keys)`` pins
    ``HashPartitioning(keys)``, which the grouped UDF then reuses (no
    second exchange), and costs nothing in the common case where the
    optimizer would have inserted the identical exchange anyway.

    The partition COUNT must be explicit too: a column-only
    ``repartition(keys)`` is AQE-coalescible, and these exchanges are
    exactly the byte-light / compute-heavy shape AQE's size-based
    coalescing mis-plans — a few MB of grid rows carrying minutes of
    O(n²) kernel work get coalesced back onto one task (observed: the
    regression test's 8-week hot conversation collapsed to 1 partition
    under column-only repartition).  A user-specified count disables
    coalescing for this exchange only; empty partitions are cheap."""
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # AQE-enabled platforms may hold a non-numeric value ("auto");
        # fall back to the cluster's default parallelism (ADVICE r06 #4)
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys])
