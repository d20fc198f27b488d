"""more_pattern_extraction_spark — a from-scratch PySpark-native time-series
rollup / downsample / retention engine with the pattern-extraction
capabilities of MORE-EU/more-pattern-extraction (matrix-profile motif &
discord discovery, FLUSS changepoint segmentation, regression-residual
deviation detection, piecewise-linear summarization), recast as continuous
aggregates over multi-turn conversation/agent transcript tables
``(conv_id, turn_idx, role, text, tool, ts)``.

Design stance (see SURVEY.md §7.0):
  * DataFrame/SQL first — Catalyst owns predicate pushdown, column pruning,
    join selection, AQE skew handling.  We never hand-schedule what the
    optimizer already does.
  * The only Python on the hot path is vectorized pandas/Arrow UDFs
    (``applyInPandas`` / ``mapInPandas``) for genuinely non-relational
    kernels: STOMP matrix profile, FLUSS arc curves, MASS2 similarity
    search, Gorilla-XOR / delta-of-delta chunk codecs.
  * Storage is Parquet with an Iceberg-shaped layout seam
    (``sources.catalog``) — partitioned by ``(conv_bucket, ts_bucket)`` so
    a real Iceberg catalog is a one-switch swap.
  * Scale posture: everything is keyed/partitioned by
    ``(conv_id, ts_bucket)``; ordered windows over a hot
    conversation take a segmented form behind one hot-key gate
    (``plans.partitioning``); rollup tiers cascade 1m→1h→1d by exact
    re-aggregation of carried ``(sum, count, min, max)`` partials so no
    tier ever rescans raw turns.
"""

__version__ = "0.1.0"
