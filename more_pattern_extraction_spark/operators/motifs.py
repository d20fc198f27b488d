"""Motif / discord / neighbor-search operators (reference W9-W11, A6-A8:
``modules/similarity.py``, ``modules/learning.py:416-441`` pmc,
``modules/patterns.py:135-310`` calc_cost/calculate_motif_stats).

Pattern extraction runs per conversation in grouped pandas UDFs over the
gridded series (top-k discords are part of the pattern stage's one pass,
``matrix_profile.window_patterns``); the *statistics* (label-region
counts, cost, majority) are relational — explode neighbor arrays,
interval-join against the label mask, pivot counts — pure Catalyst.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators.matrix_profile import sort_series
from more_pattern_extraction_spark.functions.kernels import (
    find_neighbors_kernel,
    stomp,
    top_k_motifs_kernel,
)

MOTIF_SCHEMA = (
    "conv_id string, motif_rank int, motif_pos int, pair_pos int, "
    "distance double, neighbors array<int>"
)
NEIGHBOR_SCHEMA = "conv_id string, neighbor_pos int, distance double"


def top_k_motifs(
    grid: DataFrame,
    m: int,
    k: int = 3,
    radius: float = 3.0,
    ez: int | None = None,
    max_neighbors: int = 50,
    value_col: str = "latency_avg_filled",
    order_col: str = "bucket_start",
    use_cmp: bool = False,
) -> DataFrame:
    """Top-k motif pairs + radius-neighbors per conversation (reference
    get_top_k_motifs, similarity.py:8-29).

    ``use_cmp`` applies the complexity annotation vector before ranking
    (W3, patterns.py:68-93 / genlib.py:116-119): motif seeds are picked
    from cmp = mp + (1 − av)·max(mp), de-prioritizing flat windows."""
    ezv = ez if ez is not None else int(np.floor(m * 0.25 * 4) // 4) or int(np.ceil(m / 4))

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        from more_pattern_extraction_spark.functions.kernels import (
            apply_av,
            complexity_av,
        )

        pdf = sort_series(pdf, order_col)
        t = pdf[value_col].to_numpy(dtype="float64", na_value=np.nan)
        rows = []
        if len(t) >= m:
            mp, pi = stomp(t, m)
            if use_cmp:
                mp = apply_av(mp, complexity_av(t, m))
            motifs = top_k_motifs_kernel(
                t, mp, pi, m, ezv, radius, k, max_neighbors
            )
            for r, mo in enumerate(motifs, 1):
                rows.append(
                    {
                        "conv_id": pdf["conv_id"].iloc[0],
                        "motif_rank": r,
                        "motif_pos": mo["motifs"][0],
                        "pair_pos": mo["motifs"][1],
                        "distance": mo["distance"],
                        "neighbors": mo["neighbors"],
                    }
                )
        return pd.DataFrame(
            rows,
            columns=["conv_id", "motif_rank", "motif_pos", "pair_pos", "distance", "neighbors"],
        )

    return grid.groupBy("conv_id").applyInPandas(f, MOTIF_SCHEMA)


def find_neighbors(
    grid: DataFrame,
    query: np.ndarray,
    min_dist: float = float("inf"),
    exclusion_zone: int = 0,
    max_neighbors: int = 100,
    radius: float = 3.0,
    value_cols: list[str] | None = None,
    order_col: str = "bucket_start",
) -> DataFrame:
    """Cross-series query matching (J5/W9, similarity.py:32-104): MASS2
    distance profile of a fixed query against every conversation.  The
    query array broadcasts inside the UDF closure (small)."""
    cols = value_cols or ["latency_avg_filled"]
    q = np.asarray(query, dtype="float64")

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = sort_series(pdf, order_col)
        ts = pdf[cols].to_numpy(dtype="float64", na_value=np.nan)
        rows = []
        if len(ts) >= (q.shape[0] if q.ndim > 0 else len(q)):
            nbrs, dists = find_neighbors_kernel(
                q, ts, min_dist, exclusion_zone, max_neighbors, radius
            )
            rows = [
                {"conv_id": pdf["conv_id"].iloc[0], "neighbor_pos": p, "distance": d}
                for p, d in zip(nbrs, dists)
            ]
        return pd.DataFrame(rows, columns=["conv_id", "neighbor_pos", "distance"])

    return grid.groupBy("conv_id").applyInPandas(f, NEIGHBOR_SCHEMA)


def motif_stats(
    motifs: DataFrame,
    mask: DataFrame,
    m: int,
    labels: tuple[str, str] = ("anomalous", "normal"),
) -> DataFrame:
    """Per-motif label statistics (A6/A7, patterns.py:135-243): classify
    each occurrence (motif, pair, neighbors) by the mask region of its
    [start, start+m-1] span, count per class, normalized cost + majority.

    ``mask``: (conv_id, pos, flag boolean) — the materialized interval
    join of labels onto the grid (J1).  All relational: explode →
    range-aggregate → pivot-free conditional counts.
    """
    true_label, false_label = labels
    occ = motifs.select(
        "conv_id",
        "motif_rank",
        F.explode(
            F.concat(
                F.array("motif_pos", "pair_pos"),
                F.coalesce("neighbors", F.array().cast("array<int>")),
            )
        ).alias("start"),
    ).withColumn("end", F.col("start") + F.lit(m - 1))

    cls_len = mask.groupBy("conv_id").agg(
        F.sum(F.col("flag").cast("long")).alias("cls1_len"),
        F.sum((~F.col("flag")).cast("long")).alias("cls2_len"),
    )
    ms = mask.alias("ms")
    # location label: flag at start vs flag at end (pattern_loc semantics)
    flags = (
        occ.alias("o")
        .join(
            ms.select(F.col("conv_id").alias("cs"), F.col("pos").alias("ps"), F.col("flag").alias("fs")),
            (F.col("o.conv_id") == F.col("cs")) & (F.col("o.start") == F.col("ps")),
            "left",
        )
        .join(
            ms.select(F.col("conv_id").alias("ce"), F.col("pos").alias("pe"), F.col("flag").alias("fe")),
            (F.col("o.conv_id") == F.col("ce")) & (F.col("o.end") == F.col("pe")),
            "left",
        )
        .select(
            "o.conv_id",
            "o.motif_rank",
            F.when(F.col("fs") == F.col("fe"),
                   F.when(F.col("fs"), F.lit(true_label)).otherwise(F.lit(false_label)))
            .otherwise(F.lit("both"))
            .alias("loc"),
        )
    )
    counts = flags.groupBy("conv_id", "motif_rank").agg(
        F.count(F.when(F.col("loc") == true_label, 1)).alias("cls1_count"),
        F.count(F.when(F.col("loc") == false_label, 1)).alias("cls2_count"),
        F.count(F.when(F.col("loc") == "both", 1)).alias("spanning_both"),
    )
    out = counts.join(F.broadcast(cls_len), "conv_id")
    f_ratio = F.col("cls1_len") / F.col("cls2_len")
    norm1 = F.col("cls1_count") / f_ratio
    norm2 = F.col("cls2_count").cast("double")
    cost = F.when(
        (F.col("cls1_count") + F.col("cls2_count") <= 2)
        | (F.col("cls1_len") == 0)
        | (F.col("cls2_len") == 0),
        F.lit(1.0),
    ).otherwise(1 - F.abs(norm1 - norm2) / (norm1 + norm2))
    maj = F.when(
        (F.col("cls1_count") + F.col("cls2_count") <= 2)
        | (F.col("cls1_len") == 0)
        | (F.col("cls2_len") == 0)
        | (norm1 == norm2),
        F.lit("None"),
    ).when(norm1 > norm2, F.lit(true_label)).otherwise(F.lit(false_label))
    return out.select(
        "conv_id", "motif_rank", "cls1_count", "cls2_count", "spanning_both",
        F.round(cost, 9).alias("cost"), maj.alias("majority"),
    )


def nn_stats(
    neighbors: DataFrame,
    mask: DataFrame,
    m: int,
    labels: tuple[str, str] = ("anomalous", "normal"),
    maj_other: str = "anomalous",
) -> DataFrame:
    """A8 calculate_nn_stats (patterns.py:245-310): classify a query
    pattern's nearest neighbors IN ANOTHER SERIES against that series'
    mask — per-conversation class counts, normalized cost, majority label,
    and whether it matches ``maj_other`` (the pattern's majority in the
    series it was extracted from).  All relational.

    neighbors: (conv_id, neighbor_pos) from find_neighbors.
    mask: (conv_id, pos, flag boolean)."""
    true_label, false_label = labels
    occ = neighbors.select(
        "conv_id", F.col("neighbor_pos").alias("start")
    ).withColumn("end", F.col("start") + F.lit(m - 1))
    cls_len = mask.groupBy("conv_id").agg(
        F.sum(F.col("flag").cast("long")).alias("cls1_len"),
        F.sum((~F.col("flag")).cast("long")).alias("cls2_len"),
    )
    ms = mask.alias("ms")
    flags = (
        occ.alias("o")
        .join(
            ms.select(F.col("conv_id").alias("cs"), F.col("pos").alias("ps"), F.col("flag").alias("fs")),
            (F.col("o.conv_id") == F.col("cs")) & (F.col("o.start") == F.col("ps")),
            "left",
        )
        .join(
            ms.select(F.col("conv_id").alias("ce"), F.col("pos").alias("pe"), F.col("flag").alias("fe")),
            (F.col("o.conv_id") == F.col("ce")) & (F.col("o.end") == F.col("pe")),
            "left",
        )
        .select(
            "o.conv_id",
            F.when(F.col("fs") == F.col("fe"),
                   F.when(F.col("fs"), F.lit(true_label)).otherwise(F.lit(false_label)))
            .otherwise(F.lit("both"))
            .alias("loc"),
        )
    )
    counts = flags.groupBy("conv_id").agg(
        F.count(F.when(F.col("loc") == true_label, 1)).alias("cls1_count"),
        F.count(F.when(F.col("loc") == false_label, 1)).alias("cls2_count"),
        F.count(F.when(F.col("loc") == "both", 1)).alias("spanning_both"),
    )
    out = counts.join(F.broadcast(cls_len), "conv_id")
    degenerate = (
        (F.col("cls1_count") + F.col("cls2_count") <= 2)
        | (F.col("cls1_len") == 0)
        | (F.col("cls2_len") == 0)
    )
    f_ratio = F.col("cls1_len") / F.col("cls2_len")
    norm1 = F.col("cls1_count") / f_ratio
    norm2 = F.col("cls2_count").cast("double")
    cost = F.when(degenerate, F.lit(1.0)).otherwise(
        1 - F.abs(norm1 - norm2) / (norm1 + norm2)
    )
    maj = (
        F.when(degenerate | (norm1 == norm2), F.lit("None"))
        .when(norm1 > norm2, F.lit(true_label))
        .otherwise(F.lit(false_label))
    )
    return out.select(
        "conv_id", "cls1_count", "cls2_count", "spanning_both",
        F.round(cost, 9).alias("cost"), maj.alias("majority"),
        (maj == F.lit(maj_other)).alias("matching_maj"),
    )


def interval_mask(
    grid: DataFrame,
    intervals: DataFrame,
    order_col: str = "bucket_start",
) -> DataFrame:
    """Materialize the binary region mask (reference pattern_loc mask,
    patterns.py:96-132; tester, learning.py:444-455): grid positions
    flagged true when inside any labeled interval.  Intervals are small →
    broadcast range join."""
    from more_pattern_extraction_spark.operators.matrix_profile import with_positions

    g = grid if "pos" in grid.columns else with_positions(grid, order_col)
    flagged = (
        g.alias("g")
        .join(
            F.broadcast(intervals).alias("i"),
            (F.col("g.conv_id") == F.col("i.conv_id"))
            & (F.col(f"g.{order_col}") >= F.col("i.start_ts"))
            & (F.col(f"g.{order_col}") <= F.col("i.end_ts")),
            "left_semi",
        )
        .select("conv_id", "pos")
        .withColumn("flag", F.lit(True))
    )
    return (
        g.select("conv_id", "pos")
        .join(flagged, ["conv_id", "pos"], "left")
        .fillna(False, subset=["flag"])
    )
