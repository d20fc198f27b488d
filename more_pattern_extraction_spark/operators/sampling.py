"""Deterministic sampling for training-data pipelines.

Two ops a 100 TB corpus-curation pipeline runs constantly, both built on
hash ordering so they are REPRODUCIBLE (same input → same sample, on
any cluster size, any partitioning, any engine — ``rand()`` is none of
those) and oracle-checkable (md5 is shared with DuckDB):

* ``sample_per_group`` — "n documents per language / source / quality
  bucket for the training mix": rank rows per group by
  ``md5(id || salt)`` and keep the first n.  Hash order over a uniform
  hash is a uniform sample; the rank filter rides ``WindowGroupLimit``
  (map-side partial top-n before the exchange — the KMV valve,
  operators/distinct.py), so a group with 10^9 rows shuffles ~n rows
  per map task, not 10^9.  ``salt`` gives independent redraws.

* ``hash_split`` — deterministic train/val/test assignment: map
  ``md5(id || salt)`` to u ∈ [0, 1) (the same exact integer read of
  8 hex digits as the KMV estimator, distinct.u_expr) and cut by cumulative
  fractions.  A document's split NEVER changes as the corpus grows —
  the property that keeps eval sets uncontaminated across dataset
  versions — and membership is recomputable from the id alone.

Reference analogue: none (single-node pandas ``sample``); these are the
distributed, reproducible forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators.distinct import u_expr


def sample_hash(id_col, salt: str = "") -> F.Column:
    """md5 of id (+ optional salt) — the engine-portable sampling key."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    key = c.cast("string")
    if salt:
        key = F.concat(key, F.lit(salt))
    return F.md5(key.cast("binary"))


def sample_per_group(
    df: DataFrame,
    group_cols: list[str] | str,
    n: int,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Keep a deterministic uniform sample of ``n`` rows per group
    (module docstring).  Ties on the (astronomically unlikely) equal
    hash break on the id itself, so the result is a pure function of
    the input set."""
    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    h = sample_hash(id_col, salt)
    w = Window.partitionBy(*group_cols).orderBy(h, id_col)
    return (
        df.withColumn("_srn", F.row_number().over(w))
        .filter(F.col("_srn") <= n)
        .drop("_srn")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row a split label by hash fraction (module docstring).

    ``fractions`` maps label → weight (normalized here); cut points are
    cumulative in the given insertion order.  Pure column expression —
    no shuffle, no state."""
    total = sum(fractions.values())
    u = u_expr(sample_hash(id_col, salt))
    expr = None
    cum = 0.0
    labels = list(fractions.items())
    for label, wgt in labels[:-1]:
        cum += wgt / total
        cond = u < F.lit(cum)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)
