"""Gap-fill parity vs pandas interpolate(method='linear', limit=k,
limit_direction='both') — the reference's chunk_interpolate semantics
(modules/preprocessing.py:185-208)."""

import numpy as np
import pandas as pd
import pytest

from more_pattern_extraction_spark.operators import gapfill as G
from more_pattern_extraction_spark.operators import rollup as R


@pytest.mark.parametrize("limit", [1, 2])
def test_interpolate_matches_pandas(spark, limit):
    vals = [1.0, None, None, None, 5.0, None, 7.0, None, None,
            None, None, 3.0, None, 5.0, 2.0, None]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * len(vals),
            "bucket_start": pd.date_range("2024-01-01", periods=len(vals), freq="1min"),
            "x": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        G.interpolate(df, ["x"], limit=limit)
        .orderBy("bucket_start")
        .toPandas()["x_filled"]
        .values
    )
    exp = (
        pd.Series(vals, dtype="float64")
        .interpolate(method="linear", limit=limit, limit_direction="both")
        .values
    )
    np.testing.assert_allclose(got.astype(float), exp, equal_nan=True)


def test_interpolate_multi_conv_leading_trailing(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 5 + ["b"] * 4,
            "bucket_start": list(pd.date_range("2024-01-01", periods=5, freq="1min"))
            + list(pd.date_range("2024-01-01", periods=4, freq="1min")),
            "x": [None, None, 3.0, None, None, 1.0, None, None, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        G.interpolate(df, ["x"], limit=1)
        .orderBy("conv_id", "bucket_start")
        .toPandas()
    )
    for cid in ["a", "b"]:
        sub = got[got.conv_id == cid]["x_filled"].values.astype(float)
        exp = (
            pdf[pdf.conv_id == cid]["x"]
            .astype("float64")
            .interpolate(method="linear", limit=1, limit_direction="both")
            .values
        )
        np.testing.assert_allclose(sub, exp, equal_nan=True)


def test_densify_creates_missing_buckets(spark, transcripts):
    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    dense = G.densify(r1m, "1m")
    n_rollup = r1m.count()
    n_dense = dense.count()
    assert n_dense > n_rollup  # generator guarantees missing buckets
    assert dense.filter("is_gap").count() == n_dense - n_rollup
    # spine is truly dense: per conv, count == (max-min)/60 + 1
    import pyspark.sql.functions as F

    chk = dense.groupBy("conv_id").agg(
        F.count("*").alias("n"),
        ((F.max("bucket_start").cast("long") - F.min("bucket_start").cast("long")) / 60 + 1).alias("expected"),
    )
    assert chk.filter("n != expected").count() == 0


def test_locf(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 5,
            "bucket_start": pd.date_range("2024-01-01", periods=5, freq="1min"),
            "x": [None, 2.0, None, None, 5.0],
        }
    )
    got = (
        G.locf(spark.createDataFrame(pdf), ["x"])
        .orderBy("bucket_start")
        .toPandas()["x_locf"]
        .values.astype(float)
    )
    np.testing.assert_allclose(got, [np.nan, 2.0, 2.0, 2.0, 5.0], equal_nan=True)


def test_gap_fill_monotone(spark, transcripts):
    """A second interpolation pass only extends fills (deeper into long
    gaps, mirroring pandas re-apply) — it never changes a value that the
    first pass produced (SURVEY §5.2, adapted: limit-based interp is not
    idempotent, in pandas or here; it is monotone)."""
    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    once = G.gap_fill_rollup(r1m, "1m").select(
        "conv_id", "bucket_start", "latency_avg_filled"
    )
    again = G.interpolate(
        once.withColumnRenamed("latency_avg_filled", "latency_avg"), ["latency_avg"], 1
    ).select("conv_id", "bucket_start", "latency_avg_filled")
    a = once.orderBy("conv_id", "bucket_start").toPandas()["latency_avg_filled"].values.astype(float)
    b = again.orderBy("conv_id", "bucket_start").toPandas()["latency_avg_filled"].values.astype(float)
    mask = ~np.isnan(a)
    np.testing.assert_allclose(a[mask], b[mask])
    assert (~np.isnan(b)).sum() >= mask.sum()


def test_bucket_spine_day_split_equals_full_sequence(spark):
    """The per-(conv, day) bounded sequences must union to EXACTLY the
    single full-range minute grid — including partial first/last days and
    a conversation contained in one day."""
    import pandas as pd
    from pyspark.sql import functions as F

    from more_pattern_extraction_spark.operators import gapfill as G

    rows = [
        # c1: 3-day span, starts/ends off-midnight
        {"conv_id": "c1", "bucket_start": pd.Timestamp("2024-01-01 07:33"), "v": 1.0},
        {"conv_id": "c1", "bucket_start": pd.Timestamp("2024-01-03 18:05"), "v": 2.0},
        # c2: single-day, single-bucket
        {"conv_id": "c2", "bucket_start": pd.Timestamp("2024-02-10 12:00"), "v": 3.0},
    ]
    r = spark.createDataFrame(pd.DataFrame(rows))
    got = G.bucket_spine(r, "1m").toPandas().sort_values(
        ["conv_id", "bucket_start"]
    ).reset_index(drop=True)
    c1 = got[got.conv_id == "c1"].bucket_start
    exp = pd.date_range("2024-01-01 07:33", "2024-01-03 18:05", freq="1min")
    assert list(c1) == list(exp)
    c2 = got[got.conv_id == "c2"].bucket_start
    assert list(c2) == [pd.Timestamp("2024-02-10 12:00")]


def _sparse_rollup(spark, tier):
    """Random sparse rollup in ``rollup_from_raw``'s schema, over shapes
    that stress run generation: values days apart (multi-day runs), whole
    days of NULL latency, leading and trailing NULLs, single-row
    conversations, and a ~3 %-occupied grid."""
    import datetime as dt

    from pyspark.sql import types as T

    step = {"1m": 60, "1h": 3600}[tier]
    rng = np.random.default_rng(11 if tier == "1m" else 12)
    t0 = dt.datetime(2024, 3, 30, 17, 0) if tier == "1m" else dt.datetime(2024, 3, 30)

    def at(k):
        return t0 + dt.timedelta(seconds=step * int(k))

    day = 86400 // step
    convs = {
        # values on day 0 and day 3 only: runs cross two whole empty days
        "multi_day": ([0, 5, 6, 3 * day + 2, 3 * day + 9], [1.0, None, 2.0, 4.0, 8.0]),
        # rows on every day, but one whole day of them has NULL latency
        "null_day": (
            list(range(0, 3 * day, 7)),
            [None if day <= k < 2 * day else float(k % 13) for k in range(0, 3 * day, 7)],
        ),
        "leading": ([0, 1, 4, 9, 40], [None, None, None, 3.0, 5.0]),
        "trailing": ([0, 3, 4, 20, 2 * day + 1], [2.0, 6.0, None, None, None]),
        "single": ([17], [4.5]),
        "single_null": ([23], [None]),
    }
    for i in range(4):
        n = int(rng.integers(2 * day, 4 * day))
        ks = np.flatnonzero(rng.random(n) < 0.03)
        ks = np.union1d(ks, [0, n - 1])
        vals = [None if rng.random() < 0.4 else float(rng.normal()) for _ in ks]
        convs[f"rand{i}"] = (list(ks), vals)
    rows = []
    for cid, (ks, vals) in convs.items():
        for k, v in zip(ks, vals):
            n = int(rng.integers(1, 5))
            lat_cnt = 0 if v is None else n
            rows.append((cid, at(k), n, int(rng.integers(0, n + 1)),
                         None if v is None else v * n, lat_cnt,
                         v, v, v, v, tier))
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("bucket_start", T.TimestampType()),
        T.StructField("turn_cnt", T.LongType(), False),
        T.StructField("tool_call_cnt", T.LongType()),
        T.StructField("latency_sum", T.DoubleType()),
        T.StructField("latency_cnt", T.LongType(), False),
        T.StructField("latency_min", T.DoubleType()),
        T.StructField("latency_max", T.DoubleType()),
        T.StructField("latency_p95", T.DoubleType()),
        T.StructField("latency_avg", T.DoubleType()),
        T.StructField("tier", T.StringType(), False),
    ])
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("tier", ["1m", "1h"])
def test_gap_fill_rollup_equals_reference_chain(spark, tier):
    """``gap_fill_rollup`` (run generation) is bit-identical to the
    reference chain densify → counts coalesced to 0 →
    ``interpolate(with_locf=True)``: same columns and types, same rows,
    same values, for small limits and one larger than any grid."""
    from pyspark.sql import functions as F

    r = _sparse_rollup(spark, tier)
    grid = G.densify(r, tier).groupBy("conv_id").count().agg(F.max("count")).first()[0]
    ref_dense = (
        G.densify(r, tier)
        .withColumn("turn_cnt", F.coalesce("turn_cnt", F.lit(0)))
        .withColumn("tool_call_cnt", F.coalesce("tool_call_cnt", F.lit(0)))
    )

    def rows(df):
        return sorted(df.collect(), key=lambda x: (x.conv_id, x.bucket_start))

    for limit in (1, 2, 7, grid + 1):
        got = G.gap_fill_rollup(r, tier, limit=limit)
        ref = G.interpolate(ref_dense, ["latency_avg"], limit=limit, with_locf=True)
        # names, types and order match; so does nullability, except that
        # run generation derives is_gap from a comparison Spark marks
        # nullable, where densify's isNull() is not.  Aligning it would
        # turn the stored rollup_1m_filled column from optional to
        # required and change every file's bytes, so it is left as is.
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in ref.schema]
        assert [f.nullable for f in got.schema if f.name != "is_gap"] == [
            f.nullable for f in ref.schema if f.name != "is_gap"]
        got_rows, ref_rows = rows(got), rows(ref)
        assert len(got_rows) == len(ref_rows)
        assert got_rows == ref_rows, limit
