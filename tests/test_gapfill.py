"""Gap-fill parity vs pandas interpolate(method='linear', limit=k,
limit_direction='both') and ffill — the reference's chunk_interpolate
semantics (modules/preprocessing.py:185-208) — on ``gap_fill_rollup``,
the engine's one gap-fill path."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from more_pattern_extraction_spark.operators import gapfill as G
from more_pattern_extraction_spark.operators import rollup as R

_SPARSE = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("bucket_start", T.TimestampType()),
    T.StructField("latency_avg", T.DoubleType()),
])


def _minutes(spark, rows):
    """A sparse ``(conv_id, bucket_start, latency_avg)`` rollup from
    ``(conv_id, minute offset from 2024-01-01, value)`` rows."""
    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(c, None if k is None else t0 + dt.timedelta(minutes=k), v) for c, k, v in rows],
        _SPARSE,
    )


def _filled(df, col, limit=1):
    """``col`` of ``gap_fill_rollup``, per conversation in grid order."""
    got = G.gap_fill_rollup(df, "1m", limit=limit).orderBy("conv_id", "bucket_start").toPandas()
    return {c: g[col].values.astype(float) for c, g in got.groupby("conv_id")}


def _pandas_interp(vals, limit):
    return (
        pd.Series(vals, dtype="float64")
        .interpolate(method="linear", limit=limit, limit_direction="both")
        .values
    )


@pytest.mark.parametrize("limit", [1, 2])
def test_interpolate_matches_pandas(spark, limit):
    vals = [1.0, None, None, None, 5.0, None, 7.0, None, None,
            None, None, 3.0, None, 5.0, 2.0, None]
    # NULL-latency rows at even offsets and at the grid's last bucket,
    # missing buckets at the other odd ones: both fill alike
    rows = [("c1", k, v) for k, v in enumerate(vals)
            if v is not None or k % 2 == 0 or k == len(vals) - 1]
    got = _filled(_minutes(spark, rows), "latency_avg_filled", limit)["c1"]
    np.testing.assert_allclose(got, _pandas_interp(vals, limit), equal_nan=True)


def test_interpolate_multi_conv_leading_trailing(spark):
    series = {"a": [None, None, 3.0, None, None], "b": [1.0, None, None, 4.0]}
    rows = [
        (c, k, v) for c, vals in series.items() for k, v in enumerate(vals)
        if v is not None or k in (0, len(vals) - 1)
    ]
    got = _filled(_minutes(spark, rows), "latency_avg_filled")
    for cid, vals in series.items():
        np.testing.assert_allclose(got[cid], _pandas_interp(vals, 1), equal_nan=True)


def test_densify_creates_missing_buckets(spark, transcripts):
    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    dense = G.gap_fill_rollup(r1m, "1m")
    n_rollup = r1m.count()
    n_dense = dense.count()
    assert n_dense > n_rollup  # generator guarantees missing buckets
    assert dense.filter("is_gap").count() == n_dense - n_rollup
    # the grid is truly dense: per conv, count == (max-min)/60 + 1
    chk = dense.groupBy("conv_id").agg(
        F.count("*").alias("n"),
        ((F.max("bucket_start").cast("long") - F.min("bucket_start").cast("long")) / 60 + 1).alias("expected"),
    )
    assert chk.filter("n != expected").count() == 0


def test_locf(spark):
    # a NULL-latency row, two missing buckets, then a value
    df = _minutes(spark, [("c", 0, None), ("c", 1, 2.0), ("c", 4, 5.0)])
    got = _filled(df, "latency_avg_locf")["c"]
    np.testing.assert_allclose(got, [np.nan, 2.0, 2.0, 2.0, 5.0], equal_nan=True)


def test_null_bucket_start_is_no_anchor(spark):
    """A row with a NULL ``bucket_start`` sorts first in its conversation;
    it must not become the LOCF or interpolation anchor of the buckets
    after it (pandas drops it: it has no place on the grid)."""
    df = _minutes(spark, [("c", None, 9.0), ("c", 0, None), ("c", 3, 4.0)])
    got = G.gap_fill_rollup(df, "1m", limit=1).orderBy("bucket_start").toPandas()
    exp = pd.Series([np.nan, np.nan, np.nan, 4.0])
    assert list(got.bucket_start) == list(pd.date_range("2024-01-01", periods=4, freq="1min"))
    np.testing.assert_allclose(got.latency_avg_locf.values.astype(float), exp.ffill().values,
                               equal_nan=True)
    np.testing.assert_allclose(got.latency_avg_filled.values.astype(float),
                               _pandas_interp(exp.tolist(), 1), equal_nan=True)


def test_gap_fill_monotone(spark, transcripts):
    """A second interpolation pass only extends fills (deeper into long
    gaps, mirroring pandas re-apply) — it never changes a value that the
    first pass produced (SURVEY §5.2, adapted: limit-based interp is not
    idempotent, in pandas or here; it is monotone)."""
    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    once = G.gap_fill_rollup(r1m, "1m").select(
        "conv_id", "bucket_start", "latency_avg_filled"
    )
    again = G.gap_fill_rollup(
        once.withColumnRenamed("latency_avg_filled", "latency_avg"), "1m"
    ).select("conv_id", "bucket_start", "latency_avg_filled")
    a = once.orderBy("conv_id", "bucket_start").toPandas()["latency_avg_filled"].values.astype(float)
    b = again.orderBy("conv_id", "bucket_start").toPandas()["latency_avg_filled"].values.astype(float)
    assert len(a) == len(b)  # the grid is already dense
    mask = ~np.isnan(a)
    np.testing.assert_allclose(a[mask], b[mask])
    assert (~np.isnan(b)).sum() >= mask.sum()


def test_gap_fill_day_split_equals_full_sequence(spark):
    """The per-(run, day) bounded sequences must union to EXACTLY the
    single full-range minute grid — including partial first/last days and
    a conversation contained in one day."""
    rows = [
        # c1: 3-day span, starts/ends off-midnight
        ("c1", dt.datetime(2024, 1, 1, 7, 33), 1.0),
        ("c1", dt.datetime(2024, 1, 3, 18, 5), 2.0),
        # c2: single-day, single-bucket
        ("c2", dt.datetime(2024, 2, 10, 12, 0), 3.0),
    ]
    got = G.gap_fill_rollup(spark.createDataFrame(rows, _SPARSE), "1m").toPandas()
    got = got.sort_values(["conv_id", "bucket_start"])
    c1 = got[got.conv_id == "c1"].bucket_start
    exp = pd.date_range("2024-01-01 07:33", "2024-01-03 18:05", freq="1min")
    assert list(c1) == list(exp)
    c2 = got[got.conv_id == "c2"].bucket_start
    assert list(c2) == [pd.Timestamp("2024-02-10 12:00")]


def test_gap_fill_rejects_width_off_the_day_grid(spark):
    """The day-split explode needs midnight on the bucket grid: a width
    that does not divide a day raises rather than shifting the grid."""
    df = _minutes(spark, [("c", 0, 1.0)])
    with pytest.raises(ValueError, match="divide a day"):
        G.gap_fill_rollup(df, "7m")
    assert G.gap_fill_rollup(df, "5m").count() == 1


def _sparse_rollup(spark, tier):
    """Random sparse rollup in ``rollup_from_raw``'s schema, over shapes
    that stress run generation: values days apart (multi-day runs), whole
    days of NULL latency, leading and trailing NULLs, single-row
    conversations, and a ~3 %-occupied grid."""
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


def _pandas_gap_fill(pdf, step, limit):
    """The reference chain, per conversation: reindex to the full step
    grid, then pandas ``interpolate(limit=limit, limit_direction="both")``
    and ``ffill``."""
    out = []
    for cid, g in pdf.groupby("conv_id", sort=True):
        g = g.set_index("bucket_start").sort_index()
        d = g.reindex(pd.date_range(g.index[0], g.index[-1], freq=f"{step}s"))
        d = d.rename_axis("bucket_start").reset_index()
        d["conv_id"] = cid
        d["is_gap"] = ~d.bucket_start.isin(g.index)
        d[["turn_cnt", "tool_call_cnt"]] = d[["turn_cnt", "tool_call_cnt"]].fillna(0)
        lat = d["latency_avg"].astype("float64")
        d["latency_avg_filled"] = lat.interpolate(limit=limit, limit_direction="both")
        d["latency_avg_locf"] = lat.ffill()
        d["gap_filled"] = lat.isna() & d["latency_avg_filled"].notna()
        out.append(d)
    return pd.concat(out, ignore_index=True)


# gap_fill_rollup's output schema over a rollup_from_raw-shaped input.
# is_gap comes from a comparison, which Spark marks nullable; the stored
# rollup_1m_filled column keeps that nullability.
_FILLED_SCHEMA = [
    ("conv_id", "string", True),
    ("bucket_start", "timestamp", False),
    ("turn_cnt", "bigint", False),
    ("tool_call_cnt", "bigint", False),
    ("latency_sum", "double", True),
    ("latency_cnt", "bigint", True),
    ("latency_min", "double", True),
    ("latency_max", "double", True),
    ("latency_p95", "double", True),
    ("latency_avg", "double", True),
    ("tier", "string", True),
    ("is_gap", "boolean", True),
    ("latency_avg_filled", "double", True),
    ("latency_avg_locf", "double", True),
    ("gap_filled", "boolean", False),
]


@pytest.mark.parametrize("tier", ["1m", "1h"])
def test_gap_fill_rollup_equals_reference_chain(spark, tier):
    """``gap_fill_rollup`` equals the pandas reference chain
    (``_pandas_gap_fill``) for small limits and one larger than any grid:
    exact rows, counts, ``is_gap``/``gap_filled`` and NaN masks; fills
    within ``rtol=1e-12``, plus 1e-12 of the largest value near a zero
    crossing (pandas interpolates through ``np.interp``)."""
    r = _sparse_rollup(spark, tier)
    step = R.tier_seconds(tier)
    src = r.toPandas()
    grid = int(_pandas_gap_fill(src, step, 1).groupby("conv_id").size().max())
    # an interpolant's rounding scales with its anchors, not with itself:
    # near a zero crossing a 1e-15 difference is a large relative one
    atol = 1e-12 * np.nanmax(np.abs(src.latency_avg.astype(float)))
    for limit in (1, 2, 7, grid + 1):
        got_df = G.gap_fill_rollup(r, tier, limit=limit)
        assert [(f.name, f.dataType.simpleString(), f.nullable)
                for f in got_df.schema] == _FILLED_SCHEMA
        got = got_df.toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
        exp = _pandas_gap_fill(src, step, limit)
        assert len(got) == len(exp), limit
        assert list(got.conv_id) == list(exp.conv_id)
        assert list(got.bucket_start) == list(exp.bucket_start)
        for c in ("is_gap", "gap_filled"):
            assert list(got[c]) == list(exp[c]), (limit, c)
        assert list(got.tier.fillna("")) == list(exp.tier.fillna(""))
        for c in ("turn_cnt", "tool_call_cnt", "latency_sum", "latency_cnt",
                  "latency_min", "latency_max", "latency_p95", "latency_avg"):
            np.testing.assert_array_equal(got[c].astype(float), exp[c].astype(float), err_msg=c)
        for c in ("latency_avg_filled", "latency_avg_locf"):
            a, b = got[c].values.astype(float), exp[c].values.astype(float)
            assert (np.isnan(a) == np.isnan(b)).all(), (limit, c)
            np.testing.assert_allclose(a, b, rtol=1e-12, atol=atol, equal_nan=True,
                                       err_msg=f"{limit} {c}")
