"""Codec round-trip properties (encode∘decode == identity, SURVEY §5.2)
including hypothesis-driven adversarial arrays, plus the Spark chunk
operator round trip."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from more_pattern_extraction_spark.functions.encode import (
    decode_dod,
    decode_gorilla,
    encode_dod,
    encode_gorilla,
)


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=200))
@settings(max_examples=100, deadline=None)
def test_dod_roundtrip_property(xs):
    ts = np.array(xs, dtype=np.int64)
    assert (decode_dod(encode_dod(ts), len(ts)) == ts).all()


@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=200
    )
)
@settings(max_examples=100, deadline=None)
def test_gorilla_roundtrip_property(xs):
    v = np.array(xs, dtype=np.float64)
    got = decode_gorilla(encode_gorilla(v), len(v))
    assert (v.view(np.uint64) == got.view(np.uint64)).all()  # bit-exact


def test_dod_compresses_regular_grid():
    ts = np.arange(1440, dtype=np.int64) * 60_000_000_000  # 1 day of 1m ns
    assert len(encode_dod(ts)) < 1440 * 8 / 20  # >20x on regular grids


def test_gorilla_compresses_constant_and_slow_series():
    assert len(encode_gorilla(np.repeat(3.25, 1440))) < 1440 * 8 / 50
    slow = np.repeat([1.0, 1.5, 2.0], 480)
    assert len(encode_gorilla(slow)) < 1440 * 8 / 10


def test_chunk_roundtrip_spark(spark, transcripts):
    from more_pattern_extraction_spark.operators import chunks as C
    from more_pattern_extraction_spark.operators import rollup as R

    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    enc = C.encode_chunks(r1m, ["latency_avg", "latency_sum"], "1m")
    dec = C.decode_chunks(enc)
    got = (
        dec.filter("feature = 'latency_avg'")
        .select("conv_id", "bucket_start", "value")
        .orderBy("conv_id", "bucket_start")
        .toPandas()
    )
    exp = (
        r1m.select("conv_id", "bucket_start", "latency_avg")
        .orderBy("conv_id", "bucket_start")
        .toPandas()
    )
    assert len(got) == len(exp)
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (
        got["bucket_start"].values.astype("datetime64[ns]")
        == exp["bucket_start"].values.astype("datetime64[ns]")
    ).all()
    gv = got["value"].to_numpy(dtype="float64", na_value=np.nan)
    ev = exp["latency_avg"].to_numpy(dtype="float64", na_value=np.nan)
    assert (gv.view(np.uint64) == ev.view(np.uint64)).all()  # bit-exact


def test_chunk_sizes_bounded(spark, transcripts):
    from more_pattern_extraction_spark.operators import chunks as C
    from more_pattern_extraction_spark.operators import rollup as R

    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    enc = C.encode_chunks(r1m, ["latency_avg"], "1m").toPandas()
    assert (enc["n"] <= 1440).all()  # one day of 1m buckets max
    assert (enc["tier"] == "1m").all()


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=200))
@settings(max_examples=100, deadline=None)
def test_dod_many_matches_scalar_wire(xs):
    """The vectorized batch encoder emits the scalar encoder's exact bytes
    (DoD has no encoder-policy freedom)."""
    from more_pattern_extraction_spark.functions.encode import encode_dod_many

    ts = np.array(xs, dtype=np.int64)
    if len(ts) == 0:
        return
    # split into 1-3 chunks deterministically
    cuts = sorted({0, len(ts) // 3, 2 * len(ts) // 3, len(ts)})
    sizes = np.diff(cuts)
    sizes = sizes[sizes > 0]
    cids = np.repeat(np.arange(len(sizes)), sizes)
    many = encode_dod_many(ts, cids, len(sizes))
    off = np.concatenate([[0], np.cumsum(sizes)])
    for c in range(len(sizes)):
        assert many[c] == encode_dod(ts[off[c]: off[c + 1]])


@given(
    st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=200)
)
@settings(max_examples=100, deadline=None)
def test_gorilla_many_roundtrip_property(xs):
    """Vectorized Gorilla (always-fresh blocks) round-trips bit-exactly
    through the standard decoder."""
    from more_pattern_extraction_spark.functions.encode import encode_gorilla_many

    v = np.array(xs, dtype=np.float64)
    if len(v) == 0:
        return
    cuts = sorted({0, len(v) // 2, len(v)})
    sizes = np.diff(cuts)
    sizes = sizes[sizes > 0]
    cids = np.repeat(np.arange(len(sizes)), sizes)
    many = encode_gorilla_many(v, cids, len(sizes))
    off = np.concatenate([[0], np.cumsum(sizes)])
    for c in range(len(sizes)):
        seg = v[off[c]: off[c + 1]]
        got = decode_gorilla(many[c], len(seg))
        assert (seg.view(np.uint64) == got.view(np.uint64)).all()


def test_chunk_roundtrip_across_batches_and_buckets(spark):
    """A conversation split over multiple ts_bucket chunks AND multiple
    Arrow batches (tiny maxRecordsPerBatch forces the carry path) decodes
    bit-exactly — the (conv_id, ts_bucket) keying is lossless."""
    from more_pattern_extraction_spark.operators import chunks as C

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rng = np.random.default_rng(3)
        frames = []
        for conv, days in [("hot", 5), ("cold", 1)]:
            idx = pd.date_range("2024-01-01", periods=days * 288, freq="5min")
            frames.append(
                pd.DataFrame(
                    {
                        "conv_id": conv,
                        "bucket_start": idx,
                        "latency_avg": np.round(rng.normal(150, 40, len(idx)), 6),
                    }
                )
            )
        pdf = pd.concat(frames, ignore_index=True)
        r1m = spark.createDataFrame(pdf)
        enc = C.encode_chunks(r1m, ["latency_avg"], "1m")
        enc_pd = enc.toPandas()
        # hot conversation spans 5 day-chunks (the skew guard)
        assert (enc_pd[enc_pd.conv_id == "hot"]["ts_bucket"].nunique()) == 5
        dec = C.decode_chunks(enc).toPandas().sort_values(
            ["conv_id", "bucket_start"]
        ).reset_index(drop=True)
        exp = pdf.sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
        assert len(dec) == len(exp)
        gv = dec["value"].to_numpy(dtype="float64")
        ev = exp["latency_avg"].to_numpy(dtype="float64")
        assert (gv.view(np.uint64) == ev.view(np.uint64)).all()
        assert (
            dec["bucket_start"].values.astype("datetime64[ns]")
            == exp["bucket_start"].values.astype("datetime64[ns]")
        ).all()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.fixture(scope="module")
def stored_chunks(spark, transcripts, tmp_path_factory):
    """The fixture's ``chunks_1m`` as a tier run stores it."""
    from more_pattern_extraction_spark.plans.pipeline import run_pipeline
    from more_pattern_extraction_spark.sources import catalog as CAT

    out = str(tmp_path_factory.mktemp("decode_parity") / "out")
    run_pipeline(spark, transcripts, out, input_snapshot="d_on", n_buckets=8)
    return CAT.read_table(spark, out, "chunks_1m")


def _decoded(dec):
    """A decoded frame as pandas, in one order, with its NULL count."""
    pdf = dec.toPandas().sort_values(["conv_id", "feature", "bucket_start"])
    return pdf.reset_index(drop=True), dec.filter("value IS NULL").count()


def _assert_paths_equal(chunks, monkeypatch, worker_cap=0):
    """``decode_chunks`` on the driver equals its ``mapInPandas`` path,
    which a ``DRIVER_DECODE_ROWS`` of ``worker_cap`` forces: the schema,
    the keys, the timestamps as ``datetime64[ns]`` and the values as
    uint64 bit patterns, with NULL where a decoded value is NaN.  Returns
    the driver path's frame and NULL count."""
    from more_pattern_extraction_spark.operators import chunks as C

    driver = C.decode_chunks(chunks)
    assert "MapInPandas" not in driver._jdf.queryExecution().executedPlan().toString()
    with monkeypatch.context() as m:
        m.setattr(C, "DRIVER_DECODE_ROWS", worker_cap)
        worker = C.decode_chunks(chunks)
    assert "MapInPandas" in worker._jdf.queryExecution().executedPlan().toString()
    want, want_nulls = _decoded(worker)
    got, got_nulls = _decoded(driver)
    assert driver.schema == worker.schema
    assert len(got) == len(want)
    assert got_nulls == want_nulls
    for c in ("conv_id", "feature"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    assert (
        got["bucket_start"].to_numpy().astype("datetime64[ns]")
        == want["bucket_start"].to_numpy().astype("datetime64[ns]")
    ).all()
    gv = got["value"].to_numpy(dtype="float64", na_value=np.nan)
    wv = want["value"].to_numpy(dtype="float64", na_value=np.nan)
    assert (gv.view(np.uint64) == wv.view(np.uint64)).all()
    return got, got_nulls


def test_driver_decode_equals_worker_on_stored_chunks(spark, stored_chunks, monkeypatch):
    """One conversation-day, one day across every bucket, the whole table
    and seeded random unit sets of the stored ``chunks_1m``."""
    from pyspark.sql import functions as F

    units = sorted({(r.conv_bucket, r.ts_day) for r in
                    stored_chunks.select("conv_bucket", "ts_day").collect()})
    r = stored_chunks.orderBy("conv_id", "ts_day").first()
    scopes = {
        "conv_day": (F.col("conv_bucket") == r.conv_bucket) & (F.col("ts_day") == r.ts_day)
        & (F.col("conv_id") == r.conv_id),
        "day": F.col("ts_day") == r.ts_day,
        "table": F.lit(True),
    }
    for seed in range(3):
        rng = np.random.default_rng(seed)
        pick = rng.choice(len(units), size=min(len(units), 2 + seed * 3), replace=False)
        scope = F.lit(False)
        for i in pick:
            b, d = units[i]
            scope = scope | ((F.col("conv_bucket") == b) & (F.col("ts_day") == d))
        scopes[f"units_seed{seed}"] = scope
    for name, scope in scopes.items():
        chunks = stored_chunks.filter(scope)
        got, _ = _assert_paths_equal(chunks, monkeypatch)
        assert len(got) == chunks.agg(F.sum("n")).first()[0], name


def test_driver_decode_reads_null_values_as_null(spark, monkeypatch):
    """A rollup with NULL feature values: the encoder stores them as NaN
    and both decode paths read them back as NULL at the same buckets."""
    from pyspark.sql import functions as F

    from more_pattern_extraction_spark.operators import chunks as C

    idx = pd.date_range("2024-01-01", periods=3 * 1440, freq="1min")
    r1m = spark.createDataFrame(
        pd.DataFrame({"conv_id": "c", "bucket_start": idx,
                      "latency_avg": np.arange(len(idx), dtype="float64") / 7})
    ).withColumn("latency_avg", F.when(F.minute("bucket_start") % 5 != 0, F.col("latency_avg")))
    enc = spark.createDataFrame(
        C.encode_chunks(r1m, ["latency_avg"], "1m").toPandas(), C.CHUNK_SCHEMA)
    got, nulls = _assert_paths_equal(enc, monkeypatch)
    assert nulls == len(idx) // 5
    assert (got["value"].isna().to_numpy() == (got["bucket_start"].dt.minute % 5 == 0)).all()


def test_driver_decode_of_no_chunks_is_an_empty_frame(spark, stored_chunks, monkeypatch):
    """No chunk rows are within any cap of 0 or more, so only a negative
    cap drives them through the worker."""
    got, _ = _assert_paths_equal(stored_chunks.filter("conv_id = 'no such conversation'"),
                                 monkeypatch, worker_cap=-1)
    assert len(got) == 0
