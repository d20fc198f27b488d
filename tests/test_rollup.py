"""Rollup correctness vs a single-node pandas oracle that mirrors the
reference semantics (resample().mean(), modules/preprocessing.py:39) and
the cascade re-aggregation identity (FIXTURES.md §3)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import rollup as R
from more_pattern_extraction_spark.plans import partitioning as P


def _oracle_rollup(pdf: pd.DataFrame, freq: str) -> pd.DataFrame:
    pdf = pdf.sort_values(["conv_id", "turn_idx"])
    pdf["latency"] = pdf.groupby("conv_id")["ts"].transform(
        lambda s: s.astype("int64") / 1e9 - (s.astype("int64") / 1e9).shift()
    )
    pdf["is_tool"] = pdf["tool"].notna().astype("int64")
    g = pdf.groupby(["conv_id", pdf["ts"].dt.floor(freq)])
    out = g.agg(
        turn_cnt=("turn_idx", "size"),
        tool_call_cnt=("is_tool", "sum"),
        latency_sum=("latency", "sum"),
        latency_cnt=("latency", "count"),
        latency_min=("latency", "min"),
        latency_max=("latency", "max"),
    ).reset_index().rename(columns={"ts": "bucket_start"})
    out.loc[out.latency_cnt == 0, "latency_sum"] = np.nan
    out["latency_avg"] = out["latency_sum"] / out["latency_cnt"]
    return out.sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)


def test_rollup_1m_matches_pandas_oracle(spark, transcripts):
    got = (
        R.rollup_from_raw(R.turn_features(transcripts), "1m")
        .orderBy("conv_id", "bucket_start")
        .toPandas()
    )
    exp = _oracle_rollup(transcripts.toPandas(), "1min")
    assert len(got) == len(exp)
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (got["bucket_start"].values == exp["bucket_start"].values).all()
    for c in ["turn_cnt", "tool_call_cnt", "latency_cnt"]:
        assert (got[c].values == exp[c].values).all(), c
    for c in ["latency_sum", "latency_min", "latency_max", "latency_avg"]:
        np.testing.assert_allclose(got[c].values, exp[c].values, rtol=0, atol=1e-9)


def test_cascade_identity(spark, transcripts):
    """rollup_1h == cascade(rollup_1m); rollup_1d == cascade(rollup_1h)
    on the exactly re-aggregatable columns — bit-for-bit (FIXTURES.md §3)."""
    t = R.turn_features(transcripts)
    r1m = R.rollup_from_raw(t, "1m")
    cols = ["conv_id", "bucket_start", "turn_cnt", "tool_call_cnt",
            "latency_cnt", "latency_min", "latency_max"]
    for to_tier, direct in [("1h", R.rollup_from_raw(t, "1h")),
                            ("1d", R.rollup_from_raw(t, "1d"))]:
        casc = R.cascade(r1m, to_tier)
        a = casc.select(cols).orderBy("conv_id", "bucket_start").toPandas()
        b = direct.select(cols).orderBy("conv_id", "bucket_start").toPandas()
        pd.testing.assert_frame_equal(a, b, check_exact=True)
        # sums/avgs to float tolerance (summation order differs)
        sa = casc.select("conv_id", "bucket_start", "latency_sum", "latency_avg").orderBy(
            "conv_id", "bucket_start").toPandas()
        sb = direct.select("conv_id", "bucket_start", "latency_sum", "latency_avg").orderBy(
            "conv_id", "bucket_start").toPandas()
        np.testing.assert_allclose(sa["latency_sum"], sb["latency_sum"], rtol=1e-12)
        np.testing.assert_allclose(sa["latency_avg"], sb["latency_avg"], rtol=1e-12)


def test_arbitrary_width_tier(spark, transcripts):
    """time_bucket-style widths: tier parsing, epoch-path equivalence to
    date_trunc on named boundaries, pandas-oracle match at 5m, and the
    1m→5m cascade identity (300 s divides 60 s buckets exactly)."""
    import pyspark.sql.functions as F

    assert (R.tier_seconds("5m"), R.tier_seconds("90s"), R.tier_seconds("6h"),
            R.tier_seconds("2d")) == (300, 90, 21600, 172800)
    for bad in ("5x", "m5", "", "5"):
        try:
            R.tier_seconds(bad)
            assert False, bad
        except ValueError:
            pass

    # "60s" through the epoch path == date_trunc('minute') everywhere
    mism = transcripts.select(
        (R.bucket_expr(F.col("ts"), "60s") == F.date_trunc("minute", "ts")).alias("e")
    ).filter("not e").count()
    assert mism == 0

    t = R.turn_features(transcripts)
    got = (R.rollup_from_raw(t, "5m")
           .orderBy("conv_id", "bucket_start").toPandas())
    exp = _oracle_rollup(transcripts.toPandas(), "5min")
    assert len(got) == len(exp)
    assert (got["bucket_start"].values == exp["bucket_start"].values).all()
    np.testing.assert_allclose(got["latency_sum"].values, exp["latency_sum"].values,
                               rtol=0, atol=1e-9)

    cols = ["conv_id", "bucket_start", "turn_cnt", "tool_call_cnt",
            "latency_cnt", "latency_min", "latency_max"]
    a = (R.cascade(R.rollup_from_raw(t, "1m"), "5m")
         .select(cols).orderBy("conv_id", "bucket_start").toPandas())
    b = got[cols].reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_text_never_perturbed(spark, transcripts):
    """Per-row invariant (BASELINE.json input_hint): the engine never
    transforms raw transcript rows — verify text equality under stable
    (conv_id, turn_idx) ordering via hash comparison."""
    t = R.turn_features(transcripts)  # feature derivation keeps raw cols
    a = transcripts.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").toPandas()
    b = t.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").toPandas()
    assert (a["text"].values == b["text"].values).all()


def test_retention_filter(spark, transcripts):
    r = R.rollup_from_raw(R.turn_features(transcripts), "1d")
    kept = R.retention_filter(r, "2024-01-02 00:00:00")
    assert kept.filter("bucket_start < timestamp '2024-01-02 00:00:00'").count() == 0


def test_cascade_validates_tier_multiple(spark, transcripts):
    """ADVICE r05: a coarse width that is not a multiple of the finer
    tier's must raise (it would silently split finer buckets across
    coarse ones), while valid multiples pass through unchanged."""
    import pytest

    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    with pytest.raises(ValueError, match="not a.*multiple"):
        R.cascade(r1m, "90s", from_tier="1m")
    # 5m from 1m is valid and must produce the same plan as the unvalidated call
    a = R.cascade(r1m, "5m", from_tier="1m")
    b = R.cascade(r1m, "5m")
    assert a.schema == b.schema


def _latency(feats):
    return (
        feats.select("conv_id", "turn_idx", "latency")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def _features(df, monkeypatch, hot_key_rows):
    """turn_features with the hot-key gate (and so its lag block width)
    set to ``hot_key_rows``; ``None`` keeps every input on the plain
    window."""
    monkeypatch.setattr(P, "HOT_KEY_ROWS", 10**12 if hot_key_rows is None else hot_key_rows)
    return R.turn_features(df)


def test_segmented_lag_equals_plain_window(spark, transcripts, monkeypatch):
    """turn_features' block-segmented lag must be bit-identical to the
    single-window form for every row, including each block's first row
    (carry from the previous non-empty block) and each conversation's
    first row (null).  HOT_KEY_ROWS=7 forces many blocks of 7 on the
    600-turn hot conversation; turn_idx is dense here but the carry logic
    must also survive sparse indices (empty blocks), covered by the
    filtered run with blocks of 2."""
    plain = _latency(_features(transcripts, monkeypatch, None))
    seg = _latency(_features(transcripts, monkeypatch, 7))
    pd.testing.assert_frame_equal(seg, plain)
    # sparse turn_idx (empty blocks): drop idx%3==1 rows; the lag target
    # changes (prev surviving row), but segmented must still equal plain
    sparse = transcripts.filter("pmod(turn_idx, 3) != 1")
    p2 = _latency(_features(sparse, monkeypatch, None))
    s2 = _latency(_features(sparse, monkeypatch, 2))
    pd.testing.assert_frame_equal(s2, p2)


def test_auto_seg_gate_picks_plan_by_max_turn_idx(spark, transcripts, monkeypatch):
    """The gate must choose the PLAIN window when no conversation can
    span more than one lag block (max per-conv turn_idx below
    HOT_KEY_ROWS — the exact degenerate-block witness) and the SEGMENTED
    scan when one does; both choices stay value-identical to the plain
    form.  The premium this gate avoids on uniform data is measured in
    scripts/SEG_OVERHEAD_r06.json."""
    # one conversation crossing the threshold flips the whole input to the
    # segmented scan (per-conv index is the witness, not row count)
    hot = transcripts.withColumn(
        "turn_idx",
        F.when(F.col("conv_id") == "conv_00000",
               F.col("turn_idx") + F.lit(P.HOT_KEY_ROWS)).otherwise(
            F.col("turn_idx")),
    )
    # small input: every turn_idx < HOT_KEY_ROWS -> plain single-window plan
    auto_small = R.turn_features(transcripts)
    auto_hot = R.turn_features(hot)
    p_auto = auto_small._jdf.queryExecution().executedPlan().toString()
    assert "_blk" not in p_auto
    p_hot = auto_hot._jdf.queryExecution().executedPlan().toString()
    assert "_blk" in p_hot
    plain = _features(transcripts, monkeypatch, None)
    pd.testing.assert_frame_equal(_latency(auto_small), _latency(plain))
    plain_hot = _features(hot, monkeypatch, None)
    pd.testing.assert_frame_equal(_latency(auto_hot), _latency(plain_hot))


def test_zero_width_tier_raises(spark, transcripts):
    """``0m`` has no bucket grid: it raises instead of dividing by zero
    (under non-ANSI division every row would land in one NULL bucket)."""
    import pytest

    feats = R.turn_features(transcripts)
    with pytest.raises(ValueError, match="bad tier"):
        R.rollup_from_raw(feats, "0m")
    r1m = R.rollup_from_raw(feats, "1m")
    with pytest.raises(ValueError, match="bad tier"):
        R.cascade(r1m, "0m")
    with pytest.raises(ValueError, match="bad tier"):
        R.cascade(r1m, "0m", from_tier="1m")
