"""stats operators (A4/A5/A9), readers (S6/S7), subspace (W12), and the
Structured-Streaming feed of the tier DAG (the stream's tier tables equal
a cold run on the same turns; exactly-once across a crash, a replay and
a compaction)."""

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.functions.kernels import subspace_kernel
from more_pattern_extraction_spark.operators import stats as ST


def test_regression_scores_match_numpy(spark):
    rng = np.random.default_rng(31)
    y = rng.normal(50, 10, 500)
    p = y + rng.normal(0, 2, 500)
    df = spark.createDataFrame(pd.DataFrame({"y": y, "p": p}))
    r = ST.regression_scores(df, "y", "p").collect()[0]
    ss_res = ((y - p) ** 2).sum()
    ss_tot = ((y - y.mean()) ** 2).sum()
    np.testing.assert_allclose(r.r2, 1 - ss_res / ss_tot, rtol=1e-6)
    np.testing.assert_allclose(r.mae, np.abs(y - p).mean(), rtol=1e-9)
    np.testing.assert_allclose(r.me, (y - p).mean(), rtol=1e-6, atol=1e-9)
    np.testing.assert_allclose(r.mape, np.abs(y - p).mean() / y.mean(), rtol=1e-9)
    np.testing.assert_allclose(r.mpe, (y - p).mean() / y.mean(), rtol=1e-6, atol=1e-9)


def test_classification_scores(spark):
    # hand-built confusion: tp=3 fp=1 fn=2 tn=4
    rows = [(1, 1)] * 3 + [(0, 1)] * 1 + [(1, 0)] * 2 + [(0, 0)] * 4
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["actual", "pred"]))
    r = ST.classification_scores(df, "actual", "pred").collect()[0]
    assert (r.tp, r.fp, r.fn, r.tn) == (3, 1, 2, 4)
    prec, rec = 3 / 4, 3 / 5
    np.testing.assert_allclose(r.f1, 2 * prec * rec / (prec + rec))
    np.testing.assert_allclose(r.accuracy, 0.7)
    np.testing.assert_allclose(r.hamming_loss, 0.3)
    np.testing.assert_allclose(r.jaccard, 3 / 6)
    np.testing.assert_allclose(r.balanced_accuracy, (rec + 4 / 5) / 2)
    pe = (4 * 5 + 6 * 5) / 100
    np.testing.assert_allclose(r.cohen_kappa, (0.7 - pe) / (1 - pe))


def test_multi_corr_matches_numpy(spark):
    rng = np.random.default_rng(32)
    x1, x2 = rng.normal(0, 1, 400), rng.normal(0, 1, 400)
    y = 2 * x1 - x2 + rng.normal(0, 0.5, 400)
    df = spark.createDataFrame(pd.DataFrame({"y": y, "x1": x1, "x2": x2}))
    got = ST.multi_corr(df, "y", ["x1", "x2"])
    corr = np.corrcoef(np.c_[y, x1, x2].T)
    exp = corr[1:, 0] @ np.linalg.inv(corr[1:, 1:]) @ corr[1:, 0]
    np.testing.assert_allclose(got, exp, rtol=1e-6)


def test_top_deviations(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"seg": range(6), "mpe": [0.5, -0.9, 0.1, -0.3, 0.0, -2.0]})
    )
    got = [r.seg for r in ST.top_deviations(df, "mpe", n=2).collect()]
    assert got == [5, 1]


def test_subspace_kernel():
    rng = np.random.default_rng(33)
    n, m = 200, 20
    base = np.sin(np.arange(n) * 0.3)
    ts = np.vstack([
        base + rng.normal(0, 0.01, n),     # dim 0: shares the motif
        rng.normal(0, 1, n),               # dim 1: noise
        base + rng.normal(0, 0.01, n),     # dim 2: shares the motif
    ])
    # plant motif at 40 and 120 in dims 0,2
    s = subspace_kernel(ts, m, 40, 120, k=1)
    assert set(s) == {0, 2}
    s_inc = subspace_kernel(ts, m, 40, 120, k=1, include=[1])
    assert s_inc[0] == 1


def test_ragged_csv_reader(spark, tmp_path):
    from more_pattern_extraction_spark.sources.readers import parse_ragged_csv

    p = tmp_path / "ragged.csv"
    p.write_text(
        "a,2024-01-01,1.5,2.5,3.5\n"
        "b,2024-01-02,4.0,-9999,6.0,7.0\n"
        "c,2024-01-03,9.0\n"
    )
    df = parse_ragged_csv(spark, str(p), meta_cols=2).orderBy("meta_0")
    rows = df.collect()
    assert [r.curve_len for r in rows] == [3, 4, 1]
    assert rows[1].curve[1] is None  # sentinel → NULL
    assert rows[0].curve == [1.5, 2.5, 3.5]


def test_fit_polynomial_models_matches_numpy(spark):
    """Grouped normal-equation fit == np.polyfit (α=0) and == the manual
    ridge solution (α>0), per group."""
    from more_pattern_extraction_spark.operators.deviation import fit_polynomial_models

    rng = np.random.default_rng(11)
    frames = []
    for g in ("a", "b"):
        x = rng.uniform(-3, 3, 120)
        y = 2.0 + 0.5 * x - 0.8 * x**2 + 0.1 * x**3 + rng.normal(0, 0.3, 120)
        frames.append(pd.DataFrame({"event_id": g, "x": x, "y": y}))
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)

    got = {r.event_id: np.array(r.coefs)
           for r in fit_polynomial_models(df, "y", "x", degree=3).collect()}
    for g in ("a", "b"):
        sub = pdf[pdf.event_id == g]
        exp = np.polyfit(sub.x, sub.y, 3)[::-1]  # increasing powers
        np.testing.assert_allclose(got[g], exp, rtol=1e-8)

    alpha = 2.5
    got_r = {r.event_id: np.array(r.coefs)
             for r in fit_polynomial_models(df, "y", "x", degree=2, alpha=alpha).collect()}
    for g in ("a", "b"):
        sub = pdf[pdf.event_id == g]
        V = np.vander(sub.x, 3, increasing=True)
        exp = np.linalg.solve(V.T @ V + alpha * np.eye(3), V.T @ sub.y)
        np.testing.assert_allclose(got_r[g], exp, rtol=1e-8)


def test_poly2_relational_matches_numpy(spark):
    """The pure-Catalyst Cramer quadratic equals np.polyfit."""
    from more_pattern_extraction_spark.operators.deviation import _poly2_fit_relational

    rng = np.random.default_rng(12)
    x = rng.uniform(-5, 5, 200)
    y = 1.0 - 2.0 * x + 0.3 * x**2 + rng.normal(0, 0.5, 200)
    df = spark.createDataFrame(pd.DataFrame({"event_id": "e", "x": x, "y": y}))
    row = _poly2_fit_relational(df, "y", "x", "event_id").collect()[0]
    exp = np.polyfit(x, y, 2)[::-1]
    np.testing.assert_allclose([row.c0, row.c1, row.c2], exp, rtol=1e-7)


def _dtw_ref(a, b):
    """Plain recursive-definition DTW for cross-checking the kernel."""
    import functools

    @functools.lru_cache(None)
    def d(i, j):
        c = abs(a[i] - b[j])
        if i == 0 and j == 0:
            return c
        opts = []
        if i > 0:
            opts.append(d(i - 1, j))
        if j > 0:
            opts.append(d(i, j - 1))
        if i > 0 and j > 0:
            opts.append(d(i - 1, j - 1))
        return c + min(opts)

    return d(len(a) - 1, len(b) - 1)


def test_dtw_distance_matches_reference_dp():
    from more_pattern_extraction_spark.functions.kernels import dtw_distance

    rng = np.random.default_rng(4)
    for _ in range(20):
        a = tuple(rng.integers(0, 200, rng.integers(1, 6)).tolist())
        b = tuple(rng.integers(0, 200, rng.integers(1, 6)).tolist())
        assert dtw_distance(np.array(a), np.array(b)) == _dtw_ref(a, b)
    # the 2x2 closed form used by the SQL oracle: d = |a1-b1| + |a2-b2|
    for _ in range(50):
        a = rng.integers(0, 500, 2); a.sort()
        b = rng.integers(0, 500, 2); b.sort()
        assert dtw_distance(a, b) == abs(a[0] - b[0]) + abs(a[1] - b[1])


def test_rank_L_sweep_prefers_matching_L(spark):
    """Regimes exactly at the label positions must rank first."""
    from more_pattern_extraction_spark.operators.segmentation import rank_L_sweep

    fl = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"] * 4,
                "L": [10, 10, 20, 20],
                "regime_pos": [50, 150, 70, 130],
                "cac": 0.5,
            }
        )
    )
    labels = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["c", "c"], "label_pos": [50, 150]})
    )
    out = rank_L_sweep(fl, labels).toPandas().sort_values("rank")
    assert out.iloc[0].L == 10 and out.iloc[0].dtw_dist == 0.0
    assert out.iloc[0].norm_dist == 0.0 and out.iloc[1].norm_dist == 1.0


def test_nn_stats_counts_and_majority(spark):
    from more_pattern_extraction_spark.operators.motifs import nn_stats

    # mask: positions 0..9 flagged, 10..29 not
    mask = spark.createDataFrame(
        pd.DataFrame({"conv_id": "c", "pos": range(30), "flag": [True] * 10 + [False] * 20})
    )
    # m=3: neighbor at 2 → [2,4] inside true; 15 → false; 8 → [8,10] spans
    nbrs = spark.createDataFrame(
        pd.DataFrame({"conv_id": "c", "neighbor_pos": [2, 15, 8, 20]})
    )
    row = nn_stats(nbrs, mask, m=3, maj_other="normal").collect()[0]
    assert (row.cls1_count, row.cls2_count, row.spanning_both) == (1, 2, 1)
    # norm1 = 1/(10/20) = 2, norm2 = 2 → tie → 'None', no match
    assert row.majority == "None" and row.matching_maj is False


def test_results_csv_roundtrip(spark, tmp_path):
    """S8 result sink: scored frames written as CSV round-trip through the
    S7 loader (values + timestamps preserved)."""
    from more_pattern_extraction_spark.sources.readers import (
        load_timeseries_csv,
        write_results_csv,
    )

    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "b", "c"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01.123456", "2024-01-02 12:00:00.000000",
                 "2024-01-03 23:59:59.000001"]
            ),
            "score": [1.5, -2.25, 0.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "results_csv")
    write_results_csv(df, out, single_file=True)
    back = (
        load_timeseries_csv(spark, [out], ts_col="ts")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert back["conv_id"].tolist() == ["a", "b", "c"]
    assert back["score"].tolist() == [1.5, -2.25, 0.0]
    assert (
        back["ts"].astype("datetime64[us]") == pdf["ts"].astype("datetime64[us]")
    ).all()


STREAM_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
TIER_TABLES = ["rollup_1m", "distinct_1m", "rollup_1m_filled", "chunks_1m", "rollup_1h",
               "rollup_1d"]


def _digest(df):
    cols = sorted(df.columns)
    return df.select(
        F.sum(F.pmod(F.xxhash64(*[F.col(c).cast("string") for c in cols]),
                     F.lit(1_000_000_007))).alias("h"),
        F.count(F.lit(1)).alias("n")).collect()[0]


def _tier_digests(spark, root):
    from more_pattern_extraction_spark.sources import catalog as CAT

    return {t: _digest(CAT.read_table(spark, root, t)) for t in TIER_TABLES}


def _raw_digest(spark, root):
    from more_pattern_extraction_spark.streaming.rollup_stream import read_stream_turns

    turns = read_stream_turns(spark, root, STREAM_SCHEMA)
    return _digest(turns.drop("epoch", "conv_bucket", "ts_day"))


def _files(root):
    """{path: (size, mtime_ns)} of every file under ``root``."""
    return {
        os.path.join(d, f): (os.stat(os.path.join(d, f)).st_size,
                             os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _dirs, fs in os.walk(root) for f in fs
    }


def _epochs(table):
    return sorted(e for e in os.listdir(table) if e.startswith("epoch="))


@pytest.fixture(scope="module")
def stream_files(spark, transcripts, tmp_path_factory):
    """The fixture's turns as three Parquet files split at the ``ts``
    tertiles, with one turn of the first tertile moved into the last file
    (a late turn: older than everything the stream has seen); and the
    root of a cold ``run_pipeline`` on all of them."""
    from more_pattern_extraction_spark.plans.pipeline import run_pipeline

    base = tmp_path_factory.mktemp("stream")
    tq = transcripts.withColumn("_tsd", F.col("ts").cast("double"))
    q1, q2 = tq.approxQuantile("_tsd", [1 / 3, 2 / 3], 0.0)
    t = F.col("_tsd")
    late = (F.col("conv_id") == "conv_00003") & (F.col("turn_idx") == 7)
    assert tq.filter(late & (t <= q1)).count() == 1
    slices = [tq.filter((t <= q1) & ~late), tq.filter((t > q1) & (t <= q2)),
              tq.filter((t > q2) | late)]
    files = []
    for i, sl in enumerate(slices):
        stage = str(base / f"stage{i}")
        sl.drop("_tsd").coalesce(1).write.parquet(stage)
        files.append(glob.glob(f"{stage}/part-*.parquet")[0])
    cold = str(base / "cold")
    run_pipeline(spark, transcripts, cold, input_snapshot="cold", n_buckets=8)
    return files, cold


def _stream(spark, files, src, out, ckpt, idx=(0, 1, 2)):
    """Add the ``idx`` files to the source dir ``src`` (mtimes in index
    order) and stream every file not yet seen under ``ckpt``, one an
    epoch, into ``out`` with 8 buckets."""
    from more_pattern_extraction_spark.streaming.rollup_stream import stream_rollup_to_table

    os.makedirs(src, exist_ok=True)
    for i in idx:
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copy(files[i], dst)
        os.utime(dst, (1_700_000_000 + 10 * i,) * 2)
    return stream_rollup_to_table(spark, str(src), STREAM_SCHEMA, out, n_buckets=8,
                                  checkpoint_dir=str(ckpt), max_files_per_trigger=1)


def test_streaming_rollup_matches_batch(spark, transcripts, stream_files, tmp_path):
    """Three epochs, the last carrying a late turn: every tier table the
    stream writes equals a cold run on the same turns, and the last
    epoch's snapshot certifies them all (a resume there runs 0 units)."""
    from more_pattern_extraction_spark.plans.pipeline import run_pipeline

    files, cold = stream_files
    out = str(tmp_path / "out")
    _stream(spark, files, tmp_path / "src", out, tmp_path / "ckpt")
    assert _epochs(f"{out}/transcripts") == ["epoch=0", "epoch=1", "epoch=2"]
    assert _tier_digests(spark, out) == _tier_digests(spark, cold)
    m = run_pipeline(spark, transcripts, out, input_snapshot="epoch=2", n_buckets=8)
    assert m["units_done"] == 0


def test_stream_epoch_crash_before_certify_and_replay(spark, stream_files, tmp_path, monkeypatch):
    """A crash inside epoch 1, after its tier writes and before the ledger
    commit: a restart on the same stream checkpoint re-runs the epoch's
    repair from its committed dir, so the tiers equal the cold run, each
    epoch's lineage has one row per repaired unit and no tmp dir is left.
    A replay with a fresh stream checkpoint then changes no file."""
    import pyarrow.parquet as pq

    from more_pattern_extraction_spark.plans import checkpoint as CP
    from more_pattern_extraction_spark.plans import stages
    from more_pattern_extraction_spark.streaming.rollup_stream import compact_stream_tier

    files, cold = stream_files
    out = str(tmp_path / "out")
    certify, crashed = stages.certify, []

    def crash_in_epoch_1(cp, scope, root, job, snapshot, carried=()):
        if snapshot == "epoch=1" and not crashed:
            crashed.append(snapshot)
            raise RuntimeError("crash before certify")
        return certify(cp, scope, root, job, snapshot, carried)

    monkeypatch.setattr(stages, "certify", crash_in_epoch_1)
    with pytest.raises(Exception, match="crash before certify"):
        _stream(spark, files, tmp_path / "src", out, tmp_path / "ckpt")
    assert crashed and _epochs(f"{out}/transcripts") == ["epoch=0", "epoch=1"]
    # compaction leaves an uncertified epoch's dir: the restart repairs from it
    assert compact_stream_tier(spark, out) == {"compacted": 0, "generation": None}
    _stream(spark, files, tmp_path / "src", out, tmp_path / "ckpt", idx=())
    assert _epochs(f"{out}/transcripts") == ["epoch=0", "epoch=1", "epoch=2"]
    assert not glob.glob(f"{out}/transcripts/_tmp_epoch_*")
    assert _tier_digests(spark, out) == _tier_digests(spark, cold)

    # the crashed run recorded no metrics row, so the three rows are the
    # three certified repairs, in epoch order
    runs = (CP.CheckpointStore(spark, out).metrics().filter(F.col("job") == "late_repair")
            .orderBy("ts").select("units_repaired").collect())
    lineage = pq.read_table(f"{out}/lineage", schema=CP.LINEAGE).to_pandas()
    per_epoch = lineage.groupby("input_snapshot")
    assert {s: len(g) for s, g in per_epoch} == {
        f"epoch={e}": int(r.units_repaired) for e, r in enumerate(runs)}
    assert all(not g.duplicated(["conv_bucket", "ts_bucket"]).any() for _s, g in per_epoch)

    before = _files(out)
    _stream(spark, files, tmp_path / "src", out, tmp_path / "ckpt_replay", idx=())
    assert _files(out) == before


def test_stream_tier_compaction_crash_safe(spark, transcripts, stream_files, tmp_path):
    """compact_stream_tier merges the raw table's epochs into one
    generation with the turns unchanged, and a later epoch still repairs
    the tiers to the cold run.  The crash window (generation committed, a
    source dir not yet deleted) neither double-counts on read nor
    re-admits a replayed absorbed epoch; a rerun finishes the deletes."""
    from more_pattern_extraction_spark.streaming.rollup_stream import compact_stream_tier

    files, cold = stream_files
    out = str(tmp_path / "out")
    table = f"{out}/transcripts"
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    _stream(spark, files, src, out, ckpt, idx=(0, 1))
    raw = _raw_digest(spark, out)
    files0 = len(glob.glob(f"{table}/**/*.parquet", recursive=True))
    shutil.copytree(f"{table}/epoch=0", str(tmp_path / "victim_copy"))

    assert compact_stream_tier(spark, out) == {"compacted": 2, "generation": -1}
    assert _epochs(table) == ["epoch=-1"]
    assert _raw_digest(spark, out) == raw
    assert len(glob.glob(f"{table}/**/*.parquet", recursive=True)) < files0

    # crash window: an absorbed epoch dir re-appears next to the committed
    # generation; the manifest keeps it out of reads and of the next repair
    shutil.copytree(str(tmp_path / "victim_copy"), f"{table}/epoch=0")
    assert _raw_digest(spark, out) == raw
    _stream(spark, files, src, out, ckpt, idx=(2,))
    assert _tier_digests(spark, out) == _tier_digests(spark, cold)

    # a fresh stream checkpoint replays every file: absorbed and committed
    # epochs are skipped, and nothing is written
    before = _files(out)
    _stream(spark, files, src, out, tmp_path / "ckpt_replay", idx=())
    assert _files(out) == before

    # rerunning the compaction finishes the crashed delete, then folds the
    # generation and epoch 2 into the next one
    assert compact_stream_tier(spark, out) == {"compacted": 2, "generation": -2}
    assert _epochs(table) == ["epoch=-2"]
    assert _raw_digest(spark, out) == _digest(transcripts)
