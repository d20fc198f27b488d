"""Catalog-seam contract test (VERDICT r02 #8 / r03 #3): the exact
write / read / snapshot / retention / resume sequence that
``plans/checkpoint.py`` and ``plans/pipeline.py`` depend on, run against
the Parquet layout (``sources/catalog.py``).  The same assertions
define the contract an Iceberg-backed catalog would have to honor.

Contract items:
  C1  write_partitioned → read_table round-trips rows exactly and lays
      out (conv_bucket, ts_day) partition directories.
  C2  dynamic partition overwrite touches ONLY the partitions present in
      the written frame (the Parquet stand-in for Iceberg's atomic
      partition-level commit).
  C3  snapshot_id is stable while the input is unchanged, changes when
      any file changes, and distinguishes different paths.
  C4  drop_partitions_before removes exactly the ts_day partitions
      before the horizon (metadata-only retention).
  C5  resume: pending_units subtracts committed work per input
      snapshot; a new snapshot re-exposes all units; a resumed
      run equals a cold run (pipeline-level, kill-and-resume).
  C6  every table carries its read schema (``_schema.json``, the stand-in
      for Iceberg's snapshot schema): read_table plans through it with no
      Spark job and reports what inference would, a rewrite replaces it,
      and a table without it (an aborted write) is read by inference.
"""

import os
import shutil
from datetime import date

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import stages as ST
from more_pattern_extraction_spark.plans.checkpoint import CheckpointStore
from more_pattern_extraction_spark.plans.pipeline import run_pattern_stage, run_pipeline
from more_pattern_extraction_spark.sources import catalog as CAT

# every table the tier DAG and the pattern stage (window="day") write
DAG_TABLES = [st.table for st in ST.TIER_STAGES] + ["mp_day", "discords", "regimes"]


def _digest(df):
    cols = sorted(df.columns)
    return df.select(
        F.sum(F.pmod(F.xxhash64(*[F.col(c).cast("string") for c in cols]),
                     F.lit(1_000_000_007))).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]


@pytest.fixture()
def tiered(spark, transcripts, tmp_path):
    """A small layout-ready frame + its written table root."""
    df = CAT.with_layout_cols(
        transcripts.select("conv_id", "turn_idx", "role", "ts"), n_buckets=4
    )
    root = str(tmp_path)
    CAT.write_partitioned(df, root, "turns")
    return df, root


def test_c1_roundtrip_and_layout(spark, tiered):
    df, root = tiered
    back = CAT.read_table(spark, root, "turns")
    assert back.count() == df.count()
    # row-level equality (order-insensitive): anti-joins empty both ways
    cols = ["conv_id", "turn_idx", "role"]
    assert back.select(cols).exceptAll(df.select(cols)).count() == 0
    assert df.select(cols).exceptAll(back.select(cols)).count() == 0
    # physical layout: conv_bucket=<n>/ts_day=<d> directories exist
    base = CAT.table_path(root, "turns")
    cbs = [d for d in os.listdir(base) if d.startswith("conv_bucket=")]
    assert cbs, "no conv_bucket partition directories"
    inner = os.listdir(os.path.join(base, cbs[0]))
    assert any(d.startswith("ts_day=") for d in inner)


def test_c2_dynamic_overwrite_is_partition_scoped(spark, tiered):
    df, root = tiered
    # pick one (conv_bucket, ts_day) partition and overwrite it with a
    # single marker row; every other partition must survive untouched
    tgt = df.select("conv_bucket", "ts_day").first()
    marker = (
        df.filter(
            (F.col("conv_bucket") == tgt.conv_bucket)
            & (F.col("ts_day") == tgt.ts_day)
        )
        .limit(1)
        .withColumn("role", F.lit("OVERWRITTEN"))
    )
    before_other = (
        CAT.read_table(spark, root, "turns")
        .filter(
            ~((F.col("conv_bucket") == tgt.conv_bucket) & (F.col("ts_day") == tgt.ts_day))
        )
        .count()
    )
    CAT.write_partitioned(marker, root, "turns")
    after = CAT.read_table(spark, root, "turns")
    in_tgt = after.filter(
        (F.col("conv_bucket") == tgt.conv_bucket) & (F.col("ts_day") == tgt.ts_day)
    )
    assert in_tgt.count() == 1
    assert in_tgt.first().role == "OVERWRITTEN"
    assert (
        after.filter(
            ~((F.col("conv_bucket") == tgt.conv_bucket) & (F.col("ts_day") == tgt.ts_day))
        ).count()
        == before_other
    )


def test_c3_snapshot_id_semantics(spark, tiered, tmp_path):
    df, root = tiered
    path = CAT.table_path(root, "turns")
    s1 = CAT.snapshot_id(path)
    s2 = CAT.snapshot_id(path)
    assert s1 == s2, "snapshot must be stable on unchanged input"
    # appending to any partition must change the snapshot
    df.limit(1).write.mode("append").partitionBy("conv_bucket", "ts_day").parquet(path)
    assert CAT.snapshot_id(path) != s1
    # a different table is a different snapshot space
    other = str(tmp_path / "elsewhere")
    df.limit(5).write.mode("overwrite").partitionBy("conv_bucket", "ts_day").parquet(
        other
    )
    assert CAT.snapshot_id(other) != CAT.snapshot_id(path)


def test_c4_retention_drops_only_old_partitions(spark, tiered):
    df, root = tiered
    days = sorted(r.ts_day for r in df.select("ts_day").distinct().collect())
    assert len(days) >= 2, "fixture must span multiple days"
    horizon = str(days[1])
    n_keep = df.filter(F.col("ts_day") >= horizon).count()
    dropped = CAT.drop_partitions_before(root, "turns", horizon)
    assert dropped > 0
    back = CAT.read_table(spark, root, "turns")
    assert back.count() == n_keep
    assert back.filter(F.col("ts_day") < horizon).count() == 0
    # idempotent: second call drops nothing
    assert CAT.drop_partitions_before(root, "turns", horizon) == 0


def test_c5_checkpoint_resume_per_snapshot(spark, tiered, tmp_path):
    df, root = tiered
    cp = CheckpointStore(spark, str(tmp_path / "cp"))
    units = sorted(tuple(r) for r in df.select("conv_bucket", "ts_day").distinct().collect())
    snap = CAT.snapshot_id(CAT.table_path(root, "turns"))
    n = len(units)
    assert len(cp.pending_units(units, "job", "1m", snap)) == n
    # commit half the units → only the other half is pending
    half = units[: n // 2]
    cp.commit(half, "job", "1m", snap)
    assert len(cp.pending_units(units, "job", "1m", snap)) == n - n // 2
    # commit the rest → nothing pending (a resumed run does zero work)
    rest = [u for u in units if u not in half]
    cp.commit(rest, "job", "1m", snap)
    assert len(cp.pending_units(units, "job", "1m", snap)) == 0
    # a NEW input snapshot re-exposes every unit: old checkpoints must
    # never mask new data (checkpoint.py pending_units contract)
    assert len(cp.pending_units(units, "job", "1m", snap + "_v2")) == n
    # and other (job, tier) scopes are independent
    assert len(cp.pending_units(units, "job", "1h", snap)) == n
    assert len(cp.pending_units(units, "other_job", "1m", snap)) == n


def test_c5_missing_ledger_runs_no_job(spark, spark_jobs, tmp_path, monkeypatch):
    """On a fresh root the ledger directory does not exist yet: nothing
    is completed, everything is pending, and finding that out starts no
    Spark job and no Spark read (a read of the missing path logs a Java
    FileNotFoundException stack trace on every cold ingest)."""
    monkeypatch.setattr(type(spark), "read", property(lambda _s: pytest.fail("Spark read")))
    cp = CheckpointStore(spark, str(tmp_path / "fresh"))
    units = [(0, date(2024, 1, 1)), (3, date(2024, 1, 2))]
    (done, pending), jobs = spark_jobs("c5_fresh", lambda: (
        cp.completed("job", "1m", "s"), cp.pending_units(units, "job", "1m", "s")))
    assert done == set() and pending == units
    assert jobs == 0
    assert not os.path.exists(cp.cp_path)


def test_write_distribution_one_file_per_partition(spark, tiered, tmp_path):
    """The hash write distribution (Iceberg write.distribution-mode=hash
    for the Parquet seam) must produce exactly one data file per
    partition dir regardless of upstream task count — without it a
    partitioned write emits one file per (task, partition) pair and
    every incremental run multiplies the file count."""
    df0, _ = tiered
    root = str(tmp_path / "dist")
    # force many upstream tasks so the non-distributed shape would
    # scatter each partition across files
    df = df0.repartition(8)
    CAT.write_partitioned(df, root, "t", sort_cols=("conv_id", "ts"))
    base = CAT.table_path(root, "t")
    per_dir = {}
    for r, _, files in os.walk(base):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            per_dir[r] = n
    assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
    got = CAT.read_table(spark, root, "t")
    assert got.count() == df0.count()


def test_sort_cols_survive_partitioned_write(spark, tiered, tmp_path):
    """sort_cols must order rows WITHIN each written file.  Regression:
    FileFormatWriter requires task rows ordered by the partitionBy
    columns and silently inserts its own sort — destroying a
    sortWithinPartitions that doesn't lead with them — so the r05 tier
    writes shipped insertion-ordered files while claiming (conv_id, ts)
    order (caught byte-identically in scripts/measure_write_trade.py)."""
    import pyarrow.parquet as pq

    df0, _ = tiered
    root = str(tmp_path / "sorted")
    CAT.write_partitioned(df0.repartition(8), root, "t",
                          sort_cols=("conv_id", "ts"))
    base = CAT.table_path(root, "t")
    n_files = 0
    for r, _, files in os.walk(base):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            n_files += 1
            t = pq.read_table(os.path.join(r, f), columns=["conv_id", "ts"])
            keys = list(zip(t.column("conv_id").to_pylist(),
                            t.column("ts").to_pylist()))
            assert keys == sorted(keys), f"unsorted rows in {r}/{f}"
    assert n_files > 0


@pytest.fixture(scope="module")
def staged(spark, transcripts, tmp_path_factory):
    """One ingest and one pattern stage into one output root."""
    out = str(tmp_path_factory.mktemp("staged"))
    run_pipeline(spark, transcripts, out, input_snapshot="c6", n_buckets=8)
    run_pattern_stage(spark, out, n_buckets=8, m=16, window="day", k=2)
    return out


def test_c6_stored_schema_equals_inferred(spark, staged):
    for t in DAG_TABLES:
        assert os.path.isfile(os.path.join(staged, t, CAT.SCHEMA_FILE)), t
        stored = CAT.read_table(spark, staged, t)
        inferred = spark.read.parquet(CAT.table_path(staged, t))
        assert stored.schema == inferred.schema, t
        assert _digest(stored) == _digest(inferred), t


def test_c6_read_table_runs_no_job_and_falls_back(spark, spark_jobs, staged, tmp_path):
    _, jobs = spark_jobs("c6_stored", lambda: [
        CAT.read_table(spark, staged, t).schema for t in DAG_TABLES])
    assert jobs == 0
    # the same table without its schema file: read by inference
    root = str(tmp_path)
    shutil.copytree(CAT.table_path(staged, "rollup_1h"), CAT.table_path(root, "rollup_1h"))
    os.remove(os.path.join(root, "rollup_1h", CAT.SCHEMA_FILE))
    df, jobs = spark_jobs("c6_inferred", lambda: CAT.read_table(spark, root, "rollup_1h"))
    assert jobs >= 1
    assert df.schema == CAT.read_table(spark, staged, "rollup_1h").schema
    assert _digest(df) == _digest(CAT.read_table(spark, staged, "rollup_1h"))


def test_c6_metrics_keep_every_jobs_columns(spark, staged):
    """The ingest and the pattern stage append metrics rows with different
    columns to one directory; both rows keep all of theirs."""
    rows = {r.job: r.asDict() for r in CheckpointStore(spark, staged).metrics().collect()}
    ingest, pattern = rows["rollup_pipeline"], rows["pattern_stage"]
    for k in ("wall_s", "turns", "units_total", "units_done", "units_skipped"):
        assert ingest.get(k) is not None, k
    assert ingest["turns"] > 0 and ingest["units_done"] > 0
    for k in ("pattern_wall_s", "mp_rows", "discord_rows", "regime_rows"):
        assert pattern.get(k) is not None, k
    assert pattern["mp_rows"] > 0


def test_c6_rewrite_with_changed_schema_reads_new_schema(spark, tiered):
    """A rewrite that drops a column and adds one replaces the stored
    schema, even where it rewrites only some partitions and files of the
    old schema remain."""
    df, root = tiered
    b = df.select("conv_bucket").first().conv_bucket
    changed = df.drop("role").withColumn("n_chars", F.length("conv_id"))
    CAT.write_partitioned(changed.filter(F.col("conv_bucket") == b), root, "turns")
    back = CAT.read_table(spark, root, "turns")
    assert back.columns == ["conv_id", "turn_idx", "ts", "n_chars", "conv_bucket", "ts_day"]
    assert back.count() == df.count()
    rewritten = back.filter(F.col("conv_bucket") == b)
    assert _digest(rewritten) == _digest(changed.filter(F.col("conv_bucket") == b))
    assert back.filter(F.col("conv_bucket") != b).filter(F.col("n_chars").isNotNull()).count() == 0


def test_c6_aborted_write_leaves_no_schema(spark, tiered):
    df, root = tiered
    path = CAT.table_path(root, "turns")
    assert os.path.isfile(os.path.join(path, CAT.SCHEMA_FILE))
    tgt = df.select("conv_id", "turn_idx").first()
    boom = (F.col("conv_id") == tgt.conv_id) & (F.col("turn_idx") == tgt.turn_idx)
    bad = df.withColumn("role", F.when(boom, F.raise_error(F.lit("boom"))).otherwise(F.col("role")))
    with pytest.raises(Exception, match="boom"):
        CAT.write_partitioned(bad, root, "turns")
    assert not os.path.exists(os.path.join(path, CAT.SCHEMA_FILE))
    back, inferred = CAT.read_table(spark, root, "turns"), spark.read.parquet(path)
    assert back.schema == inferred.schema
    assert _digest(back) == _digest(inferred) == _digest(df)


def test_c6_retention_of_every_partition_reads_empty(spark, tiered):
    """Retention that drops every partition leaves an empty table with the
    stored schema (inference has no file to read it from)."""
    _df, root = tiered
    schema = CAT.read_table(spark, root, "turns").schema
    assert CAT.drop_partitions_before(root, "turns", "2999-01-01") > 0
    back = CAT.read_table(spark, root, "turns")
    assert back.schema == schema
    assert back.count() == 0
