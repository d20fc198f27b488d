"""Physical-plan assertions (SURVEY §4): the 100 TB contract is enforced
at the plan level — predicate pushdown reaching the parquet scan, column
pruning, broadcast joins for small sides, the chunk-encode partitioning,
and NO Python eval nodes in the relational hot paths.  The registry's
queries over the engine's tier operators also meet their DuckDB oracles."""

import contextlib
import io
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.plans import partitioning as P

SF = "/root/testdata/sf0.001"


def plan_str(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_rollup_filter_pushdown_and_pruning(spark, events):
    """Filters reach the scan (PushedFilters) and unused columns (props,
    event_id) are pruned from ReadSchema."""
    r1m = (
        events.filter(F.col("ts") < "2024-01-02")
        .groupBy(
            F.col("user_id").alias("conv_key"),
            F.date_trunc("minute", "ts").alias("bucket_start"),
        )
        .agg(F.avg("value").alias("latency_avg"))
    )
    p = plan_str(r1m)
    assert "PushedFilters" in p and "LessThan(ts" in p
    schema_line = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in schema_line and "event_id" not in schema_line
    assert "EvalPython" not in p  # pure JVM path


def test_rollup_partial_aggregation(spark, events):
    """The rollup aggregates map-side before the shuffle (partial
    HashAggregate under the Exchange)."""
    r = events.groupBy("user_id").agg(F.sum("value"))
    p = plan_str(r, mode="simple")
    # partial agg appears below the exchange: two HashAggregates
    assert p.count("HashAggregate") >= 2 and "Exchange hashpartitioning" in p


def test_interval_mask_broadcasts_small_side(spark, events):
    from more_pattern_extraction_spark.operators import matrix_profile as MP
    from more_pattern_extraction_spark.operators import motifs as MO

    series = events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("bucket_start"),
        F.col("value").alias("latency_avg_filled"),
    )
    intervals = events.filter(F.col("event_type") == "error").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    mask = MO.interval_mask(MP.with_positions(series, "bucket_start"), intervals)
    p = plan_str(mask, mode="simple")
    assert "Broadcast" in p  # range join against the broadcast label side


def test_cosine_topk_broadcasts_queries(spark):
    from more_pattern_extraction_spark.operators import similarity_search as SS

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    p = plan_str(SS.cosine_topk(emb, q, k=3), mode="simple")
    assert "Broadcast" in p  # corpus side never shuffles


def test_chunk_encode_partitioning_and_sort(spark, events):
    """encode_chunks repartitions by (conv_id, ts_bucket) and sorts within
    partitions — the skew-safe keying is visible in the plan."""
    from more_pattern_extraction_spark.operators import chunks as CH

    r1m = events.groupBy(
        F.col("user_id").cast("string").alias("conv_id"),
        F.date_trunc("minute", "ts").alias("bucket_start"),
    ).agg(F.avg("value").alias("latency_avg"))
    p = plan_str(CH.encode_chunks(r1m, ["latency_avg"], "1m"), mode="simple")
    assert "hashpartitioning(conv_id" in p and "ts_bucket" in p
    assert "Sort [conv_id" in p and "bucket_start" in p
    assert "MapInPandas" in p or "mapInPandas" in p.lower()


def test_gapfill_is_pure_catalyst(spark, events):
    from more_pattern_extraction_spark.operators import gapfill as G

    r1m = events.groupBy(
        F.col("user_id").cast("string").alias("conv_id"),
        F.date_trunc("minute", "ts").alias("bucket_start"),
    ).agg(
        F.count(F.lit(1)).alias("turn_cnt"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("tool_call_cnt"),
        F.sum("value").alias("latency_sum"),
        F.count("value").alias("latency_cnt"),
        F.avg("value").alias("latency_avg"),
    )
    p = plan_str(G.gap_fill_rollup(r1m, "1m"), mode="simple")
    assert "EvalPython" not in p and "InPandas" not in p
    assert "InMemoryTableScan" not in p  # nothing cached


def test_gapfill_dense_grid_generated_once(spark, events):
    """Run-generation lock: gap-fill generates the minute grid exactly
    once, after every window.  The windows sort only the sparse rollup
    rows; a window above the grid Generate would sort the dense grid
    (one task per conversation, the skew hazard), and a second grid
    Generate would build the grid twice.  PLANS.md §Gap-fill."""
    from more_pattern_extraction_spark.operators import gapfill as G

    r1m = events.groupBy(
        F.col("user_id").cast("string").alias("conv_id"),
        F.date_trunc("minute", "ts").alias("bucket_start"),
    ).agg(
        F.count(F.lit(1)).alias("turn_cnt"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("tool_call_cnt"),
        F.sum("value").alias("latency_sum"),
        F.count("value").alias("latency_cnt"),
        F.avg("value").alias("latency_avg"),
    )
    p = plan_str(G.gap_fill_rollup(r1m, "1m"), mode="simple")
    lines = p.splitlines()
    grid = [i for i, ln in enumerate(lines)
            if "Generate explode" in ln and ("'60' SECOND" in ln or "60 seconds" in ln)]
    assert len(grid) == 1, p  # grid explode computes once, ever
    # the plan prints top-down: nothing above the grid Generate is a Window
    assert not any("Window" in ln for ln in lines[:grid[0]]), p
    assert any("Window" in ln for ln in lines[grid[0]:]), p


def test_feature_rollup_shuffles_raw_turns_once(spark, events, monkeypatch):
    """The features→rollup invariant, updated for the segmented lag
    (round 6).  The OLD one-exchange plan (lag window on conv_id, agg
    reusing the conv clustering) shuffled raw turns once but serialized a
    hot conversation through BOTH the window sort and the entire final
    aggregation — the skew harness measured the stage at 1.3 effective
    cores on 8.  The new shape must hold:

      * raw turns still shuffle EXACTLY ONCE, now on (conv, _blk) so a
        hot conversation spreads across blocks;
      * the block summary joins in as a BroadcastExchange (block rows,
        not turns) at this size;
      * the rollup aggregate is map-side partial BEFORE its exchange, so
        only (conv, bucket) rows cross the wire — at 10^12 turns the
        second exchange carries ~1/60th of the first;
      * still zero Python nodes."""
    from more_pattern_extraction_spark.operators import rollup as R

    t = events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"), F.lit("x").alias("text"),
        F.lit(None).cast("string").alias("tool"), "ts",
    )
    monkeypatch.setattr(P, "HOT_KEY_ROWS", 1)  # every input takes the segmented lag
    p = plan_str(R.rollup_from_raw(R.turn_features(t), "1m"), mode="simple")
    # raw-volume exchanges: the ONE carrying turn rows partitions on
    # (conv_id, _blk); the other hashpartitioning exchanges carry
    # block-summary or partial-aggregated bucket rows only
    assert p.count("Exchange hashpartitioning") == 4, p
    assert len([ln for ln in p.splitlines()
                if "Exchange hashpartitioning" in ln and "_blk#" in ln]) == 1, p
    assert "BroadcastExchange" in p, p          # summary joins broadcast
    assert "partial_count" in p, p              # map-side combine precedes
    assert "EvalPython" not in p

    # the single-window form keeps its one-exchange shape
    monkeypatch.setattr(P, "HOT_KEY_ROWS", 10**12)
    p0 = plan_str(R.rollup_from_raw(R.turn_features(t), "1m"), mode="simple")
    assert p0.count("Exchange hashpartitioning") == 1, p0


def test_sketch_chain_no_raw_value_shuffle_no_python(spark, events, monkeypatch):
    """The full sketch path (build at 1m → cascade to 1h → quantile)
    must keep bin counts combining map-side — every exchange after the
    segmented-lag feature shuffle carries (conv, bucket, bin, partial
    count) or block-summary rows, never raw turn values — and zero
    Python nodes.  (Pre-round-6 this asserted ONE exchange total; the
    segmented lag deliberately trades that for hot-conversation spread —
    see test_feature_rollup_shuffles_raw_turns_once.)"""
    from more_pattern_extraction_spark.operators import rollup as R
    from more_pattern_extraction_spark.operators import sketch as SK

    t = events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"), F.lit("x").alias("text"),
        F.lit(None).cast("string").alias("tool"), "ts",
    )
    monkeypatch.setattr(P, "HOT_KEY_ROWS", 1)  # every input takes the segmented lag
    feats = R.turn_features(t)
    # the cascade's plan, as the tier DAG runs it: sketch_cascade itself
    # merges an input this small on the driver
    sk = SK.sketch_quantile(SK._cascade_plan(SK.sketch_from_raw(feats, "1m"), "1h"))
    p = plan_str(sk, mode="simple")
    # one raw-turn exchange (the segmented-lag window), everything else
    # pre-reduced: partial bin counts before their exchange
    assert len([ln for ln in p.splitlines()
                if "Exchange hashpartitioning" in ln and "_blk#" in ln]) == 1, p
    assert "partial_count" in p, p
    assert "EvalPython" not in p
    # the single-window form retains the original one-exchange shape
    monkeypatch.setattr(P, "HOT_KEY_ROWS", 10**12)
    sk0 = SK.sketch_quantile(SK._cascade_plan(
        SK.sketch_from_raw(R.turn_features(t), "1m"), "1h"))
    assert plan_str(sk0, mode="simple").count("Exchange hashpartitioning") == 1


def test_repair_scoped_scan_partition_prunes(spark, transcripts, tmp_path):
    """plans/repair.scoped_raw on a cataloged transcript table must reach
    the file index as a PartitionFilter on the STORED conv_bucket column
    — a filter on the recomputed pmod(xxhash64(..)) expression would scan
    every bucket."""
    from more_pattern_extraction_spark.plans.repair import scoped_raw
    from more_pattern_extraction_spark.sources import catalog as CAT

    root = str(tmp_path)
    CAT.write_partitioned(CAT.with_layout_cols(transcripts, 8), root, "transcripts")
    raw = CAT.read_table(spark, root, "transcripts")
    plan = scoped_raw(raw, [2, 5], 8)._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "conv_bucket" in m.group(1), m.group(1)


# registry queries whose rows come from the engine's tier and pattern
# operators: operators/rollup (rollup_from_raw, cascade),
# gapfill.gap_fill_rollup, distinct.kmv_from_rollup,
# stats.regression_scores and matrix_profile.window_patterns
ENGINE_QUERIES = [
    "rollup_1m", "rollup_1h_cascade", "rollup_1d_cascade", "rollup_5m_cascade",
    "rollup_retention", "gapfill_locf_1m", "gapfill_interp_1m", "chunk_roundtrip",
    "score_metrics", "distinct_convs_kmv_1h", "distinct_convs_kmv_1d",
    "distinct_convs_kmv_24h", "distinct_convs_kmv_churn", "discord_discovery",
    "fluss_regimes",
]


@pytest.mark.parametrize("name", ENGINE_QUERIES)
def test_engine_backed_query_equals_oracle(spark, name):
    """The query returns its oracle's rows (``scripts/check_oracles.py``'s
    arrow-level comparator: bit-equal floats, NULL masks, dtype families),
    and the unused tier p95 (an exact ``percentile``) is pruned from its
    plan."""
    import duckdb

    scripts = str(Path(__file__).resolve().parents[1] / "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from check_oracles import compare

    from more_pattern_extraction_spark.plans import entry as PE

    df = PE.QUERIES[name](spark, SF)
    assert "percentile" not in plan_str(df, mode="simple")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    assert compare(name, df.toArrow(), con.execute(PE.ORACLES[name]).arrow()) == []
