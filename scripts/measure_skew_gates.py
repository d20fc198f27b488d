"""Measure the two forms of the hot-key window family
(asof/sessionize/funnel) on a skewed input.

Builds a skewed transcript table (one conversation owns most rows, spread
over ~35 days) and times the plain single-window forms against the
segmented forms, with a checksum equality check between them.  Each form
is picked through the one hot-key gate, ``plans.partitioning.HOT_KEY_ROWS``:
0 selects the segmented form, a value above the input size the plain one.

The shape mirrors scripts/skew_scaling.py's 91 %-hot input at a size that
runs in minutes.

Usage: python scripts/measure_skew_gates.py [out.json]
       default scripts/SKEW_GATE_r07.json; env MPE_SKEW_HOT_ROWS (hot
       conversation rows, default 2500000), MPE_SKEW_COLD_CONVS (default
       20000), MPE_SKEW_REPS (default 3), SPARK_GRAFT_CPUS (default 32)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from more_pattern_extraction_spark.session import drain_checksum, get_spark


def build(spark, hot_rows: int, cold_convs: int, cold_rows: int):
    """Deterministic turn table: one hot conv + many cold convs."""
    hot = spark.range(hot_rows).select(
        F.lit("conv_hot").alias("conv_id"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id") * 1.3)
        ).alias("ts"),
        F.col("id").alias("event_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("buy"), F.lit("other")),
            (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
    )
    cold = spark.range(cold_convs * cold_rows).select(
        F.concat(F.lit("c"), (F.col("id") % cold_convs).cast("string")).alias(
            "conv_id"
        ),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=(F.col("id") / cold_convs) * 977.0)
        ).alias("ts"),
        F.col("id").alias("event_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("buy"), F.lit("other")),
            (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
    )
    return hot.unionByName(cold)


def main() -> None:
    from more_pattern_extraction_spark.operators.asof import asof_join
    from more_pattern_extraction_spark.operators.funnel import funnel_steps
    from more_pattern_extraction_spark.operators.sessions import sessionize
    from more_pattern_extraction_spark.plans import partitioning as P

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("skew_gates", cores=cpus, shuffle_partitions=cpus)

    hot_rows = int(os.environ.get("MPE_SKEW_HOT_ROWS", "2500000"))
    cold_convs = int(os.environ.get("MPE_SKEW_COLD_CONVS", "20000"))
    turns = build(spark, hot_rows, cold_convs=cold_convs, cold_rows=25)
    turns = turns.localCheckpoint()  # measure the operators, not generation
    n = turns.count()
    hot_frac = turns.filter(F.col("conv_id") == "conv_hot").count() / n

    right = (
        turns.filter(F.pmod(F.xxhash64("event_id"), F.lit(500)) == 0)
        .select("conv_id", "ts", F.col("event_id").alias("state_val"))
    )
    right = right.localCheckpoint()

    steps = [
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "buy",
    ]

    thunks = {
        "asof": lambda: asof_join(
            turns, right, on="conv_id", payload_cols=["state_val"]
        ),
        "sessionize": lambda: sessionize(turns, gap_s=1800, tie_cols=("event_id",)),
        "funnel": lambda: funnel_steps(turns, steps, within_s=3600),
    }

    reps = int(os.environ.get("MPE_SKEW_REPS", "3"))
    out = {"rows": n, "hot_frac": round(hot_frac, 4), "cpus": cpus,
           "hot_rows": hot_rows, "reps": reps, "results": {}}
    checks = {}
    # interleave modes per rep (first rep is cold JVM/codegen for both);
    # the published comparison uses per-mode minima
    for rep in range(reps):
        # plain: above any witness (asof counts left + right rows)
        for mode, hot_key_rows in [("plain", 2 * n + 1), ("segmented", 0)]:
            P.HOT_KEY_ROWS = hot_key_rows
            for name, thunk in thunks.items():
                spark.sparkContext.setJobDescription(f"{name} {mode} rep{rep}")
                t0 = time.time()
                r = drain_checksum(thunk())
                dt = round(time.time() - t0, 2)
                out["results"].setdefault(name, {}).setdefault(mode, []).append(dt)
                checks.setdefault(name, set()).add((r.rows, r.checksum))
                print(f"{name} {mode} rep{rep}: {dt}s rows={r.rows}", flush=True)
    out["checksums_equal"] = {k: len(v) == 1 for k, v in checks.items()}
    out["speedup_min"] = {
        k: round(min(v["plain"]) / min(v["segmented"]), 2)
        for k, v in out["results"].items()
    }
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SKEW_GATE_r07.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
