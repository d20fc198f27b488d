"""Measure where the driver merge of ``sketch_cascade`` and
``kmv_cascade`` stops paying off.

Both cascades collect at most ``local.DRIVER_MERGE_ENTRIES + 1``
exploded entries in one probe job and, within the cap, merge them on
the driver into a local table; past it they run their Spark plan (an
exchange and an aggregate).  The driver path merges in one Python
thread and has Spark parse one SQL ``VALUES`` relation; the plan path
spreads the merge over the cores but pays Spark's fixed cost per plan
and per exchange.  This script measures both, so the cap can be set at
the crossover.

Method: ``local[4]``; for each cascade, tables of 64, 256, 1,024, 4,096,
16,384 and 65,536 exploded entries in rows of up to 512 entries, stored
as the engine stores its tiers (``catalog.write_partitioned`` over
``(conv_bucket, ts_day)``, 8 buckets).  Sketch rows are hourly maps of
distinct bins with random counts, 16 conversations, merged to ``1d``
(the dashboard p95 read); KMV rows are one-minute partials of sorted md5
hashes drawn from a pool of 1,024, merged to ``1d`` (the distinct-count
read).  Each round times ``sketch_quantile(sketch_cascade(...))
.collect()`` and ``kmv_estimate(kmv_cascade(...)).collect()`` on every
size with the cap forced above the input (driver) and to 0 (plan: the
probe job, then the plan), in an order that alternates from round to
round; 5 rounds.  CPU is the whole process tree's (driver, JVM;
``_scaling_job.CpuMeter``), wall is ``perf_counter``.  Both paths'
answers are compared on every run.

Usage: python scripts/measure_merge_crossover.py [out.json]
       default scripts/MERGE_CROSSOVER_r09.json
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

from _scaling_job import CpuMeter  # noqa: E402

CORES = 4
SIZES = (64, 256, 1024, 4096, 16384, 65536)
ROW_ENTRIES = 512
ROUNDS = 5
N_CONVS = 16
FORCE = {"driver": 1 << 30, "plan": 0}
T0 = dt.datetime(2024, 1, 1)


def _row_sizes(n: int) -> list[int]:
    """``n`` entries in rows of up to ``ROW_ENTRIES``."""
    return [min(ROW_ENTRIES, n - i) for i in range(0, n, ROW_ENTRIES)]


def build_inputs(spark, root: str) -> None:
    """One sketch table and one KMV table per size."""
    import numpy as np

    from more_pattern_extraction_spark.sources import catalog as CAT

    rng = np.random.default_rng(9)
    pool = sorted(hashlib.md5(f"conv_{i}".encode()).hexdigest() for i in range(2 * ROW_ENTRIES))
    for n in SIZES:
        sketches, partials = [], []
        for i, m in enumerate(_row_sizes(n)):
            bins = np.sort(rng.choice(512, size=m, replace=False))
            counts = rng.integers(1, 50, size=m)
            sketches.append((f"conv_{i % N_CONVS:02d}", T0 + dt.timedelta(hours=i // N_CONVS),
                             dict(zip(bins.tolist(), counts.tolist()))))
            picks = np.sort(rng.choice(len(pool), size=m, replace=False))
            partials.append((i % 8, T0 + dt.timedelta(minutes=i), [pool[j] for j in picks]))
        sk = spark.createDataFrame(
            sketches, "conv_id string, bucket_start timestamp, latency_sketch map<int, bigint>")
        CAT.write_partitioned(CAT.with_layout_cols(sk, 8), root, f"sketch_{n}",
                              sort_cols=("conv_id", "bucket_start"))
        kmv = spark.createDataFrame(
            partials, "conv_bucket int, bucket_start timestamp, conv_kmv array<string>")
        CAT.write_partitioned(CAT.with_layout_cols(kmv, 8), root, f"kmv_{n}",
                              sort_cols=("bucket_start",))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        HERE, "MERGE_CROSSOVER_r09.json")
    meter = CpuMeter()
    meter.start()

    from more_pattern_extraction_spark.operators import distinct as DK
    from more_pattern_extraction_spark.operators import local as LOCAL
    from more_pattern_extraction_spark.operators import sketch as SK
    from more_pattern_extraction_spark.session import get_spark
    from more_pattern_extraction_spark.sources import catalog as CAT

    cap = LOCAL.DRIVER_MERGE_ENTRIES
    spark = get_spark("merge_crossover", cores=CORES, shuffle_partitions=CORES)
    root = tempfile.mkdtemp(prefix="merge_crossover_")
    build_inputs(spark, root)

    reads = {
        "sketch": lambda n: SK.sketch_quantile(SK.sketch_cascade(
            CAT.read_table(spark, root, f"sketch_{n}")
            .select("conv_id", "bucket_start", "latency_sketch"), "1d")),
        "kmv": lambda n: DK.kmv_estimate(DK.kmv_cascade(
            CAT.read_table(spark, root, f"kmv_{n}"), "1d", from_tier="1m")),
    }

    def run(cascade: str, path: str, n: int):
        LOCAL.DRIVER_MERGE_ENTRIES = FORCE[path]
        t0, c0 = time.perf_counter(), meter.read()
        rows = reads[cascade](n).collect()
        wall, cpu = time.perf_counter() - t0, meter.read() - c0
        assert rows, (cascade, path, n)
        canon = sorted(repr(tuple(sorted(v.items()) if isinstance(v, dict) else v for v in r))
                       for r in rows)
        return wall, cpu, hash(tuple(canon))

    for cascade in reads:  # warm the JVM's plans
        for path in FORCE:
            run(cascade, path, SIZES[0])

    wall = {c: {n: {p: [] for p in FORCE} for n in SIZES} for c in reads}
    cpu = {c: {n: {p: [] for p in FORCE} for n in SIZES} for c in reads}
    for rnd in range(ROUNDS):
        paths = list(FORCE) if rnd % 2 == 0 else list(FORCE)[::-1]
        for cascade in reads:
            for n in SIZES:
                answers = set()
                for path in paths:
                    w, c, digest = run(cascade, path, n)
                    wall[cascade][n][path].append(round(w, 4))
                    cpu[cascade][n][path].append(round(c, 3))
                    answers.add(digest)
                assert len(answers) == 1, (rnd, cascade, n)
        print(f"round {rnd}: {json.dumps(cpu)}", file=sys.stderr)

    def med(xs):
        return round(statistics.median(xs), 4)

    result = {
        "design": ("local[4]; per round every size of each cascade, both paths in an order "
                   "alternating by round; process-tree CPU and wall of "
                   "sketch_quantile(sketch_cascade(...)).collect() and "
                   "kmv_estimate(kmv_cascade(...)).collect(), to 1d"),
        "cores": CORES,
        "rounds": ROUNDS,
        "entries_per_row_max": ROW_ENTRIES,
        "driver_merge_entries": cap,
        "cascades": {},
    }
    for cascade in reads:
        sizes = {
            str(n): {
                "entries": n,
                "rows": len(_row_sizes(n)),
                "cpu_s_median": {p: med(cpu[cascade][n][p]) for p in FORCE},
                "wall_s_median": {p: med(wall[cascade][n][p]) for p in FORCE},
                "cpu_s_raw": cpu[cascade][n],
                "wall_s_raw": wall[cascade][n],
                "answers_equal": True,
            }
            for n in SIZES
        }

        def driver_wins_through(metric, sizes=sizes):
            """The largest size up to which the driver path wins at every size."""
            through = 0
            for n in SIZES:
                if sizes[str(n)][metric]["driver"] > sizes[str(n)][metric]["plan"]:
                    break
                through = n
            return through

        result["cascades"][cascade] = {
            "sizes": sizes,
            "driver_wins_through_entries": {"cpu_s": driver_wins_through("cpu_s_median"),
                                            "wall_s": driver_wins_through("wall_s_median")},
        }
    spark.stop()
    meter.stop()
    shutil.rmtree(root)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({c: {n: (v["cpu_s_median"], v["wall_s_median"])
                          for n, v in r["sizes"].items()}
                      for c, r in result["cascades"].items()}))
    print(json.dumps({c: r["driver_wins_through_entries"]
                      for c, r in result["cascades"].items()}))


if __name__ == "__main__":
    main()
