"""Measure where ``decode_chunks``' driver path stops paying off.

``operators/chunks.decode_chunks`` decodes at most
``DRIVER_DECODE_ROWS`` chunk rows on the driver and hands larger inputs
to a ``mapInPandas`` plan.  The driver path decodes in one Python
thread; the worker path spreads the decode over the cores but pays a
fixed cost per Python worker task, part of which is the
``importlib.invalidate_caches()`` in PySpark's worker set-up.  This
script measures both, so the cap can be set at the crossover.

Method: ``local[4]``; chunk tables of 1, 4, 16, 64, 256 and 1,024
full-day (1,440-point, one feature) chunk rows, stored as the engine
stores ``chunks_1m`` (``catalog.write_partitioned`` over
``(conv_bucket, ts_day)``, 8 buckets; 64 conversations × 16 days at the
largest size).  Each round times ``decode_chunks(read_table(...))
.collect()`` on every size with the cap forced above the input (driver)
and to 0 (worker: the probe job, then ``mapInPandas``), in an order that
alternates from round to round; 5 rounds.  CPU is the whole process
tree's (driver, JVM, Python workers; ``_scaling_job.CpuMeter``), wall
is ``perf_counter``.  Both paths' answers are compared on every run.
It also times ``importlib.invalidate_caches()`` inside Python workers.

Usage: python scripts/measure_decode_crossover.py [out.json]
       default scripts/DECODE_CROSSOVER_r08.json
"""

from __future__ import annotations

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
# Python workers import the package (the worker path's UDF)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

from _scaling_job import CpuMeter  # noqa: E402

CORES = 4
SIZES = (1, 4, 16, 64, 256, 1024)
ROUNDS = 5
N_CONVS, N_DAYS, POINTS = 64, 16, 1440
FORCE = {"driver": 1 << 30, "worker": 0}


def _invalidate_caches_probe(batches):
    import importlib
    import sys
    import time
    import zipimport

    import pandas as pd

    for _ in batches:
        c0, t0 = time.process_time(), time.perf_counter()
        importlib.invalidate_caches()
        yield pd.DataFrame({
            "cpu_s": [time.process_time() - c0],
            "wall_s": [time.perf_counter() - t0],
            "zipimporters": [sum(isinstance(v, zipimport.zipimporter)
                                 for v in sys.path_importer_cache.values())],
        })


def build_inputs(spark, root: str) -> None:
    """One chunk table per size, the first ``n`` (conversation, day)
    chunks of a 64 × 16-day 1m rollup of rounded random latencies."""
    import numpy as np
    import pandas as pd

    from more_pattern_extraction_spark.operators import chunks as C
    from more_pattern_extraction_spark.sources import catalog as CAT

    rng = np.random.default_rng(8)
    minutes = pd.date_range("2024-01-01", periods=N_DAYS * POINTS, freq="1min")
    r1m = pd.DataFrame({
        "conv_id": np.repeat([f"conv_{i:03d}" for i in range(N_CONVS)], len(minutes)),
        "bucket_start": np.tile(minutes.to_numpy(), N_CONVS),
        "latency_avg": np.round(rng.gamma(2.0, 0.6, N_CONVS * len(minutes)), 6),
    })
    enc = C.encode_chunks(spark.createDataFrame(r1m), ["latency_avg"], "1m")
    chunks = spark.createDataFrame(
        enc.toPandas().sort_values(["ts_bucket", "conv_id"]), C.CHUNK_SCHEMA)
    chunks = CAT.with_layout_cols(chunks, 8, time_col="ts_bucket").cache()
    order = [(r.conv_id, r.ts_bucket) for r in
             chunks.select("conv_id", "ts_bucket").orderBy("ts_bucket", "conv_id").collect()]
    for n in SIZES:
        keep = spark.createDataFrame(order[:n], "conv_id string, ts_bucket timestamp")
        CAT.write_partitioned(chunks.join(keep, ["conv_id", "ts_bucket"]), root,
                              f"chunks_{n}", sort_cols=("conv_id", "ts_bucket"))
    chunks.unpersist()


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        HERE, "DECODE_CROSSOVER_r08.json")
    meter = CpuMeter()
    meter.start()

    from more_pattern_extraction_spark.operators import chunks as C
    from more_pattern_extraction_spark.session import get_spark
    from more_pattern_extraction_spark.sources import catalog as CAT

    cap = C.DRIVER_DECODE_ROWS
    spark = get_spark("decode_crossover", cores=CORES, shuffle_partitions=CORES)
    root = tempfile.mkdtemp(prefix="decode_crossover_")
    build_inputs(spark, root)

    def run(path: str, n: int):
        C.DRIVER_DECODE_ROWS = FORCE[path]
        t0, c0 = time.perf_counter(), meter.read()
        rows = C.decode_chunks(CAT.read_table(spark, root, f"chunks_{n}")).collect()
        wall, cpu = time.perf_counter() - t0, meter.read() - c0
        assert len(rows) == n * POINTS, (path, n, len(rows))
        return wall, cpu, hash(tuple(sorted(map(tuple, rows))))

    for path in FORCE:  # warm the JVM's plans and the Python worker pool
        run(path, 1)

    probe = spark.range(CORES, numPartitions=CORES).mapInPandas(
        _invalidate_caches_probe, "cpu_s double, wall_s double, zipimporters int")
    invalidate = [r.asDict() for _ in range(ROUNDS) for r in probe.collect()]

    wall = {n: {p: [] for p in FORCE} for n in SIZES}
    cpu = {n: {p: [] for p in FORCE} for n in SIZES}
    for rnd in range(ROUNDS):
        paths = list(FORCE) if rnd % 2 == 0 else list(FORCE)[::-1]
        for n in SIZES:
            answers = set()
            for path in paths:
                w, c, digest = run(path, n)
                wall[n][path].append(round(w, 4))
                cpu[n][path].append(round(c, 3))
                answers.add(digest)
            assert len(answers) == 1, (rnd, n)
        print(f"round {rnd}: {json.dumps({n: cpu[n] for n in SIZES})}", file=sys.stderr)

    def med(xs):
        return round(statistics.median(xs), 4)

    sizes = {
        str(n): {
            "chunk_rows": n,
            "points": n * POINTS,
            "cpu_s_median": {p: med(cpu[n][p]) for p in FORCE},
            "wall_s_median": {p: med(wall[n][p]) for p in FORCE},
            "cpu_s_raw": cpu[n],
            "wall_s_raw": wall[n],
            "answers_equal": True,
        }
        for n in SIZES
    }

    def driver_wins_through(metric):
        """The largest size up to which the driver path wins at every size."""
        through = 0
        for n in SIZES:
            if sizes[str(n)][metric]["driver"] > sizes[str(n)][metric]["worker"]:
                break
            through = n
        return through

    result = {
        "design": ("local[4]; per round every size, both paths in an order alternating "
                   "by round; process-tree CPU and wall of decode_chunks(...).collect()"),
        "cores": CORES,
        "rounds": ROUNDS,
        "points_per_chunk_row": POINTS,
        "sizes": sizes,
        "driver_wins_through_rows": {"cpu_s": driver_wins_through("cpu_s_median"),
                                     "wall_s": driver_wins_through("wall_s_median")},
        "driver_decode_rows": cap,
        "worker_invalidate_caches": {
            "cpu_s_median": med([r["cpu_s"] for r in invalidate]),
            "cpu_s_raw": [round(r["cpu_s"], 4) for r in invalidate],
            "wall_s_median": med([r["wall_s"] for r in invalidate]),
            "zipimporters": sorted({r["zipimporters"] for r in invalidate}),
        },
    }
    spark.stop()
    meter.stop()
    shutil.rmtree(root)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "sizes"}))


if __name__ == "__main__":
    main()
