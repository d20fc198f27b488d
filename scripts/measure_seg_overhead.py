"""Measure the segmented-lag skew-insurance premium on UNIFORM data.

``turn_features``' segmented lag partitions the window on
``(conv_id, turn_idx div HOT_KEY_ROWS)`` so a hot conversation's sort
spreads across cores, at the price of one extra column-pruned scan of
raw turns (the per-block carry summary) plus a join probe per row.  The
skew win is measured (scripts/SKEW_SCALING_r06.json vs _preseg.json);
this script measures the premium paid on NON-skew data — the dense north
input where every conversation fits in one block and the carry is never
consulted.

Each variant is picked through the one hot-key gate,
``plans.partitioning.HOT_KEY_ROWS``.  It is also the lag's block width,
so the segmented variant sets it to the input's largest ``turn_idx``:
the smallest value that still selects the segmented form, which keeps
every conversation in one block except the single row at that index.
The plain variant sets it above the input size.

Method: 8 pinned cores, the north 100M-turn input, interleaved
A/B/A/B/A/B drains (seg vs unsegmented) so box drift hits both variants
symmetrically, min-of-3 per variant, checksum equality asserted between
variants, GEMM control before/after.

Usage: python scripts/measure_seg_overhead.py [out.json] [N_CONVS BASE_TURNS]
       defaults scripts/SEG_OVERHEAD_r06.json 4000 20000 (the north input)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/scripts")

CORES = 8
os.sched_setaffinity(0, set(range(CORES)))
os.environ.setdefault("MPE_DRIVER_MEM", f"{2 * CORES}g")

from _scaling_job import CpuMeter  # noqa: E402
from bench_scaling import ensure_input, input_path  # noqa: E402
from north_only_execution import hw_control_one  # noqa: E402



def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "scripts/SEG_OVERHEAD_r06.json"
    n_convs, base_turns = (int(a) for a in sys.argv[2:4]) if len(sys.argv) > 3 else (4000, 20000)
    ensure_input(n_convs, base_turns)

    ctl_before = hw_control_one(CORES)

    meter = CpuMeter()
    meter.start()
    from pyspark.sql import functions as F

    from more_pattern_extraction_spark.operators import rollup as R
    from more_pattern_extraction_spark.plans import partitioning as P
    from more_pattern_extraction_spark.session import drain_checksum, get_spark

    spark = get_spark("seg_overhead", cores=CORES, shuffle_partitions=CORES * 8)
    turns = spark.read.parquet(input_path(n_convs, base_turns))
    n_turns = turns.count()  # warm scan
    max_idx = turns.agg(F.max("turn_idx")).first()[0]
    spark.range(CORES * 4, numPartitions=CORES).mapInPandas(
        lambda it: it, "id long"
    ).count()  # warm python workers

    variants = {"segmented": max_idx, "unsegmented": n_turns + 1}
    walls: dict[str, list[float]] = {k: [] for k in variants}
    cpus: dict[str, list[float]] = {k: [] for k in variants}
    checksums: dict[str, str] = {}
    for rep in range(3):
        for name, hot_key_rows in variants.items():
            P.HOT_KEY_ROWS = hot_key_rows
            df = R.rollup_from_raw(R.turn_features(turns), "1m")
            t0, c0 = time.time(), meter.read()
            d = drain_checksum(df)
            walls[name].append(round(time.time() - t0, 2))
            cpus[name].append(round(meter.read() - c0, 1))
            checksums[name] = d.checksum
    assert checksums["segmented"] == checksums["unsegmented"], checksums

    ctl_after = hw_control_one(CORES)
    seg_w, uns_w = min(walls["segmented"]), min(walls["unsegmented"])
    result = {
        "cores": CORES,
        "turns": n_turns,
        "walls_s": walls,
        "cpu_s": cpus,
        "hot_key_rows": variants,
        "min_wall_s": {"segmented": seg_w, "unsegmented": uns_w},
        "turns_per_s": {
            "segmented": round(n_turns / seg_w, 1),
            "unsegmented": round(n_turns / uns_w, 1),
        },
        "premium_wall_frac": round(seg_w / uns_w - 1, 4),
        "premium_cpu_frac": round(
            min(cpus["segmented"]) / min(cpus["unsegmented"]) - 1, 4
        ),
        "checksum_equal": True,
        "hw_control_tasks_per_s": {
            "before": round(ctl_before, 2),
            "after": round(ctl_after, 2),
        },
    }
    meter.stop()
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
