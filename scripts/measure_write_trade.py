"""Measure the zstd + sortWithinPartitions tier-write trade in isolation
(VERDICT r05 "next round" #3): commit 1f08031 made ``write_partitioned``
default to zstd and the pipeline sort tier files by (conv_id, bucket),
shipped on the standard 100 TB argument (smaller files, better columnar
encoding, range-scan locality) but never measured.  This script prices
the trade on the pipeline's own rollup_1m tier shape (sketch map column
included) at a size where codec cost is visible (~2 M turns → ~0.4 M
bucket rows).

Design: the tier DataFrame is staged to parquet ONCE, then each (codec,
sort) config is written/scanned from that identical staged input — so
only the write path varies.  Configs are interleaved inside each rep
(the BENCH_AB lesson: this box drifts ±30 % within a window, so
same-window sequential blocks mislead), with a settle gate + pinned GEMM
control per rep.  Per config we record: write wall, bytes on disk, file
count, full-scan drain wall, range-scan (single conv, partition-pruned +
row-group-skippable) drain wall, and the full-scan checksum (must be
identical across all four configs — the trade must be value-neutral).

Usage:  python scripts/measure_write_trade.py [REPS] [OUT_JSON]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_ab import gemm_control, settle  # noqa: E402

ROOT = "/tmp/mpe_write_trade"
CONFIGS = [
    ("snappy", ()),
    ("snappy", ("conv_id", "bucket_start")),
    ("zstd", ()),
    ("zstd", ("conv_id", "bucket_start")),
]


def cfg_name(codec: str, sort_cols: tuple) -> str:
    return f"{codec}_{'sorted' if sort_cols else 'unsorted'}"


def drainable(df):
    """xxhash64 rejects MAP columns (map iteration order is unhashable);
    project the sketch map to sorted-entry JSON so the drain still reads
    and materializes every byte of it, deterministically."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = []
    for fld in df.schema.fields:
        if isinstance(fld.dataType, MapType):
            cols.append(F.to_json(
                F.array_sort(F.map_entries(F.col(fld.name)))).alias(fld.name))
        else:
            cols.append(F.col(fld.name))
    return df.select(*cols)


def du_bytes(path: str) -> int:
    out = subprocess.run(["du", "-sb", path], capture_output=True, text=True)
    return int(out.stdout.split()[0])


def data_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _r, _d, files in os.walk(path) for f in files)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    out_path = sys.argv[2] if len(sys.argv) > 2 else "scripts/WRITE_TRADE_r06.json"

    from more_pattern_extraction_spark.operators import rollup as R
    from more_pattern_extraction_spark.operators import sketch as SK
    from more_pattern_extraction_spark.session import drain_checksum, get_spark
    from more_pattern_extraction_spark.sources import catalog as CAT
    from more_pattern_extraction_spark.sources.transcripts import generate_transcripts

    spark = get_spark("write_trade", cores=32, shuffle_partitions=32)
    os.makedirs(ROOT, exist_ok=True)

    # Stage the pipeline-shaped 1m tier once: rollup + sketch map + layout
    # cols, exactly what plans/pipeline.py persists.
    staged = f"{ROOT}/staged_r1m"
    if not os.path.exists(staged + "/_SUCCESS"):
        turns = generate_transcripts(
            spark, n_convs=8000, base_turns=250, hot_convs=4, hot_mult=5,
            gap_max_s=120, long_gaps=False,
        )
        feats = R.turn_features(turns)
        r1m = SK.attach_sketch_p95(
            R.rollup_from_raw(feats, "1m"),
            SK.sketch_from_raw(feats, "1m"),
            keep_sketch=True,
        )
        CAT.with_layout_cols(r1m, 16).write.mode("overwrite").parquet(staged)
    tier = spark.read.parquet(staged)
    n_rows = tier.count()
    # one conv that exists, for the range scan
    probe_conv = tier.select("conv_id").orderBy("conv_id").first()[0]

    results: dict[str, dict] = {
        cfg_name(c, s): {"write_s": [], "full_scan_s": [], "range_scan_s": [],
                         "bytes": None, "files": None, "checksum": None}
        for c, s in CONFIGS
    }
    controls, gates = [], []

    for rep in range(reps):
        gates.append(settle())
        controls.append(gemm_control())
        for codec, sort_cols in CONFIGS:
            name = cfg_name(codec, sort_cols)
            tbl = f"tier_{name}"
            t0 = time.time()
            CAT.write_partitioned(tier, ROOT, tbl, compression=codec,
                                  sort_cols=sort_cols)
            results[name]["write_s"].append(round(time.time() - t0, 3))
            results[name]["bytes"] = du_bytes(CAT.table_path(ROOT, tbl))
            results[name]["files"] = data_files(CAT.table_path(ROOT, tbl))
            back = CAT.read_table(spark, ROOT, tbl)
            t0 = time.time()
            d = drain_checksum(drainable(back))
            results[name]["full_scan_s"].append(round(time.time() - t0, 3))
            results[name]["checksum"] = d.checksum
            t0 = time.time()
            drain_checksum(drainable(back.filter(back.conv_id == probe_conv)))
            results[name]["range_scan_s"].append(round(time.time() - t0, 3))
        print(json.dumps({"rep": rep, "control": controls[-1],
                          **{n: results[n]["write_s"][-1] for n in results}}),
              file=sys.stderr, flush=True)

    checks = {n: r["checksum"] for n, r in results.items()}
    value_neutral = len(set(checks.values())) == 1
    summary = {}
    for n, r in results.items():
        summary[n] = {
            "write_s_median": round(statistics.median(r["write_s"]), 3),
            "full_scan_s_median": round(statistics.median(r["full_scan_s"]), 3),
            "range_scan_s_median": round(statistics.median(r["range_scan_s"]), 3),
            "bytes": r["bytes"],
            "files": r["files"],
        }
    base = summary["snappy_unsorted"]
    for n, s in summary.items():
        s["bytes_vs_snappy_unsorted"] = round(s["bytes"] / base["bytes"] - 1, 3)
        s["write_vs_snappy_unsorted"] = round(
            s["write_s_median"] / base["write_s_median"] - 1, 3)

    out = {
        "design": "interleaved per-rep configs, settle-gated, per-rep GEMM control",
        "tier_rows": n_rows,
        "reps": reps,
        "value_neutral_checksums": value_neutral,
        "checksums": checks,
        "summary": summary,
        "controls_per_rep": controls,
        "gates_per_rep": gates,
        "raw": results,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"value_neutral": value_neutral, "summary": summary}, indent=1))
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
