#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how far each metric spreads.

    python3 perfbench/spread.py --workload late_repair --seeds 1-10 [--repeat 1] [--out FILE]

Runs ``perfbench/run.py`` once per seed, one run at a time, from the root
of the checkout.  For every end-to-end metric of BENCHMARK.json it prints
the median over the seeds and the spread: the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound.  ``--repeat N`` runs the first N seeds
a second time and checks that their exact counts (storage bytes, files,
repair counts, table digests) repeat bit for bit.  ``--out`` writes every
run's result and info lines as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    rec = {"seed": seed, "rc": p.returncode, "wall_s": time.perf_counter() - t0}
    try:
        rec["info"], rec["result"] = json.loads(lines[-2]), json.loads(lines[-1])
    except (IndexError, ValueError):
        rec["stderr"] = p.stderr[-3000:]
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    runs = []
    for seed in args.seeds + args.seeds[:args.repeat]:
        rec = run(args.workload, seed, spec["run_seconds"], args.trace)
        runs.append(rec)
        res = rec.get("result")
        short = {k: round(v["value"], 4) for k, v in res["metrics"].items()} if res and not args.trace else ""
        print(f"{args.workload} seed {seed} rc {rec['rc']} wall {rec['wall_s']:.1f}s "
              f"correct {res and res['correct']} {short}", flush=True)

    ok = all(r["rc"] == 0 and r.get("result", {}).get("correct") for r in runs)
    first = {}
    for r in runs:
        if "info" not in r:
            continue
        counts = r["info"]["exact_counts"]
        if r["seed"] in first and first[r["seed"]] != counts:
            print(f"exact counts of seed {r['seed']} moved: {first[r['seed']]} -> {counts}")
            ok = False
        first.setdefault(r["seed"], counts)

    summary = {}
    if not args.trace:
        once = {}
        for r in runs:
            once.setdefault(r["seed"], r)
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in once.values()
                    if m["name"] in r.get("result", {}).get("metrics", {})]
            if len(vals) < 2:
                continue
            q = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q[2] - q[0]) / med
            summary[m["name"]] = {"median": med, "spread": spread, "bound": m["bound"]}
            print(f"  {m['name']}: median {med:.4f} spread {spread:.4f} bound {m['bound']}")
    walls = [r["wall_s"] for r in runs]
    print(f"  wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if args.out:
        Path(args.out).write_text(json.dumps({"workload": args.workload, "runs": runs,
                                              "summary": summary}, indent=1) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
