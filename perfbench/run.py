#!/usr/bin/env python3
"""End-to-end benchmark of the rollup engine.

    python3 perfbench/run.py --workload ingest_cold --seed 1 --seconds 10 --trace 0

Runs one workload (see perfbench/README.md) from the root of a checkout:
starts Spark on ``local[nproc]``, generates the seeded input, sets up and
warms up, then times the workload's operation for ``--seconds`` and checks
every output.  The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Everything the run writes goes under ``.perfbench_work/``
in the checkout and is removed at the end.
"""

from __future__ import annotations

import os

# one BLAS thread, as in the engine's Python workers; set before numpy loads
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import argparse
import json
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# past this many seconds after its start a run starts no further operation
# beyond the first of each leg, so it ends well within its time limit
DEADLINE_S = 150
# The driver heap is fixed and touched up front, so the JVM's resident size
# does not depend on when the collector last grew the heap.  The JVM compiles
# with C1 only: a run ends before C2 has settled, and C2's compile timing made
# the first operations of a run 16 s, 14 s, 11 s where C1 gives 19, 18, 17.
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- process tree -----------------------------------------------------------


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each shared page split among
    the processes sharing it, so forked Python workers are not counted
    once per fork."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak = 0
        self._done = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                total += pss_bytes(pid)
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def reset(self) -> None:
        self.peak = 0
        self.sample()

    def run(self) -> None:
        while not self._done.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._done.set()
        self.join()
        self.sample()


# -- machine speed ------------------------------------------------------------

# The VM the benchmark runs on changes speed by up to 2x within minutes.  The
# end-to-end operation metric is therefore CPU time, which leaves out time
# spent waiting to run, scaled to a reference CPU speed: each timed operation
# is preceded by bursts of a fixed pure-Python loop, and the median CPU time
# of an operation is multiplied by PROBE_REF_MS over the run's median burst.
# PROBE_REF_MS is the burst's median on the 4-core VM the bounds were set on.
PROBE_REF_MS = 4.0


def speed_probe(n: int = 5) -> list[float]:
    """Thread CPU milliseconds of ``n`` bursts of a fixed pure-Python loop;
    thread CPU time leaves out time the thread waited to be scheduled."""
    out = []
    for _ in range(n):
        c = time.thread_time()
        s = 0
        for i in range(50_000):
            s += i * i
        out.append(1e3 * (time.thread_time() - c))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and Python workers), reaped children included."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


# -- run context ------------------------------------------------------------


class Ctx:
    """What a workload sees: the session, the seed, a scratch root, and the
    hooks that time operations, record spans and check counts."""

    def __init__(self, spark, seed: int, work: Path, started: float):
        self.spark = spark
        self.started = started
        self.seed = seed
        self.work = work
        self.tracer = None
        self.samples: list[float] = []
        self.probes: list[float] = []
        self.cpu: list[float] = []  # CPU seconds of each timed operation
        self.counts: dict[str, float] = {}
        self.info: dict = {}

    def path(self, *parts: str) -> str:
        return str(self.work.joinpath(*parts))

    @contextmanager
    def timed(self):
        self.probes += speed_probe()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span("op") if self.tracer else nullcontext():
            yield
        self.samples.append(time.perf_counter() - t0)
        self.cpu.append(tree_cpu_s() - c0)

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.started:7.2f}s {what}", file=sys.stderr,
              flush=True)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def exact(self, name: str, value: float) -> None:
        """Record a count that must repeat exactly on every operation."""
        from workloads import Mismatch

        old = self.counts.setdefault(name, value)
        if old != value:
            raise Mismatch(f"exact count {name} moved: {old!r} -> {value!r}")


def start_spark(work: Path, cpus: int, trace: bool):
    for sub in ("tmp", "local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "MPE_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    from more_pattern_extraction_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                                          f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"),
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{work / 'events'}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     # plan strings fill most of the log and cost the driver
                     # time to write; the counters need none of them
                     "spark.sql.maxPlanStringLength": "256"})
    spark = get_spark("perfbench", cores=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait until every process this run started has ended.  Workers outlive
    the JVM briefly and are re-parented when it exits, so they are listed
    before the stop."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    end = time.time() + 30
    while time.time() < end and any(alive(p) for p in started + descendants(os.getpid())):
        time.sleep(0.2)
    for pid in started + descendants(os.getpid()):
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- measurement --------------------------------------------------------------


def run_ops(ctx, wl, seconds: float, started: float, n: int | None = None) -> tuple[int, int, list[str]]:
    """Run timed operations for ``seconds`` (at least ``wl.min_ops``), or
    exactly ``n`` of them.  Returns (attempted, failed, mismatches)."""
    from workloads import Mismatch

    attempted = failed = 0
    mismatches: list[str] = []
    end = time.perf_counter() + seconds
    min_ops = getattr(wl, "min_ops", 1)
    while True:
        if n is not None:
            if attempted >= n:
                break
        elif time.perf_counter() >= end and attempted >= min_ops:
            break
        if attempted and time.perf_counter() - started > DEADLINE_S:
            print(f"perfbench: deadline of {DEADLINE_S} s passed after {attempted} operations",
                  file=sys.stderr)
            break
        if ctx.tracer:
            ctx.tracer.iteration = attempted
        attempted += 1
        if ctx.spark is not None:
            ctx.spark.catalog.clearCache()
        try:
            wl.step(ctx, attempted - 1)
            ctx.log(f"op {attempted - 1}: {ctx.samples[-1]:.3f}s")
        except Mismatch as e:
            mismatches.append(str(e))
            print(f"MISMATCH: {e}", file=sys.stderr)
        except Exception:
            failed += 1
            traceback.print_exc()
    return attempted, failed, mismatches


def quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def layer_metrics(ctx, tracer, counters: dict, n_ops: int, overhead_s: float) -> dict[str, float]:
    """Per-layer values by metric name: per timed operation unless the name
    says per call (``_ms``), and once per run for the set-up spans, whose
    names start with ``setup.``."""
    from spans import COUNTERS

    selfs = tracer.self_times()
    out: dict[str, float] = {}
    for phase, per in ((None, max(n_ops, 1)), ("setup", 1)):
        pre = f"{phase}." if phase else ""
        incl, self_, calls, cnt = {}, {}, {}, {}
        for s in tracer.measured(phase):
            name = s["name"]
            incl[name] = incl.get(name, 0.0) + s["end"] - s["start"]
            self_[name] = self_.get(name, 0.0) + selfs[s["id"]]
            calls[name] = calls.get(name, 0) + 1
            c = cnt.setdefault(name, dict.fromkeys(COUNTERS, 0.0))
            for k, v in counters.get(s["id"], {}).items():
                c[k] += v
        out.update({f"{pre}{k}.s": v / per for k, v in incl.items()})
        out.update({f"{pre}{k}.self_s": v / per for k, v in self_.items()})
        out.update({f"{pre}{k}_s": v / per for k, v in incl.items()})
        out.update({f"{pre}{k}_ms": 1e3 * incl[k] / calls[k] for k in incl})
        out.update({f"{pre}{k}_calls": calls[k] / per for k in calls})
        for k, c in cnt.items():
            out.update({f"{pre}{k}.{ck}": v / per for ck, v in c.items()})
        if phase is None:
            # time inside a timed operation that no layer span covers
            out["trace.unattributed_s"] = self_.get("op", 0.0) / per
            out["trace.layer_self_s"] = sum(v for k, v in self_.items() if k != "op") / per
    out["pipeline.spark_jobs"] = out.get("pipeline.jobs", 0.0)
    out.update({k: v for k, v in ctx.counts.items() if isinstance(v, (int, float))})
    if "storage_bytes" in ctx.counts:
        out["storage.bytes_per_turn"] = ctx.counts["storage_bytes"] / ctx.n_turns
    out["trace.overhead_s"] = overhead_s
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "more_pattern_extraction_spark" / "plans" / "pipeline.py").is_file():
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        cpus = nproc()
        wl = W.WORKLOADS[args.workload]()
        uses_spark = getattr(wl, "uses_spark", True)
        if uses_spark:
            spark = start_spark(work, cpus, bool(args.trace))
        ctx = Ctx(spark, args.seed, work, started)
        if uses_spark:
            ctx.log("spark started")
            W.make_inputs(ctx)
        if args.trace:
            from spans import Tracer, engine_counters

            # the traced run also records the set-up's spans, once
            tracer = Tracer(spark.sparkContext if spark is not None else None)
            tracer.phase = "setup"
            tracer.install()
        wl.setup(ctx)
        if args.trace:
            tracer.uninstall()
            tracer.phase = None
        setup_s = time.perf_counter() - started
        ctx.samples.clear()
        rss.reset()  # peak over the timed operations, not the set-up

        attempted, failed, mismatches = run_ops(ctx, wl, args.seconds, started)
        peak_rss = rss.peak
        samples = list(ctx.samples)
        cpu_samples = ctx.cpu[len(ctx.cpu) - len(samples):]
        if args.trace:
            tracer.install()
            ctx.tracer = tracer
            ctx.samples.clear()
            # as many traced operations as untraced ones; the overhead is
            # measured against the untraced leg, which ran first
            t_att, t_fail, t_mis = run_ops(ctx, wl, 0, started, n=len(samples))
            tracer.uninstall()
            ctx.tracer = None
            traced = list(ctx.samples)
            untraced = samples
            if not traced:
                t_mis.append("no traced operation completed")
            attempted += t_att
            failed += t_fail
            mismatches += t_mis
        if spark is not None:
            stop_spark(spark)
            spark = None
        rss.stop()

        if not samples or (args.trace and not (traced and untraced)):
            print("perfbench: no operation completed", file=sys.stderr)
            return 1
        p50 = statistics.median(samples)
        probe = statistics.median(ctx.probes)
        cpu = statistics.median(cpu_samples)
        p90 = quantile(samples, 0.9)
        info = {"workload": args.workload, "seed": args.seed, "nproc": cpus,
                "ops": len(samples), "setup_s": setup_s, **ctx.info,
                "failed_op_frac": failed / attempted, "exact_counts": ctx.counts,
                "op_p50_ms": 1e3 * p50, "probe_ms": probe, "op_cpu_p50_ms": 1e3 * cpu,
                "op_s": samples, "op_cpu_s": cpu_samples}
        if "storage_bytes" in ctx.counts:
            info["storage_bytes_per_turn"] = ctx.counts["storage_bytes"] / ctx.n_turns
        info.update({
            "ingest_cold": lambda: {"ingest_turns_per_s": ctx.n_turns / p50},
            "late_repair": lambda: {"repair_s": p50,
                                    "repair_rewrite_frac": ctx.counts.get("repair.rewrite_frac")},
            "tier_read": lambda: {"read_p50_ms": 1e3 * p50, "read_p90_ms": 1e3 * p90},
            "pattern_scan": lambda: {"pattern_s": p50},
            "pattern_kernels": lambda: {"kernels_ms": 1e3 * p50},
        }[args.workload]())
        if args.trace:
            traced_p50 = statistics.median(traced)
            overhead = traced_p50 - statistics.median(untraced)
            counters = engine_counters(str(work / "events")) if uses_spark else {}
            values = layer_metrics(ctx, tracer, counters, len(traced), overhead)
            tracer.dump(str(work / "spans.jsonl"))
            # the layer spans' self times must add up to the traced wall
            # time within the tracing overhead (at least 1 % of an operation,
            # since the overhead is measured against run-to-run noise)
            gap = sum(traced) / len(traced) - values["trace.layer_self_s"]
            tolerance = max(overhead, 0.01 * traced_p50)
            info.update(trace_overhead_s=overhead, trace_unattributed_s=gap,
                        trace_tolerance_s=tolerance, layers=values)
            if abs(gap) > tolerance:
                mismatches.append(f"layer self times miss {gap:.4f} s of the traced wall time "
                                  f"per operation, more than the {tolerance:.4f} s tolerance")
            wanted = spec["per_layer"]
        else:
            values = {"setup_s": setup_s, "op_cpu_scaled_ms": 1e3 * cpu * PROBE_REF_MS / probe,
                      "peak_rss_mb": peak_rss / 2**20}
            wanted = spec["end_to_end"]
        info["output_mismatches"] = len(mismatches)
        print(json.dumps(info, default=str))
        result = {
            "correct": not mismatches,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                        for m in wanted},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
