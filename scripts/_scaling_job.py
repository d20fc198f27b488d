"""One scaling-run invocation: the rollup-engine compute path (features →
1m rollup → gap-fill → chunk encode → weekly-windowed pattern pass) on a
fixed parquet input at a given core count.  Fresh JVM per invocation
(bench_scaling.py runs via subprocess) so the two cluster sizes share no
state.

Round-4 measurement hardening (VERDICT r03 "what's wrong" #1-#3):

* **CPU affinity pinning**: the whole process tree (driver python, JVM —
  including its GC/netty/AQE service threads — and every python worker)
  is pinned to exactly ``cores`` CPUs via ``sched_setaffinity`` before the
  JVM spawns.  ``local[N]`` alone only bounds *task slots*; JVM service
  threads ride free on idle host cores, inflating the small-N baseline.
  Pinning makes a leg a faithful model of an N-core executor, so raw
  wall-clock efficiency is directly meaningful.
* **Correct whole-tree CPU accounting**: the round-3 instrument read only
  utime+stime from /proc once at job end, dropping cutime/cstime — python
  workers reaped mid-run by the still-live JVM vanished from the ledger
  (the 2-core legs ran 4x longer, idled workers out, and therefore
  under-reported ~2.5x).  ``CpuMeter`` sums utime+stime+cutime+cstime over
  the live descendant tree, samples it periodically from a daemon thread
  (monotone max, so a subtree dying between samples can't lose time), and
  exposes ``read()`` deltas so every stage gets its own CPU bill.
* **Per-stage effective cores** let the harness apply the starved-leg
  gate to EVERY leg (bench_scaling.py), not just the big one.

The timed pipeline runs ``n_iters`` times and reports the fastest
iteration — the sandbox VM shows steal time, so single cold runs are
noisy.  Prints one JSON line.

Usage: _scaling_job.py INPUT CORES [CONV_LIMIT] [N_ITERS] [MP_M] [STAGES]
  STAGES = "all" (default) or "rollup" (north-rule metric only).
"""

from __future__ import annotations

import json
import os
import resource
import sys
import threading
import time

sys.path.insert(0, "/root/repo")


class CpuMeter(threading.Thread):
    """Monotone whole-process-tree CPU meter, per-PID accounted.

    Why not "sum the live tree + cutime of reapers": pyspark's worker
    daemon sets SIGCHLD to SIG_IGN, so dead python workers are
    auto-reaped and their CPU time is DISCARDED by the kernel (never
    folded into anyone's cutime).  A tree-sum meter therefore *drops*
    hundreds of CPU-seconds whenever a UDF worker exits, and a
    monotone-max wrapper around it silently mis-attributes the next
    minutes of real work to "catching up" (observed in the round-4
    execution-1 full-pipeline legs: stages at 98% CPU billed 0.09
    effective cores).

    Instead: sample every ``interval`` seconds; for every pid in this
    process's descendant tree record the max ``utime+stime`` ever seen
    (plus, for this process itself, its own rusage).  ``read()`` = sum
    over every pid EVER seen — a dead worker keeps its last observed
    ticks, and the result is monotone by construction.  A pid whose
    counter goes backwards (pid reuse) banks the old value in a
    graveyard and restarts.  Undercount is bounded by one sampling
    interval per process death.

    Double-count guard: ``RUSAGE_CHILDREN`` (added for short-lived
    direct children that die between samples) covers exactly the
    *reaped* direct children.  A DIRECT child sampled alive therefore
    must have its banked /proc ticks dropped once it is reaped —
    otherwise it is billed twice (once from its last /proc sample, once
    from rusage).  We detect "reaped" as a tracked direct-child pid
    disappearing from /proc: a dead-but-unreaped direct child stays
    visible as a zombie (this process does not ignore SIGCHLD), so
    vanishing implies a wait() happened and rusage now owns its time.
    Descendants that are NOT direct children (JVM's python workers)
    never reach our rusage, so their banked ticks are kept forever.
    """

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self._interval = interval
        self._lock = threading.Lock()
        self._last: dict[int, int] = {}
        self._direct: set[int] = set()
        self._graveyard = 0
        self._clk = os.sysconf("SC_CLK_TCK")
        self._halt = threading.Event()  # not _stop: that is Thread._stop, which a fork calls

    def _sample(self) -> float:
        me = os.getpid()
        procs: dict[int, tuple[int, int]] = {}
        for pid_s in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid_s}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
                procs[int(pid_s)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
            except (OSError, IndexError, ValueError):
                pass
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        with self._lock:
            stack = [me]
            while stack:
                p = stack.pop()
                if p in procs:
                    if procs[p][0] == me:
                        self._direct.add(p)
                    cur = procs[p][1]
                    prev = self._last.get(p, 0)
                    if cur < prev:  # pid reuse: bank the dead one's ticks
                        if p not in self._direct:
                            self._graveyard += prev
                        self._direct.discard(p)
                        self._last[p] = cur
                    else:
                        self._last[p] = cur
                stack.extend(children.get(p, []))
            # reaped direct children: gone from /proc (no zombie left) ⇒
            # waited-for ⇒ RUSAGE_CHILDREN owns their time — drop the
            # banked /proc ticks so they aren't counted twice
            for p in [p for p in self._direct if p not in procs]:
                self._direct.discard(p)
                self._last.pop(p, None)
            total = self._graveyard + sum(self._last.values())
        # own already-reaped direct children (JVM after spark.stop) —
        # their pids may never have been sampled if short-lived
        ch = resource.getrusage(resource.RUSAGE_CHILDREN)
        return total / self._clk + ch.ru_utime + ch.ru_stime

    def run(self) -> None:
        while not self._halt.wait(self._interval):
            self._sample()

    def read(self) -> float:
        """Current monotone tree-CPU seconds (fresh sample included)."""
        return self._sample()

    def stop(self) -> None:
        self._halt.set()


def read_cpu_ticks(cpus: set[int]) -> tuple[float, float]:
    """(steal_s, busy_s) accumulated on the given CPUs since boot
    (/proc/stat per-cpu lines; steal = field 8).  Steal measured on the
    pinned CPUs is the DIRECT starved-leg signal: the hypervisor withheld
    those cycles from this guest, independent of what the engine did."""
    clk = os.sysconf("SC_CLK_TCK")
    steal = busy = 0
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu") or line[3] in (" ", "\t"):
                continue
            parts = line.split()
            if int(parts[0][3:]) not in cpus:
                continue
            vals = [int(x) for x in parts[1:]]
            steal += vals[7] if len(vals) > 7 else 0
            busy += vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
    return steal / clk, busy / clk


def main() -> None:
    t_job0 = time.time()
    input_path, cores = sys.argv[1], int(sys.argv[2])
    conv_limit = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    n_iters = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    mp_m = int(sys.argv[5]) if len(sys.argv) > 5 else 120
    stages_mode = sys.argv[6] if len(sys.argv) > 6 else "all"

    # Pin BEFORE the JVM spawns: affinity is inherited by the whole tree
    # (JVM, python workers), making this leg a true N-core node.
    try:
        os.sched_setaffinity(0, set(range(cores)))
    except OSError:
        pass
    meter = CpuMeter()
    meter.start()

    from pyspark.sql import functions as F  # noqa: E402

    from more_pattern_extraction_spark.session import drain_checksum, get_spark

    # 8x cores shuffle partitions: grouped-UDF stages balance better when
    # tasks outnumber cores (390 MP windows in exactly `cores` tasks
    # straggle; AQE coalesces the excess for the relational stages).
    # MPE_SHUFFLE_MULT overrides for tail-packing experiments.
    mult = int(os.environ.get("MPE_SHUFFLE_MULT", "8"))
    spark = get_spark(f"scaling_{cores}", cores=cores, shuffle_partitions=cores * mult)
    from more_pattern_extraction_spark.operators import chunks as CH
    from more_pattern_extraction_spark.operators import gapfill as G
    from more_pattern_extraction_spark.operators import matrix_profile as MP
    from more_pattern_extraction_spark.operators import rollup as R

    turns = spark.read.parquet(input_path)
    if conv_limit:
        turns = turns.filter(F.col("conv_id") < f"conv_{conv_limit:05d}")
    n_turns = turns.count()  # warm scan outside the timed region
    # warm the python-worker pool too: spawning `cores` workers (python +
    # pyspark+numpy imports, ~2s each) is one-time setup a long-lived
    # cluster amortizes — it must not be billed to the first UDF stage
    spark.range(cores * 4, numPartitions=cores).mapInPandas(
        lambda it: it, "id long"
    ).count()

    pinned = set(range(cores))
    best = None
    t_timed0, cpu_timed0 = time.time(), meter.read()
    steal0, busy0 = read_cpu_ticks(pinned)
    for it in range(n_iters):
        t_iter0 = time.time()
        stages: dict[str, float] = {}
        stage_cpu: dict[str, float] = {}
        feats = R.turn_features(turns)
        r1m_plain = R.rollup_from_raw(feats, "1m")
        # rollup = the north-rule metric: time the operator itself (min of
        # 3 consecutive checksum drains, so one-off job-submission/AQE
        # costs don't bill the stage).  Each drain also gets its CPU bill.
        rollup_times, rollup_cpus = [], []
        n_rollup_rows = 0
        for _ in range(3):
            tr, cr = time.time(), meter.read()
            n_rollup_rows = drain_checksum(r1m_plain).rows
            rollup_times.append(time.time() - tr)
            rollup_cpus.append(meter.read() - cr)
        k_min = min(range(3), key=lambda i: rollup_times[i])
        stages["rollup"] = round(rollup_times[k_min], 2)
        stage_cpu["rollup"] = round(rollup_cpus[k_min], 1)

        n_filled = n_chunks = n_mp = 0
        if stages_mode == "all":
            r1m = r1m_plain.persist()
            drain_checksum(r1m)  # cache fill (untimed, symmetric across legs)

            t1, c1 = time.time(), meter.read()
            filled = G.gap_fill_rollup(r1m, "1m").persist()
            n_filled = drain_checksum(filled).rows
            stages["gapfill"] = round(time.time() - t1, 2)
            stage_cpu["gapfill"] = round(meter.read() - c1, 1)

            t1, c1 = time.time(), meter.read()
            n_chunks = drain_checksum(
                CH.encode_chunks(r1m, ["latency_avg", "latency_sum"], "1m")
            ).rows
            stages["chunks"] = round(time.time() - t1, 2)
            stage_cpu["chunks"] = round(meter.read() - c1, 1)

            # KMV distinct partials (added round 6 when plans/pipeline.py
            # gained the distinct_1m table — earlier rounds' full-pipeline
            # stage sums predate this stage; per-stage rows stay
            # comparable).  Tier-sourced shape, same as the pipeline.
            from more_pattern_extraction_spark.operators import distinct as DK

            t1, c1 = time.time(), meter.read()
            kmv_in = r1m.select(
                F.pmod(F.xxhash64("conv_id"), F.lit(32)).cast("int").alias("conv_bucket"),
                "bucket_start", "conv_id",
            )
            drain_checksum(DK.kmv_from_rollup(kmv_in, part_cols=("conv_bucket",)))
            stages["distinct"] = round(time.time() - t1, 2)
            stage_cpu["distinct"] = round(meter.read() - c1, 1)

            t1, c1 = time.time(), meter.read()
            grid = filled.select(
                "conv_id", "bucket_start",
                F.coalesce(
                    "latency_avg_filled", "latency_avg_locf", F.lit(0.0)
                ).alias("latency_avg_filled"),
                F.date_trunc("week", "bucket_start").alias("win"),
            )
            # windowed pattern pass (per conv per week, m = 2h on the 1m
            # grid: profile, top-2 discords, FLUSS): bounded tasks even
            # for Zipf-hot conversations — the skew-safe production shape
            # (same workload shape as the reference's m=1-day profile)
            n_mp = drain_checksum(MP.window_patterns(grid, mp_m, 2)).rows
            stages["matrix_profile"] = round(time.time() - t1, 2)
            stage_cpu["matrix_profile"] = round(meter.read() - c1, 1)
            r1m.unpersist()
            filled.unpersist()

        # stage_sum_s = sum of stage times (rollup counted once, at its
        # min; the repeat drains and the cache fill are excluded) — NOT an
        # elapsed wall clock; iter_wall_s is the true elapsed time of this
        # iteration including the excluded repeats/cache fills.
        stage_sum = sum(stages.values())
        rec = {
            "cores": cores, "stage_sum_s": round(stage_sum, 2),
            "iter_wall_s": round(time.time() - t_iter0, 2),
            "turns": n_turns, "rollup_rows": n_rollup_rows,
            "rows_filled": n_filled, "chunks": n_chunks, "mp_rows": n_mp,
            "stages": stages, "stage_cpu_s": stage_cpu,
            "stage_eff_cores": {
                k: round(stage_cpu[k] / stages[k], 2) if stages[k] else None
                for k in stages
            },
            "turns_per_s": round(n_turns / stage_sum, 1),
            "rollup_turns_per_s": round(n_turns / stages["rollup"], 1),
            "iteration": it,
        }
        print(json.dumps(rec), file=sys.stderr)
        if best is None or rec["stage_sum_s"] < best["stage_sum_s"]:
            best = rec

    timed_wall = time.time() - t_timed0
    timed_cpu = meter.read() - cpu_timed0
    steal1, busy1 = read_cpu_ticks(pinned)
    tree_cpu = meter.read()
    job_wall = time.time() - t_job0
    spark.stop()
    meter.stop()
    best["tree_cpu_s"] = round(tree_cpu, 1)
    best["job_wall_s"] = round(job_wall, 1)
    # effective cores over the TIMED region only (excludes input warm-up
    # and JVM start, where cores legitimately idle) — this is the number
    # the starved-leg gate checks on every leg
    best["timed_wall_s"] = round(timed_wall, 1)
    best["timed_cpu_s"] = round(timed_cpu, 1)
    best["effective_cores"] = round(timed_cpu / timed_wall, 2)
    # hypervisor steal on the pinned CPUs during the timed region — the
    # direct starved-leg gate (engine-independent, unlike effective_cores
    # which also dips on legitimate scheduling gaps)
    best["steal_s"] = round(steal1 - steal0, 1)
    best["steal_frac"] = round((steal1 - steal0) / (cores * timed_wall), 3)
    best["pinned_busy_s"] = round(busy1 - busy0, 1)
    print(json.dumps(best))


if __name__ == "__main__":
    main()
