"""Spans for the traced run, recorded from outside the package.

``Tracer.install`` swaps public functions of the engine's modules for
wrappers that record a span (name, start, end, parent, iteration) and set
the Spark job group to the span's id, so every Spark job a span starts can
be attributed to it.  The package looks these functions up as module or
class attributes at call time (``CAT.write_partitioned``,
``cp.commit(...)``), so swapping the attribute is enough.

``engine_counters`` reads the Spark event log written during the traced
run and sums job, stage and task counters per span id.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; one instance per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration: int | None = None
        self.phase: str | None = None  # "setup" while the workload sets up
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        # spans inside a timed operation ("op") count as measured, and
        # every span of the set-up
        measured = bool(self._stack) or name == "op" or self.phase is not None
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "phase": self.phase, "iter": self.iteration if measured else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"span{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is None:
                pass
            elif self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(f"span{parent}", self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def in_span(self, name: str) -> bool:
        return any(self.spans[i]["name"] == name for i in self._stack)

    def wrap(self, owner, attr: str, namer) -> None:
        """Replace ``owner.attr`` by a wrapper recording ``namer(args, kwargs)``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(namer(args, kwargs)):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from more_pattern_extraction_spark.functions import kernels as K
        from more_pattern_extraction_spark.plans import checkpoint as CP
        from more_pattern_extraction_spark.plans import pipeline as PL
        from more_pattern_extraction_spark.plans import repair as RP
        from more_pattern_extraction_spark.sources import catalog as CAT

        def fixed(name):
            return lambda args, kwargs: name

        def write_name(args, kwargs):
            table = kwargs.get("name", args[2] if len(args) > 2 else "?")
            table = "mp" if table.startswith("mp_") else table
            return f"{'repair.' if self.in_span('repair') else ''}write.{table}"

        self.wrap(PL, "run_pipeline", fixed("pipeline"))
        self.wrap(PL, "run_pattern_stage", fixed("pattern"))
        self.wrap(RP, "repair_late_turns", fixed("repair"))
        self.wrap(RP, "affected_units", fixed("repair.affected_units"))
        self.wrap(CAT, "write_partitioned", write_name)
        self.wrap(CAT, "read_table", fixed("catalog.read_table"))
        for meth in ("pending_units", "commit", "record_lineage", "record_metrics"):
            self.wrap(CP.CheckpointStore, meth, fixed(f"checkpoint.{meth}"))
        # reached in-process by pattern_kernels only: the pattern stage runs
        # the kernels in Spark's Python workers, which these wrappers miss
        self.wrap(K, "stomp", fixed("kernels.stomp"))
        self.wrap(K, "top_k_discords_kernel", fixed("kernels.discords"))
        self.wrap(K, "fluss", fixed("kernels.fluss"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- aggregation ------------------------------------------------------

    def measured(self, phase: str | None = None) -> list[dict]:
        """Spans of timed iterations (warm-up spans carry ``iter=None``), or
        with ``phase="setup"`` the spans of the set-up."""
        if phase is not None:
            return [s for s in self.spans if s["phase"] == phase]
        return [s for s in self.spans if s["phase"] is None and s["iter"] is not None]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover.  Spans are
        opened and closed on one thread, so children never overlap."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "executor_cpu_s", "gc_s")


def engine_counters(event_dir: str) -> dict[int, dict[str, float]]:
    """Per span id: the Spark counters of the jobs run in its job group.

    Parses every event-log file under ``event_dir`` (JSON lines).  A stage
    belongs to the job group recorded in its submission properties; a
    task to its stage."""
    out: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_span: dict[int, int] = {}

    def span_of(props: dict) -> int | None:
        gid = (props or {}).get("spark.jobGroup.id") or ""
        return int(gid[4:]) if gid.startswith("span") else None

    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:  # one file: rolling is off
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        out[sid]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sid
                        out[sid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if sid is None or not tm:
                        continue
                    c = out[sid]
                    c["tasks"] += 1
                    c["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    rd = tm["Shuffle Read Metrics"]
                    c["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                    c["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                    c["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    c["gc_s"] += tm["JVM GC Time"] / 1e3
    return dict(out)
