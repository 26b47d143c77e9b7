"""In-memory spans around calls into the engine, plus per-span Spark
counters read back from the event log.

A span records name, start, end, parent and the pass (trace) it belongs
to.  A span opened with ``group=`` also tags the Spark jobs it submits
with ``setJobGroup``; jobs submitted from helper threads carry no group
and are attributed to the innermost grouped span open at their
submission time.  Nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from measure import median

COUNTERS = ("stages", "tasks", "task_cpu_s", "shuffle_mb", "failed_tasks",
            "starved_stages")

# a stage is CPU-heavy when its tasks burned at least this much CPU
CPU_HEAVY_S = 0.5


class Tracer:
    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list = []
        self.trace_id = 0
        self._stack: list = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "trace": self.trace_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": group, "wall_start_ms": time.time() * 1000.0,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if group:
                outer = next((s["group"] for s in reversed(self._stack)
                              if s["group"]), None)
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def windows(self) -> list:
        """``(group, start_ms, end_ms)`` of every grouped span."""
        return [(s["group"], s["wall_start_ms"], s["wall_end_ms"])
                for s in self.spans if s["group"] and "end" in s]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def self_times(spans: list) -> dict:
    """Span id -> duration minus the part of its interval that its
    child spans cover."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_table(spans: list) -> dict:
    """Span name -> median over passes (traces) of that name's summed
    self time in the pass."""
    selfs = self_times(spans)
    per_trace: dict = {}
    for s in spans:
        key = (s["name"], s["trace"])
        per_trace[key] = per_trace.get(key, 0.0) + selfs[s["id"]]
    by_name: dict = {}
    for (name, _), secs in per_trace.items():
        by_name.setdefault(name, []).append(secs)
    return {name: median(xs) for name, xs in by_name.items()}


def _group_at(windows, t_ms):
    best = None
    for group, lo, hi in windows:
        if lo <= t_ms <= hi and (best is None or lo >= best[1]):
            best = (group, lo)
    return best[0] if best else None


def parse_event_log(lines, cores: int, windows=()) -> dict:
    """Per-job-group Spark counters from event-log JSON lines.

    Returns ``{group: {counter: value}}`` over :data:`COUNTERS`.  A
    stage belongs to the group of the first job that lists it; a job
    without ``spark.jobGroup.id`` takes the grouped window (from
    :meth:`Tracer.windows`) open at its submission time, else the
    group ``None``.  A starved stage is a CPU-heavy stage
    (:data:`CPU_HEAVY_S`) that ran fewer tasks than ``cores``.
    """
    stage_group: dict = {}
    stage_tasks: dict = {}
    stage_cpu: dict = {}
    out: dict = {}

    def bucket(group):
        return out.setdefault(group, dict.fromkeys(COUNTERS, 0))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                group = _group_at(windows, ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            b = bucket(stage_group.get(sid))
            tm = ev.get("Task Metrics") or {}
            cpu = tm.get("Executor CPU Time", 0) / 1e9
            b["tasks"] += 1
            b["task_cpu_s"] += cpu
            b["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                b["failed_tasks"] += 1
            stage_cpu[sid] = stage_cpu.get(sid, 0.0) + cpu
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            b = bucket(stage_group.get(sid))
            b["stages"] += 1
            stage_tasks[sid] = info.get("Number of Tasks", 0)
    for sid, n_tasks in stage_tasks.items():
        if n_tasks < cores and stage_cpu.get(sid, 0.0) >= CPU_HEAVY_S:
            bucket(stage_group.get(sid))["starved_stages"] += 1
    return out
