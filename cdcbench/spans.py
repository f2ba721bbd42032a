"""Spans around the calls into the program, and Spark's event log read
back by job group.

A span is opened around every public call a workload makes (and, in a
traced run, around a few inner calls patched from outside). Each span
sets its own Spark job group, so every job, stage and task in the event
log can be charged to the innermost span that was open when it ran.
Spans live in memory and are written out once, at the end of the run.

Without a SparkContext the tracer records nothing, so an untraced run
pays one context-manager entry per call and no Spark property changes.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "phase", "op", "info")

    def __init__(self, sid, name, parent, start, phase, op):
        self.id, self.name, self.parent = sid, name, parent
        self.start, self.end = start, start
        self.phase, self.op = phase, op
        self.info: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, sc=None, workload: str = ""):
        self.sc = sc
        self.workload = workload
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, op=None):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.workload}-{len(self.spans)}", name,
                 parent.id if parent else None, time.time(), self.phase, op)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(GROUP_PROP, s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, parent.id if parent else None)

    def wrap(self, owner, attr: str, name: str, info=None) -> None:
        """Replace owner.attr with a version that runs inside a span.
        `info(result)` may add fields to the span from the call's result."""
        inner = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name) as s:
                out = inner(*a, **kw)
                if info is not None:
                    s.info.update(info(out))
                return out

        setattr(owner, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


# ---------------------------------------------------------------- time


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the given intervals."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's wall minus the part of it its child spans cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.wall - covered(kids, span.start, span.end)


def subtree_ids(span: Span, spans: list[Span]) -> set[str]:
    ids, grew = {span.id}, True
    while grew:
        more = {s.id for s in spans if s.parent in ids} - ids
        ids |= more
        grew = bool(more)
    return ids


# ---------------------------------------------------------------- event log


def _group_stats() -> dict:
    return {"cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "output_mb": 0.0, "tasks": 0, "jobs": 0, "job_intervals": []}


def parse_event_log(lines) -> tuple[dict, dict]:
    """Task metrics summed per job group, plus JVM-wide figures.

    Returns ({group: stats}, {"gc_s", "peak_heap_mb"}); tasks, stages
    and jobs without a group are charged to the group None."""
    mb = 1.0 / (1 << 20)
    stage_group: dict[int, str | None] = {}
    jobs: dict[int, dict] = {}
    groups: dict = {}
    jvm = {"gc_s": 0.0, "peak_heap_mb": 0.0}

    def g(name):
        if name not in groups:
            groups[name] = _group_stats()
        return groups[name]

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get(GROUP_PROP)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {"group": props.get(GROUP_PROP),
                                  "start": ev["Submission Time"] / 1000.0}
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                st = g(j["group"])
                st["jobs"] += 1
                st["job_intervals"].append((j["start"], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = g(stage_group.get(ev["Stage ID"]))
            st["tasks"] += 1
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            gc = m.get("JVM GC Time", 0) / 1000.0
            st["gc_s"] += gc
            jvm["gc_s"] += gc
            st["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0)) * mb
            st["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) * mb
            st["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) * mb
            rd = m.get("Shuffle Read Metrics", {})
            st["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                      + rd.get("Local Bytes Read", 0)) * mb
            st["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0) * mb
            heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
            jvm["peak_heap_mb"] = max(jvm["peak_heap_mb"], heap * mb)
        elif kind == "SparkListenerStageExecutorMetrics":
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
            jvm["peak_heap_mb"] = max(jvm["peak_heap_mb"], heap * mb)
    return groups, jvm


# ---------------------------------------------------------------- layers


def span_costs(span: Span, spans: list[Span], groups: dict) -> dict:
    """Per-span figures: executor costs of the span's own job group (its
    self cost: child spans carry their own groups), jobs run anywhere in
    its subtree, and driver time = wall outside every such job."""
    own = groups.get(span.id) or _group_stats()
    sub = subtree_ids(span, spans)
    intervals = [iv for gid in sub if gid in groups
                 for iv in groups[gid]["job_intervals"]]
    return {
        "wall_s": span.wall,
        "self_s": self_time(span, spans),
        "driver_s": span.wall - covered(intervals, span.start, span.end),
        "cpu_s": own["cpu_s"],
        "run_s": own["run_s"],
        "gc_s": own["gc_s"],
        "input_mb": own["input_mb"],
        "shuffle_mb": own["shuffle_read_mb"] + own["shuffle_write_mb"],
        "spill_mb": own["spill_mb"],
        "output_mb": own["output_mb"],
        "jobs": own["jobs"],
        **span.info,
    }


def layer_table(spans: list[Span], groups: dict) -> dict[str, dict]:
    """Median of every per-span figure over the calls of each span name.
    Timed-phase calls are used where a layer has any; a layer that only
    runs during set-up or the checks is summarised over those calls."""
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    out = {}
    for name, ss in by_name.items():
        timed = [s for s in ss if s.phase == "timed"]
        use = timed or ss
        rows = [span_costs(s, spans, groups) for s in use]
        keys = {k for r in rows for k, v in r.items() if isinstance(v, (int, float))}
        out[name] = {k: statistics.median(r.get(k, 0) for r in rows) for k in keys}
        out[name]["calls"] = len(use)
    return out
