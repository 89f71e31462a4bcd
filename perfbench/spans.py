"""In-memory spans around the calls into each layer, and Spark's own
counters attributed to them through job groups read from the event log.

A span is ``(name, start, end, parent, trace_id)`` plus free-form
attributes; every span of one build or query shares its ``trace_id``.
Spans stay in memory and are written once, at exit.

Spark is lazy, so a call into a layer only builds a plan. A layer's
execution time is measured by forcing each layer boundary's DataFrame on
its own; each forced run re-executes everything upstream of it, so its
work nests that of its upstream run, and the layer's self time
(:func:`lineage_self`) is its forced run's duration minus that of the run
it reads from (its ``upstream`` attribute).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; when given a SparkContext, runs each span's Spark
    jobs under the job group ``span-<id>`` so the event log can attribute
    task counters to it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, trace_id,
                 parent.span_id if parent else None, time.perf_counter(),
                 attrs=dict(attrs))
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group_id(s.span_id), s.name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s), sort_keys=True) + "\n")


def group_id(span_id: int) -> str:
    return f"span-{span_id}"


def lineage_self(spans: list[Span]) -> dict[int, float]:
    """Per forced-boundary span: its duration minus the duration of the
    span named by its ``upstream`` attribute in the same trace (never
    negative: timing noise can make a cheap layer read slightly under its
    upstream)."""
    by_name = {(s.trace_id, s.name): s for s in spans}
    out = {}
    for s in spans:
        up = s.attrs.get("upstream")
        base = by_name[(s.trace_id, up)].dur if up else 0.0
        out[s.span_id] = max(0.0, s.dur - base)
    return out


# --- event log ---------------------------------------------------------

COUNTERS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
            "input_records", "shuffle_write_bytes", "spill_bytes")


def read_event_counters(event_dir: str) -> dict[str, dict[str, float]]:
    """Task counters summed per job group over every event log in
    ``event_dir`` (one file per SparkContext; stage ids are per context,
    so each file is resolved on its own)."""
    out: dict[str, dict[str, float]] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    c = out.setdefault(g, dict.fromkeys(COUNTERS, 0.0))
                    c["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None:
                        out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    c = out[g]
                    c["tasks"] += 1
                    c["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    c["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return out


def counters_for(spans: list[Span], events: dict[str, dict[str, float]]
                 ) -> dict[str, float]:
    """Counters of the given spans summed (each span's own job group:
    nested spans run their jobs under their own groups)."""
    total = dict.fromkeys(COUNTERS, 0.0)
    for s in spans:
        for k, v in events.get(group_id(s.span_id), {}).items():
            total[k] += v
    return total
