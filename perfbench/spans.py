"""Spans around the benchmark's calls into the package, and per-layer
figures from Spark's own event log.

A span has a layer (the package module it calls into), a name, a kind
(``builder``: the public call itself, or ``action``: the benchmark's
write/collect on the call's result), start, end and parent. While a
span is open, Spark jobs run in a job group named after it, so the
event log attributes every job, stage and task to its innermost span.
With tracing off, ``span`` is a no-op and no job group is set.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from dataclasses import dataclass, field

LAYERS = (
    "session", "sources", "embed", "semantic", "analytics", "search", "vector",
    "serving", "txn", "curation", "dedup", "sampling", "packing", "io",
)
LAYER_FIGURES = ("calls", "self_s", "jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb")


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    kind: str
    parent: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


@dataclass
class Tracer:
    enabled: bool = False
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, kind: str = "builder"):
        if not self.enabled:
            yield
            return
        if layer not in LAYERS and layer != "bench":
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), layer, name, kind, parent.sid if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.end - s.start
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb-{s.sid}", f"{s.layer}.{s.name}:{s.kind}")


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs started, and task counts and metrics summed
    over the stages those jobs submitted. Reads the (uncompressed) log
    of a stopped application."""
    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stats.setdefault(g, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                st = stats.setdefault(g, GroupStats())
                st.tasks += 1
                st.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.shuffle_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
                st.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return stats


def layer_figures(spans: list[Span], groups: dict[str, GroupStats]) -> dict[str, float]:
    """``<layer>.<figure>`` for every layer. ``calls`` and ``jobs``
    count builder spans only (jobs there are eager jobs started inside
    the public call); the other figures cover builder and action spans."""
    out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIGURES}
    for s in spans:
        if s.layer not in LAYERS:
            continue
        p = f"{s.layer}."
        out[p + "self_s"] += s.self_s
        g = groups.get(f"pb-{s.sid}", GroupStats())
        if s.kind == "builder":
            out[p + "calls"] += 1
            out[p + "jobs"] += g.jobs
        out[p + "tasks"] += g.tasks
        out[p + "exec_cpu_s"] += g.exec_cpu_s
        out[p + "gc_s"] += g.gc_s
        out[p + "shuffle_mb"] += g.shuffle_mb
        out[p + "spill_mb"] += g.spill_mb
    return out


def span_table(spans: list[Span], groups: dict[str, GroupStats]) -> list[dict]:
    """Every span as a plain record (printed to standard error)."""
    rows = []
    for s in spans:
        g = groups.get(f"pb-{s.sid}", GroupStats())
        rows.append({
            "id": s.sid, "parent": s.parent, "layer": s.layer, "name": s.name, "kind": s.kind,
            "start": s.start, "end": s.end, "self_s": s.self_s, "jobs": g.jobs, "tasks": g.tasks,
            "exec_cpu_s": g.exec_cpu_s, "gc_s": g.gc_s, "shuffle_mb": g.shuffle_mb,
            "spill_mb": g.spill_mb,
        })
    return rows
