"""In-memory span tracing around the engine's public functions.

A span records one call at a layer boundary: name, start, end, parent span
and request id. The tracer wraps functions where their callers look them
up (a module that did `from .x import f` holds its own reference, so every
module attribute bound to the original is replaced), and while a span is
open it sets the Spark job group to the span's id, so each Spark job is
attributed to the innermost span that started it. Spans stay in memory;
the caller writes them out when the run ends.

Also here: the self-time and tail-percentile arithmetic, and the event-log
parser for per-job-group task metrics.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0


class Tracer:
    """Collects spans. `sc` (a SparkContext) is optional: without it no job
    groups are set, which keeps the arithmetic testable without a JVM."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.request: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", f"s{span.id}" if span else None)

    def open(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            span = Span(len(self.spans), name, stack[-1].id if stack else None,
                        self.request, time.perf_counter())
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self._set_group(stack[-1] if stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str, after=None):
        """`fn` inside a span; `after()`, if given, runs once `fn` returns."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = self.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(s)
            if after is not None:
                after()
            return out

        return traced

    def patch(self, owner, attr: str, name: str, after=None, prefix: str = "ai_optimizer_spark") -> None:
        """Replace `owner.attr` with a traced wrapper, and every module-level
        alias of the same function in modules under `prefix`."""
        orig = getattr(owner, attr)
        traced = self.wrap(orig, name, after)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or mod is owner or not mod_name.startswith(prefix):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, traced)

    def patch_module(self, module, layer: str) -> None:
        """Trace every function defined in `module` (public and private)."""
        import inspect

        for key, val in list(vars(module).items()):
            if inspect.isfunction(val) and val.__module__ == module.__name__:
                self.patch(module, key, f"{layer}.{key}")

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def collect_jobs(self, spans: list[Span]) -> None:
        """Fill each span's job ids and stage count from Spark's status
        tracker (call soon after the spans close: the tracker retains a
        bounded number of jobs)."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for s in spans:
            s.jobs = list(tracker.getJobIdsForGroup(f"s{s.id}"))
            infos = (tracker.getJobInfo(j) for j in s.jobs)
            s.stages = sum(len(i.stageIds) for i in infos if i is not None)


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children
    on other threads may overlap each other; the union counts once)."""
    kids = children_of(spans)
    return {
        s.id: (s.end - s.start) - covered([(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        for s in spans
    }


def descendants(span_id: int, kids: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], list(kids.get(span_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def tail(values: list[float], beyond: int = 10) -> tuple[float | None, float | None]:
    """The tail rule: the highest percentile that still leaves `beyond`
    samples above it, as (percentile, value); (None, None) when there are
    `beyond` samples or fewer. With n samples that is the nearest-rank
    value at rank n - beyond."""
    n = len(values)
    if n <= beyond:
        return None, None
    r = n - beyond
    return math.floor(1000 * r / n) / 10, sorted(values)[r - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: tasks, shuffle read/write bytes, spilled bytes, the
    largest max/median task-time ratio over its stages (stages with at
    least two tasks), and rows output by Arrow Python UDF nodes (the
    embedding UDF's row count)."""
    group_of_stage: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    udf_row_ids: set[int] = set()
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname), encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        for sid in ev.get("Stage IDs", []):
                            group_of_stage[sid] = grp
                elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                    udf_row_ids |= _udf_row_metrics(ev.get("sparkPlanInfo") or {})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        "write": wr.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "accums": {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])},
                    })
    out: dict[str, dict] = {}
    for sid, grp in group_of_stage.items():
        ts = tasks.get(sid, [])
        g = out.setdefault(grp, {"tasks": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                                 "spill_bytes": 0, "task_max_over_median": 0.0, "udf_rows": 0})
        g["tasks"] += len(ts)
        g["shuffle_read_bytes"] += sum(t["read"] for t in ts)
        g["shuffle_write_bytes"] += sum(t["write"] for t in ts)
        g["spill_bytes"] += sum(t["spill"] for t in ts)
        g["udf_rows"] += sum(int(v) for t in ts for k, v in t["accums"].items() if k in udf_row_ids)
        if len(ts) >= 2:
            med = statistics.median(t["ms"] for t in ts)
            if med > 0:
                g["task_max_over_median"] = max(g["task_max_over_median"], max(t["ms"] for t in ts) / med)
    return out


def _udf_row_metrics(node: dict) -> set[int]:
    """Accumulator ids of 'number of output rows' on ArrowEvalPython nodes."""
    ids = set()
    if node.get("nodeName", "").startswith("ArrowEvalPython"):
        ids |= {m["accumulatorId"] for m in node.get("metrics", []) if m.get("name") == "number of output rows"}
    for child in node.get("children", []):
        ids |= _udf_row_metrics(child)
    return ids
