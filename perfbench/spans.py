"""Span recording for the traced run.

Only the traced run installs these wrappers: they replace the public entry
points of each layer (module functions and methods, looked up at call time
by the program) with a recorder that notes name, start, end, parent span
and request id, then calls the original. Spans are kept in memory and
written out when the run ends. Untraced runs never import this module's
wrappers, so their figures carry no tracing cost.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    request: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.request: int | None = None  # id shared by one request's spans
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, attrs_fn=None):
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = self.clock()
        try:
            res = fn(*args, **kwargs)
        finally:
            end = self.clock()
            stack.pop()
        attrs = attrs_fn(args, res) if attrs_fn else {}
        self.spans.append(Span(sid, parent, name, start, end, self.request, attrs))
        return res

    def wrap(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` (a module function or a class's method)
        with a recording wrapper; ``restore`` undoes it."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            return tracer.call(name, orig, args, kwargs, attrs_fn)

        wrapped.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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


def children(spans: list[Span]) -> dict[int, list[int]]:
    """Span id -> ids of its direct child spans."""
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that child spans cover."""
    by_id = {s.id: s for s in spans}
    kids = children(spans)
    return {
        s.id: s.duration
        - _covered(s.start, s.end, [(by_id[k].start, by_id[k].end) for k in kids.get(s.id, [])])
        for s in spans
    }


def layer_totals(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """Span name -> (total self seconds, number of spans)."""
    st = self_times(spans)
    out: dict[str, list] = defaultdict(lambda: [0.0, 0])
    for s in spans:
        out[s.name][0] += st[s.id]
        out[s.name][1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def tree_self_sum(self_t: dict[int, float], kids: dict[int, list[int]], root: int) -> float:
    """Sum of the self times of a span and all its descendants."""
    total, todo = 0.0, [root]
    while todo:
        i = todo.pop()
        total += self_t[i]
        todo.extend(kids.get(i, []))
    return total


# --------------------------------------------------------------------------
# Spark event log


def _event_lines(path: str):
    """Lines of an event log: one file, or a rolling-log directory
    (``eventlog_v2_*/events_<n>_*``) read in index order."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    for fp in files:
        with open(fp) as f:
            yield from f


def spark_event_totals(
    path: str, windows: dict[str, tuple[float, float]]
) -> dict[str, dict[str, float]]:
    """Aggregate task metrics of a Spark event log per wrapped call.

    A job belongs to the call whose job group it carries; jobs without a
    group (submitted from helper threads, which do not inherit the group)
    go to the call whose wall-clock window (epoch seconds) contains the
    job's submission time."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tot: dict[str, dict[str, float]] = {
        g: defaultdict(float) for g in windows
    }
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g not in windows:
                t = ev.get("Submission Time", 0) / 1000.0
                g = next(
                    (k for k, (a, b) in windows.items() if a <= t <= b), None
                )
            if g is None:
                continue
            job_group[ev["Job ID"]] = g
            tot[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev.get("Stage ID"))
            if job is None or job not in job_group:
                continue
            t = tot[job_group[job]]
            t["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                t["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            t["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
    return {g: dict(v) for g, v in tot.items()}
