"""In-memory span tracer that wraps the engine's public functions from the
benchmark side (the engine itself is not edited).

A span records name, start, end, parent span and a trace id (the drain pass
or watch micro-batch it belongs to). Spans stay in memory and are written
out once at the end of a run. Spark jobs are attributed to spans through
job groups: every span sets its own group for its duration and restores
the enclosing one on exit, so a group's jobs are exactly the jobs the span
launched outside its child spans.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

JOB_GROUP = "spark.jobGroup.id"
JOB_DESC = "spark.job.description"


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    trace_id: str
    group: str | None = None
    jobs: int = 0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children[i], s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer's wrappers call
    straight through (one attribute test per call)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.trace_id = ""
        # time spent in span bookkeeping (job-group calls included), the
        # tracer's own share of the driver thread
        self.bookkeeping_s = 0.0
        # open spans: (index, enclosing job group and description)
        self._stack: list[tuple[int, tuple[str | None, str | None]]] = []
        self._patches: list[tuple[object, str, object]] = []

    def _enter(self, name: str) -> int:
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1][0] if self._stack else None
        span = Span(name, 0.0, None, parent, self.trace_id)
        prev = (None, None)
        if self.sc is not None:
            span.group = f"crawlbench-{idx}"
            prev = (self.sc.getLocalProperty(JOB_GROUP), self.sc.getLocalProperty(JOB_DESC))
            self.sc.setJobGroup(span.group, name)
        self.spans.append(span)
        self._stack.append((idx, prev))
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        return idx

    def _exit(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        _, (group, desc) = self._stack.pop()
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, group)
            self.sc.setLocalProperty(JOB_DESC, desc)
        self.bookkeeping_s += time.perf_counter() - span.end

    @contextmanager
    def span(self, name: str):
        """Record the enclosed code as one span named ``name``."""
        idx = self._enter(name)
        try:
            yield
        finally:
            self._exit(idx)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span
        named ``name``; ``unwrap_all`` restores the originals."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def count_jobs(self) -> None:
        """Fill each span's job count from its Spark job group."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.group is not None:
                s.jobs = len(tracker.getJobIdsForGroup(s.group))

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """name -> {self_s, calls, jobs} summed over all spans."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"self_s": 0.0, "calls": 0, "jobs": 0}
        )
        for s, st in zip(self.spans, self_times(self.spans)):
            agg = out[s.name]
            agg["self_s"] += st
            agg["calls"] += 1
            agg["jobs"] += s.jobs
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
