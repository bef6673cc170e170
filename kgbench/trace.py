"""Spans recorded at the benchmark's calls into each layer.

Each span has a name, start, end and parent, and runs its Spark jobs
under its own job group (``setJobGroup`` is per thread in PySpark's
pinned-thread mode), so the event log attributes every job to the
innermost span.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None):
        """Open a span; ``parent`` defaults to this thread's open span
        (pass it explicitly from a worker thread)."""
        stack = self._stack()
        parent = parent or (stack[-1] if stack else None)
        with self._lock:
            sp = Span(next(self._ids), name, parent.id if parent else None, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        self.sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1].name, stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class NullTracer:
    """Tracer's untraced twin: records no span and sets no job group."""

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None):
        yield None


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover.
    Concurrent children are counted once (union of their intervals)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        inside = [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        out[s.id] = (s.end - s.start - _covered([iv for iv in inside if iv[1] > iv[0]])) * 1000
    return out
