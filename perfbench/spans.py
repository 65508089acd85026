"""In-memory spans for the traced run, and the interval arithmetic that
turns them (plus Spark job intervals) into self time and driver gaps."""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``
    ((start, end) pairs; they may overlap and may stick out of the window)."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(job_intervals, lo: float, hi: float) -> float:
    """Wall time in [lo, hi] during which no Spark job was running."""
    return (hi - lo) - covered(job_intervals, lo, hi)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float | None = None
    group: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it covered by its children
    (children may run concurrently, so their union is subtracted)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.span_id: s.duration
        - covered([(c.start, c.end) for c in kids.get(s.span_id, [])], s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans from any thread. A span's parent is the innermost
    span open on its own thread, unless the caller names one (work that
    the program runs on its own threads).

    ``on_enter``/``on_exit`` let the caller tag the thread (Spark job group)
    for the span's lifetime; the time spent in the tracer itself is
    accumulated in ``overhead_s``."""

    def __init__(self, run_id: str, on_enter=None, on_exit=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._on_enter = on_enter
        self._on_exit = on_exit

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1].span_id if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        t0 = time.perf_counter()
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].span_id
        s = Span(next(self._ids), name, parent, self.run_id, time.time())
        s.group = f"{self.run_id}:{s.span_id}"
        with self._lock:
            self.spans.append(s)
        prev = self._on_enter(s) if self._on_enter else None
        stack.append(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if self._on_exit:
                self._on_exit(s, prev)
            s.end = time.time()
            self.overhead_s += time.perf_counter() - t1

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        rows = [dict(asdict(s), self_s=st[s.span_id]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, indent=1)
