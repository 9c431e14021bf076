"""In-memory span recorder.

A span is one call into a layer: name, start, end, the span that was
open when it began (its parent), and the workload, run and crawl round
it belongs to.  Spans stay in memory and are written out once, when the
run ends.  A span's self time is its duration minus the part of that
interval its child spans cover, so the self times of a tree sum to the
duration of its root.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    workload: str
    run: str
    round: int | None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.name!r} is still open")
        return self.end - self.start


class Tracer:
    def __init__(self, workload: str, run: str, clock=time.perf_counter):
        self.workload = workload
        self.run = run
        self.round: int | None = None
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str, round: int | None = None):
        parent = self._open[-1] if self._open else None
        s = Span(
            id=len(self.spans), name=name, start=self._clock(), end=None,
            parent=parent, workload=self.workload, run=self.run,
            round=self.round if round is None else round,
        )
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._open.pop()

    def record(self, name: str, start: float, end: float) -> Span:
        """Add an already-finished root span (timed before tracing began)."""
        s = Span(
            id=len(self.spans), name=name, start=start, end=end, parent=None,
            workload=self.workload, run=self.run, round=None,
        )
        self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def rows(self) -> list[dict]:
        """The spans as JSON-ready dicts, each with its self time."""
        return [{**asdict(s), "self": self.self_time(s)} for s in self.spans]


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, start), min(hi, end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    return span.duration - covered(
        span.start, span.end, [(c.start, c.end) for c in children]
    )
