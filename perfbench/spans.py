"""In-memory spans recorded around calls into the engine's layers.

A span is (name, start, end, parent, run id). Each span runs under its
own Spark job group, so the status-store counters of every job started
inside it can be attributed to it afterwards (see ``status.py``). Spans
are kept in a list and only summarised when the run ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.run_id}-{self.span_id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``sc`` (a SparkContext) is optional so the
    arithmetic can be checked without Spark."""

    def __init__(self, run_id: str, sc=None, clock=time.perf_counter):
        self.run_id = run_id
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name,
                 parent.span_id if parent else None, self.run_id,
                 self.clock())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        iv = [(max(c.start, s.start), min(c.end, s.end))
              for c in kids.get(s.span_id, [])]
        out[s.span_id] = s.duration - covered([i for i in iv if i[1] > i[0]])
    return out

