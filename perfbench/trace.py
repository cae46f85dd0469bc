"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, a start and end (``time.time()`` seconds), a parent
span and the op it belongs to. When a :class:`~perfbench.probe.SparkCounters`
is attached, every span also records the job and stage id marks at its
two ends, so Spark work is attributed to the boundary that fired it.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    tag: str | None = None  # kind of pass: cold, warm or traced
    marks: tuple[tuple[int, int], tuple[int, int]] | None = None  # (job, stage) at start, end

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, counters=None) -> None:
        self.spans: list[Span] = []
        self.counters = counters
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, start: float | None = None):
        """Time the block; ``start`` backdates the span (process start)."""
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, 0.0, 0.0, parent, op)
        self.spans.append(s)
        self._stack.append(s.id)
        m0 = self.counters.mark() if self.counters else None
        s.start = time.time() if start is None else start
        try:
            yield s
        finally:
            s.end = time.time()
            if m0 is not None:
                s.marks = (m0, self.counters.mark())
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span) -> Span:
        """Record a span measured elsewhere (a micro-batch), clamped into
        its parent so the tree stays nested."""
        start = min(max(start, parent.start), parent.end)
        end = min(max(end, start), parent.end)
        s = Span(len(self.spans), name, start, end, parent.id, parent.op)
        self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, cur), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cur = hi
        return span.dur - covered

    def self_by_name(self, root: Span) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.subtree(root):
            out[s.name] += self.self_time(s)
        return dict(out)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
