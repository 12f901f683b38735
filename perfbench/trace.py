"""In-memory spans recorded around calls into the engine's layers.

A span has a name, a start, an end, the span that caused it and the op
it belongs to.  Spans stay in memory; when the run ends they are
summarised into the per-layer metrics and dumped to standard error.
With tracing off, :class:`Tracer` records nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    op: int = -1
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, last = 0.0, self.start
        for ch in sorted(self.children, key=lambda s: s.start):
            lo, hi = max(ch.start, last), min(ch.end, self.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return self.dur - covered


class Tracer:
    """Records spans and counts; ``enabled=False`` makes both no-ops."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self.op = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None,
                  op=self.op)
        if sp.parent is not None:
            sp.parent.children.append(sp)
        self._stack.append(sp)
        self.spans.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - sp.end

    def count(self, name: str, value: float) -> None:
        """Add to a counter; counts are kept for window ops only."""
        if self.enabled and self.op >= 0:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def dump(self) -> list[dict]:
        """Every span as a plain record (times relative to the first)."""
        t0 = self.spans[0].start if self.spans else 0.0
        ids = {id(s): i for i, s in enumerate(self.spans)}
        return [{"id": i, "name": s.name, "op": s.op,
                 "parent": ids[id(s.parent)] if s.parent else None,
                 "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
                 "self": round(s.self_time, 6)}
                for i, s in enumerate(self.spans)]

    def named(self, name: str, window_only: bool = True) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (s.op >= 0 or not window_only)]
