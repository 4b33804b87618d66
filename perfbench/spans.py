"""In-memory spans for the traced run.

Every span records its name, start, end, the span that caused it and the
operation it belongs to, plus free-form attributes (counts measured at
that boundary). Spans are kept in memory and written out once, at the end
of the run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int = -1, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, op, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class NullTracer(Tracer):
    """Tracer used for untraced operations: records nothing."""

    @contextmanager
    def span(self, name: str, op: int = -1, **attrs):
        yield Span(-1, name, op, None, 0.0, attrs=attrs)
