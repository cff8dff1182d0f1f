"""In-memory spans recorded around the benchmark's calls into the engine.

A span has a name, start and end (``time.perf_counter`` seconds), the id
of the span that opened it, the id of the request or operator it serves
and a dict of counters read at its boundaries. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans; ``span`` is a context manager yielding the
    open span so the caller can attach counters to it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            request=request,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of
        it its children cover (children of one span do not overlap)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[s.id]
        return out

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump({**header, "spans": [asdict(s) for s in self.spans]}, f)


class NullTracer(Tracer):
    """Tracer used with tracing off: opens no spans and records nothing."""

    @contextmanager
    def span(self, name: str, request: str | None = None):
        yield Span(id=-1, name=name, parent=None, request=request, start=0.0)
