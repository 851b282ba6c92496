"""In-memory spans recorded by the benchmark around its calls into the
engine: name, start, end, parent and request id. Kept in memory while the
run measures and written out when it ends.

A disabled tracer hands out one shared no-op context, so the untraced run
pays one attribute lookup per call site.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

_NULL = contextlib.nullcontext()


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def span(self, name: str, request: int | None = None):
        return self._span(name, request) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str, request: int | None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(next(self._ids), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, request)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            with self._lock:
                self.spans.append(s)

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, request: int | None = None) -> int:
        """Record a span whose bounds were measured elsewhere (e.g. from a
        callback's own timings); returns its id for use as a parent."""
        if not self.enabled:
            return 0
        s = Span(next(self._ids), name, start, end, parent, request)
        with self._lock:
            self.spans.append(s)
        return s.id

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
