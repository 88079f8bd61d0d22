"""In-memory spans around the benchmark's calls into the program.

A span records name, start, end, parent span and run id. Spans stay in
memory and are written once, when the benchmark ends. With tracing off
``span`` still times its block (the loops need the wall) but records
nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "run", "parent", "start", "end")

    def __init__(self, sid: int, name: str, run: str | None, parent: int | None):
        self.id, self.name, self.run, self.parent = sid, name, run, parent
        self.start = time.perf_counter()
        self.end = self.start

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if run is None and parent is not None:
            run = parent.run
        s = Span(len(self.spans), name, run, parent.id if parent else None)
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.seconds - child[s.id]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "run": s.run, "parent": s.parent,
                    "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
                }) + "\n")
