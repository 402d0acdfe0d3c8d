"""In-memory span recorder for the traced run.

Spans are kept in a list while the run measures and written out once, at
the end, so recording costs no I/O inside the timed region. A span has a
name, start and end (wall clock, seconds), the id of the span that caused
it, and free-form counts.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        """Time the body; a no-op yielding ``None`` when tracing is off."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **counts) -> None:
        """Record a span measured elsewhere (e.g. a micro-batch)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                               "start": start, "end": end, "counts": dict(counts)})

    def durations(self, name: str) -> list[float]:
        """Duration of every finished span with this name."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
