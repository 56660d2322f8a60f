"""Benchmark-side spans: kept in memory, written out when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Spans around the benchmark's calls into each package layer.

    A span records name, start, end, parent and run id. The parent is the
    span open when it began, so a stage's ``build`` and ``action`` spans
    hang off the stage span that caused them.
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": self.spans[self._open[-1]]["name"] if self._open else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._open.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
