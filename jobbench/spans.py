"""In-memory span recorder: (name, start, end, parent, run id) around the
benchmark's calls into each package module, written out once at the end.
A disabled tracer hands out a shared no-op context, so untimed and timed
code share one path."""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = ""
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = Span(name, time.perf_counter(), 0.0, parent, self.run_id, sid)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    def total(self, name: str) -> float:
        """Summed duration of every span called `name`."""
        return sum(s.seconds for s in self.spans if s.name == name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
