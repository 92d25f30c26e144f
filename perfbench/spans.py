"""In-memory spans around the benchmark's calls into each layer.

A span records (id, name, start, end, parent, run id). Spans are kept in
a list while the run lasts and written out once when it ends, so tracing
adds no I/O to the measured calls.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Collects spans; ``enabled=False`` makes ``span`` a plain timer so
    traced and untraced passes run the same benchmark code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields a dict the caller may add counts to; ``dt`` holds the
        elapsed seconds after the block exits."""
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dt"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, default=str)
