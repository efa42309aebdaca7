"""In-memory span recorder for traced runs.

A span is (name, start, end, parent, run id), recorded around each call the
benchmark makes into a layer of the program.  Spans stay in memory until the
run ends, then :meth:`Tracer.dump` writes them out with each span's self
time (its duration minus the part its children cover).  With tracing off the
recorder is a no-op, so the tracing-off runs pay nothing for it.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.own_s = 0.0   # time spent inside the recorder itself

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {"name": name, "run": self.run_id, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["end"] = end
            self._stack.pop()
            self.own_s += time.perf_counter() - end

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record a span measured elsewhere (e.g. from query progress); its
        parent defaults to the innermost open span."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"name": name, "run": self.run_id, "id": len(self.spans),
               "parent": parent, "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec["id"]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "summary": summary,
                       "self_time_s": self.self_times(),
                       "spans": self.spans}, f)
