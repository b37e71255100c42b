"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent and run id. Self time is a span's
duration minus the part of it its children cover, so over one root span the
self times (the root's own self time being the unattributed remainder) add
up to the root's duration.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root: dict) -> dict[str, float]:
        """Self seconds per span name under ``root``; the root's own self
        time is reported as ``unattributed``."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            s = todo.pop()
            children = kids.get(s["id"], [])
            covered, reach = 0.0, s["start"]
            for c in sorted(children, key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            name = "unattributed" if s is root else s["name"]
            out[name] = out.get(name, 0.0) + (s["end"] - s["start"]) - covered
            todo.extend(children)
        return out

    def export(self, t0: float) -> list[dict]:
        """Spans with times in seconds since ``t0``."""
        return [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
