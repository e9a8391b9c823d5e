"""In-memory spans around the calls the benchmark makes into each layer.

Spans are recorded only while :attr:`Tracer.active` is set, so the same
workload code runs untraced (end-to-end metrics) and traced (per-layer
metrics). Each span carries a name, start and end (``perf_counter_ns``),
its parent span and the id of the request, job or batch it belongs to.
A layer's self time is its duration minus the part covered by its child
spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.request: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span dict (or None)."""
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter_ns(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter_ns()
            self._stack.pop()

    def add(self, name: str, start_ns: int, end_ns: int, **attrs) -> None:
        """Record a finished span reported from elsewhere (no parent)."""
        if self.active:
            self.spans.append({
                "id": len(self.spans), "name": name, "parent": None,
                "request": None, "start": start_ns, "end": end_ns, **attrs,
            })

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_times_ms(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self time in ms."""
        child_ns: dict[int, int] = defaultdict(int)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ns[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            dur = s["end"] - s["start"]
            d["count"] += 1
            d["total_ms"] += dur / 1e6
            d["self_ms"] += (dur - child_ns[s["id"]]) / 1e6
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"self_times_ms": self.self_times_ms(), "spans": self.spans}, fh)
