"""In-memory spans and counts recorded around calls into the engine's layers.

A span is (name, start, end, parent, request id). Spans live in memory and
are written as JSON lines when the run ends, followed by the run's
per-layer counts and timings. A layer is the part of a span
name before its first dot; its self time is its spans' time minus the time
their child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: "list[dict]" = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request: "int | None" = None, parent: "dict | None" = None):
        """Times the body; yields the span dict (``None`` when tracing is
        off). The parent is the innermost open span of this thread, or
        ``parent`` for a call the engine makes on another thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = parent or (stack[-1] if stack else None)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent["request"] if parent else None),
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def off(self):
        """Records nothing in the body (warm-up work)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def durations(self, name: str, **match) -> "list[float]":
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    def self_seconds(self) -> "dict[str, float]":
        """Σ self time per layer."""
        child_time: "dict[int, float]" = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: "dict[str, float]" = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = max(0.0, s["end"] - s["start"] - child_time.get(s["id"], 0.0))
            out[layer] = out.get(layer, 0.0) + own
        return out

    def write(self, path: str, layers: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"layers": layers}) + "\n")
