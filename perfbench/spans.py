"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start and end (``time.perf_counter`` seconds), the
id of the span that caused it and a request id shared by all spans of one
request. Spans stay in memory and are written once, at the end of a run.
A disabled tracer records nothing and costs one attribute check per call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            span_id = next(self._ids)
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": span_id,
                        "name": name,
                        "start": start,
                        "end": end,
                        "parent": parent,
                        "request_id": request_id,
                    }
                )

    def record(self, name: str, start: float, end: float, request_id: str | None = None) -> None:
        """Add a span measured elsewhere (e.g. by a handler thread)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(
                {
                    "id": next(self._ids),
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": None,
                    "request_id": request_id,
                }
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the part of the
    interval its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
