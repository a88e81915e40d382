"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent); the parent is whichever span
was open on the calling thread when the span started. Spans stay in
memory and are written as JSON once, at exit. A layer's self time is the
sum of its spans' durations minus the part of each covered by child
spans, grouped by the layer prefix of the span name ("broker.read_range"
-> "broker").
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per layer (span-name prefix), in seconds."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            )
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    @staticmethod
    def cost_per_span(n: int = 2000) -> float:
        """Seconds one recorded span adds, measured on a scratch tracer."""
        scratch = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with scratch.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
