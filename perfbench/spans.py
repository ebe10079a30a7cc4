"""In-memory span recorder for the traced benchmark run.

A span is (id, parent, name, start, end, op). Spans are recorded only around
the calls the benchmark itself makes into a layer of the engine; spans inside
the package are out of scope. All spans stay in memory and are written once,
when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs one
    attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "op": self._op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one benchmark operation; spans opened inside it
        carry its op id."""
        prev, self._op = self._op, op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = prev

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its direct children cover."""
        child_time = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]]
                for s in self.spans}

    def durations(self, name: str) -> list[float]:
        """Durations of the spans called ``name`` inside operations."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["op"] is not None]

    def self_durations(self, name: str) -> list[float]:
        """Self times of the spans called ``name`` inside operations."""
        st = self.self_times()
        return [st[s["id"]] for s in self.spans
                if s["name"] == name and s["op"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"clock": "perf_counter_s", "spans": self.spans}, fh)


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of recording one span (enter, exit, bookkeeping)."""
    tr = Tracer(enabled=True)
    t0 = time.perf_counter()
    with tr.op(0, "op"):
        for _ in range(n):
            with tr.span("layer"):
                pass
    return (time.perf_counter() - t0) / (n + 1)
