"""In-memory spans recorded around calls into the program's layers.

A span is (name, start, end, parent, op). Spans live in a list until
the run ends and are then written out as JSON. A layer's self time is
its span's duration minus the part of that interval covered by its
child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            self_s = (s["end"] - s["start"]) - child_time[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + self_s
        return out

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, "self_s": self.self_times()}, fh, indent=1)


class NullTracer(Tracer):
    """Untraced runs: the same call sites, nothing recorded."""

    @contextmanager
    def span(self, name: str):
        yield None
