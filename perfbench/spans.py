"""Spans for the traced run.

One span per layer call, recorded from the benchmark around the call
into the package: name, start, end, parent span and a per-run trace id.
Each span also sets a Spark job group, so the event-log reader can
attribute Spark's task and SQL metrics to the layer. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

GROUP_PROPERTY = "spark.jobGroup.id"


class Tracer:
    def __init__(self):
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext once the session exists

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; jobs started inside run in
        the span's own job group (restored afterwards)."""
        rec = {
            "trace_id": self.trace_id,
            "span_id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        rec["group"] = f"{name}#{rec['span_id']}"
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        sc = self.sc
        prev = sc.getLocalProperty(GROUP_PROPERTY) if sc else None
        if sc:
            sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc:
                sc.setLocalProperty(GROUP_PROPERTY, prev)

    def durations(self) -> dict[int, float]:
        return {s["span_id"]: s["end"] - s["start"] for s in self.spans}

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its (sequential) children cover."""
        dur = self.durations()
        out = dict(dur)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= dur[s["span_id"]]
        return out

    def covered(self) -> float:
        """Time covered by root spans (roots never overlap: calls run
        one after another)."""
        dur = self.durations()
        return sum(dur[s["span_id"]] for s in self.spans if s["parent"] is None)

    def write(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                f.write(json.dumps(rec, default=str) + "\n")
