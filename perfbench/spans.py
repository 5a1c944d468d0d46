"""In-memory spans for the traced run.

A span covers one call into a layer: workload -> pass (or daily run) ->
operation -> build / execute (or bronze / silver / gold). Every span
carries its name, start, end and parent, and all spans of one run share
the run id. Spans stay in memory until the run ends and are written once.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans; ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool = True, clock=time.perf_counter):
        self.run_id = run_id
        self.enabled = enabled
        self._clock = clock
        self._t0 = clock()
        self._stack: list[int] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body as a child of the innermost open span."""
        if not self.enabled:
            yield None
            return
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": self._clock() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self._clock() - self._t0

    def write(self, path: str) -> None:
        """Write every span, with its self time, as one JSON document."""
        selfs = self_times(self.spans)
        out = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": out}, fh)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []))
        for s in spans
    }


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]]
    return out
