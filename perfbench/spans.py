"""In-memory spans for the traced run.

A span has a name, a start, an end and the span that caused it. Spans
are kept in memory and written out once, when the run ends. The self
time of a span is its duration minus the part of it its child spans
cover; summing self times by span name gives the per-layer table.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records nested spans when enabled; a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, parent: dict | None, seconds: float, **attrs):
        """Record a child span measured by another instrument (for
        example a Catalyst phase), laid out back to back from the
        parent's start."""
        if not self.enabled or parent is None:
            return
        siblings = [s for s in self.spans if s["parent"] == parent["id"]]
        start = max([parent["start"]] + [s["end"] for s in siblings])
        self.spans.append({
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"],
            "start": start,
            "end": start + seconds,
            **attrs,
        })


def self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of self time per span name. Children of one span run one
    after another (one client thread), so their covered part is the sum
    of their durations, capped at the parent's duration."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["name"]] += max(0.0, dur - min(dur, covered[s["id"]]))
    return dict(out)
