"""The benchmark's own arithmetic: interval unions, span self time,
percentiles with the ten-samples-beyond rule, and an in-memory span
recorder.

Pure Python with no Spark import, so it is unit-tested on its own
(``python -m pytest perfbench``).
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager

# Tail percentiles the report considers, highest first. A tail is
# reported only when at least MIN_BEYOND samples lie beyond it.
TAILS = (0.999, 0.99, 0.9)
MIN_BEYOND = 10


def interval_union(intervals, lo=None, hi=None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs), each
    clipped to [lo, hi] when given. Overlapping intervals count once, so
    concurrent Spark jobs are never summed."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def percentile(values, q: float) -> float:
    """Linearly interpolated percentile (q in [0, 1]) of a non-empty
    sample, the same rule as ``numpy.percentile``'s default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 0.5)


def supported_tail(n: int):
    """The highest tail in TAILS that leaves at least MIN_BEYOND of
    ``n`` samples beyond it, or None when the sample is too small."""
    for q in TAILS:
        if n * (1.0 - q) >= MIN_BEYOND - 1e-9:
            return q
    return None


def summarize(values) -> dict:
    """Median, sample count and the supported tail of one timing."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = median(values)
    q = supported_tail(len(values))
    if q is not None:
        out[f"p{q * 100:g}"] = percentile(values, q)
    return out


def self_time(span: dict, children) -> float:
    """A span's duration minus the part of it its children cover."""
    covered = interval_union(
        ((c["start"], c["end"]) for c in children),
        lo=span["start"],
        hi=span["end"],
    )
    return (span["end"] - span["start"]) - covered


class Tracer:
    """Spans kept in memory: name, start, end, parent, request id.

    ``enabled=False`` makes every call a no-op, so untraced runs carry
    no recording cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None

    def add(self, name, start, end, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "request": self.request,
                **attrs,
            }
        )
        return len(self.spans) - 1

    def open(self, name, **attrs) -> int | None:
        """Start a span that becomes the parent of spans added until
        ``close``."""
        if not self.enabled:
            return None
        sid = self.add(name, time.time(), None, **attrs)
        self._stack.append(sid)
        return sid

    def close(self, sid) -> None:
        if sid is None:
            return
        if self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} closed out of order")
        self._stack.pop()
        self.spans[sid]["end"] = time.time()

    @contextmanager
    def span(self, name, **attrs):
        sid = self.open(name, **attrs)
        try:
            yield sid
        finally:
            self.close(sid)

    def innermost(self, request, t, root=None):
        """Id of the latest-starting (so deepest) span of ``request``
        that contains time ``t``; ``root`` when none does."""
        best, best_start = root, None
        for s in self.spans:
            if s["request"] != request or s["end"] is None:
                continue
            if s["start"] <= t <= s["end"] and (
                best_start is None or s["start"] > best_start
            ):
                best, best_start = s["id"], s["start"]
        return best

    def durations(self, name, skip_request_prefix=None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and not (
                skip_request_prefix
                and (s["request"] or "").startswith(skip_request_prefix)
            )
        ]

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self_time(
                s, kids.get(s["id"], [])
            )
        return out
