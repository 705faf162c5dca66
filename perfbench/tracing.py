"""Spans, span self time and the benchmark's timing summaries.

Spans are recorded only around the harness's own calls into the engine's
layers. They are kept in memory and written as JSON lines when the run ends;
every span of one run carries the same run id.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# percentiles considered for the tail figure reported beside the median
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


@dataclass
class Span:
    run_id: str
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    attrs: dict

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing.

    The parent of a span is the innermost open span of the same thread,
    unless ``parent`` names one explicitly (spans opened on the streaming
    callback thread pass the drain's span)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        pid = parent if parent is not None else (stack[-1] if stack else None)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(self.run_id, sid, pid, name, t0, t1, attrs))

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the part of its interval its children cover
    (children clipped to the parent; overlapping children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent_id in by_id:
            p = by_id[s.parent_id]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(p.span_id, []).append((lo, hi))
    return {s.span_id: s.duration - _covered(kids.get(s.span_id, [])) for s in spans}


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of the p-th percentile of n samples (rounded
    first, so that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least p% of the
    samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile that leaves at least MIN_BEYOND samples
    above it, or None when n is too small for any."""
    best = None
    for p in PERCENTILE_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, the highest percentile the sample supports, and the count."""
    out = {"n": len(values)}
    if not values:
        return out
    out["median"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None:
        out["p"] = p
        out["p_value"] = percentile(values, p)
    return out
