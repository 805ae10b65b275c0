"""Spans, counters and the statistics the benchmark reports.

Pure Python (no Spark), so the arithmetic is unit-tested on its own.

A span records name, start, end, parent and request id. Spans live in
memory and are written out once, when the run ends. A span's self time
is its duration minus the part of its interval that its children
cover, so the self times of a request's spans sum to the request span's
duration.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans and counters; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, clock=time.perf_counter) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._clock = clock
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(next(self._ids), name, self._clock(), 0.0,
                 parent.id if parent else None, request, attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            self.spans.append(s)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counters": self.counters}, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - _covered(children.get(s.id, []), s.start, s.end)
            for s in spans}


# ------------------------------------------------------------------ statistics
TAIL_BEYOND = 3


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, sample count). With n samples sorted
    ascending, the value is the (n-TAIL_BEYOND)-th smallest, which leaves
    TAIL_BEYOND samples above it, and the percentile is
    100*(n-TAIL_BEYOND)/n. With TAIL_BEYOND samples or fewer, none has
    that many beyond it; that raises.
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: need more than {TAIL_BEYOND} for a tail")
    k = n - TAIL_BEYOND
    return sorted(samples)[k - 1], 100.0 * k / n, n


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Tally:
    """Requests attempted and failed; a request fails if it raised or if
    its output failed its check."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
