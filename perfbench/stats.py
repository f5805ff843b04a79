"""Pure helpers: query order, percentiles and span self time."""

from __future__ import annotations

import random
import statistics
from dataclasses import dataclass

# A tail percentile is reported only where at least this many samples
# lie beyond it.
TAIL_BEYOND = 10


def pass_order(keys: list[str], seed: int, pass_index: int) -> list[str]:
    """The order a pass runs its queries in: a permutation fixed by the
    seed and the pass index."""
    return random.Random(f"{seed}/{pass_index}").sample(list(keys), len(keys))


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile with at
    least ``TAIL_BEYOND`` samples above its rank. With too few samples
    for any such percentile this is the median, reported as p50."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return 50.0, statistics.median(s)
    rank = n - TAIL_BEYOND  # 1-based; exactly TAIL_BEYOND ranks above
    return 100.0 * rank / n, s[rank - 1]


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    t0: float
    t1: float
    depth: int = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(p.sid, []).append((max(s.t0, p.t0), min(s.t1, p.t1)))
    return {
        s.sid: max(0.0, s.dur - _union_length(kids.get(s.sid, [])))
        for s in spans
    }


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose interval holds time ``t`` (spans nest)."""
    best = None
    for s in spans:
        if s.t0 <= t <= s.t1 and (best is None or s.depth > best.depth):
            best = s
    return best
