"""Sample statistics for the benchmark: medians, the tail rule and failure
accounting.  Pure Python, no Spark, so the rules are unit-tested on their own.

A failed call (it raised, or its output check failed) counts as attempted
and failed, and its latency counts as +inf: it misses any latency limit and
pulls every percentile of the run towards the failure side.
"""
from __future__ import annotations

import math
import statistics

# Percentile levels a tail may be reported at, highest first.
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


class Calls:
    """Latency samples of one kind of call plus attempted/failed counts."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0

    def ok(self, seconds: float) -> None:
        self.attempted += 1
        self.latencies.append(seconds)

    def fail(self) -> None:
        self.attempted += 1
        self.failed += 1
        self.latencies.append(math.inf)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def p50(self) -> float:
        return statistics.median(self.latencies)

    def tail(self):
        return tail(self.latencies)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (rounded
    first so that, e.g., 90% of 100 is rank 90, not 91)."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def _nearest_rank(samples: list[float], p: float) -> float:
    return sorted(samples)[_rank(p, len(samples)) - 1]


def tail(samples: list[float]):
    """The highest level in TAIL_LEVELS with at least MIN_BEYOND samples
    beyond it, as ``(level, value, n_samples)``; None when the run has too
    few samples for any level."""
    n = len(samples)
    for level in TAIL_LEVELS:
        if n - _rank(level, n) >= MIN_BEYOND:
            return level, _nearest_rank(samples, level), n
    return None
