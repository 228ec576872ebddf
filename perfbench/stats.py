"""Summary statistics for timed ops.

``latency_tail_ms`` is the nearest-rank TAIL_P-th percentile. Every run
has at least MIN_TIMED_OPS timed ops, the fewest for which that
percentile has TAIL_BEYOND timed ops beyond it; a run that ends with
fewer is incomplete and reports itself incorrect.
"""

from __future__ import annotations

import math

TAIL_P = 50
TAIL_BEYOND = 10
MIN_TIMED_OPS = 20


def rank_of(p: int, n: int) -> int:
    """1-based nearest-rank index of the p-th percentile of n values."""
    return max(1, math.ceil(p * n / 100))


def beyond(p: int, n: int) -> int:
    """How many of n sorted values lie strictly above the p-th
    percentile's rank."""
    return n - rank_of(p, n)


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank p-th percentile."""
    s = sorted(values)
    return s[rank_of(p, len(s)) - 1]
