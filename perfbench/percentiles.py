"""The reporting rule for latency samples: the median, plus the highest
percentile that still has at least ten samples beyond it."""

from __future__ import annotations

import math

CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(values, p: float) -> float:
    s = sorted(values)
    return s[max(math.ceil(p / 100 * len(s)), 1) - 1]


def tail(values) -> tuple[float, float, int] | None:
    """(percentile, value, sample count) for the highest candidate
    percentile with ``MIN_BEYOND`` samples above its rank; None when
    even the median lacks them."""
    n = len(values)
    for p in CANDIDATES:
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            return p, nearest_rank(values, p), n
    return None
