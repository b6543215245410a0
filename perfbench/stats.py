"""Percentiles that a sample can support."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(samples, q: float) -> float | None:
    """Nearest-rank ``q`` percentile (0 < q < 1), or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it: a tail the sample cannot
    resolve is not reported."""
    if not 0 < q < 1:
        raise ValueError(f"q must be in (0, 1), got {q}")
    xs = sorted(samples)
    rank = math.ceil(q * len(xs))  # 1-based
    if rank == 0 or len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def median(samples) -> float | None:
    """The median is reported for any non-empty sample."""
    return statistics.median(samples) if samples else None
