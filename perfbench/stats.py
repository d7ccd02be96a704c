"""Summary statistics used by every workload."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

#: percentiles tried, highest first, by :func:`tail_percentile`
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(sorted_values: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank ``p``-th percentile of an ascending list: returns
    the value and its 1-based rank."""
    n = len(sorted_values)
    rank = max(1, math.ceil(Fraction(str(p)) * n / 100))  # exact: no float ceil error
    return sorted_values[rank - 1], rank


def tail_percentile(values, min_beyond: int = 10) -> dict | None:
    """The highest percentile of :data:`PERCENTILE_LADDER` that has at
    least ``min_beyond`` samples above its rank, with the sample
    count.  ``None`` when not even the median qualifies (fewer than
    ``2 * min_beyond`` samples)."""
    xs = sorted(values)
    n = len(xs)
    for p in PERCENTILE_LADDER:
        if n == 0:
            break
        value, rank = nearest_rank(xs, p)
        if n - rank >= min_beyond:
            return {"p": p, "value": value, "n": n, "beyond": n - rank}
    return None


def median(values, default: float = 0.0) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else default
