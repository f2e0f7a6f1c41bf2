"""Small summary statistics used for every reported figure."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def geomean(xs: list[float]) -> float:
    return float(math.exp(sum(math.log(x) for x in xs) / len(xs)))


def tail_percentile(n: int) -> int | None:
    """The highest of p99/p90/p50 that leaves at least ten samples
    beyond it, or None."""
    for q in (99, 90, 50):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None
