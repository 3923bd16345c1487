"""Summary statistics shared by the workloads (pure Python, no Spark)."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs, beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """Highest percentile with at least ``beyond`` samples above it.

    Nearest-rank: with n sorted samples the answer is the sample at
    rank ``n - beyond`` (1-based), i.e. the percentile
    ``100 * (n - beyond) / n``. With fewer than ``2 * beyond`` samples
    not even the median has that many above it; the tail is then the
    maximum (percentile 100). Returns ``(percentile, value)``."""
    s = sorted(xs)
    n = len(s)
    if n < 2 * beyond:
        return 100.0, float(s[-1])
    return 100.0 * (n - beyond) / n, float(s[n - beyond - 1])


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0

