"""Order statistics for run-to-run figures.

`median` is the true median: for an even count it is the mean of the two
middle values, never the upper one (`srt[len // 2]`).
"""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them
    (the exclusive method); a single value is its own quartiles."""
    values = list(values)
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def tail_percentile(values) -> tuple[int, float] | None:
    """The highest percentile p (out of 50, 90, 99, 99.9) that still has at
    least ten samples beyond it, with its value; None under 20 samples, where
    not even the median has ten on each side."""
    srt = sorted(values)
    n = len(srt)
    best = None
    for p in (50, 90, 99, 99.9):
        if round(n * (100 - p) / 100, 9) < 10:
            break
        # nearest-rank percentile
        k = max(0, min(n - 1, math.ceil(round(p * n / 100, 9)) - 1))
        best = (p, float(srt[k]))
    return best
