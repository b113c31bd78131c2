"""Order statistics the benchmark reports.

Quartiles use ``statistics.quantiles(values, n=4)`` (the "exclusive"
method), the same rule used to judge run-to-run spread. The tail rule
reports the highest percentile that still has at least ``MIN_BEYOND``
samples above it, so a tail figure is never read off one or two
samples.
"""

from __future__ import annotations

import math
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) of ``values``; a single value is its own quartiles."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("quartiles of an empty sample")
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def relative_iqr(values) -> float:
    """Distance between the quartiles as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def geomean(values) -> float:
    vals = [float(v) for v in values]
    if not vals or min(vals) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def tail(values) -> tuple[float, float, int] | None:
    """(percentile, value, samples beyond) for the highest percentile in
    TAIL_PERCENTILES with at least MIN_BEYOND samples ranked above it,
    or None when the sample is too small (fewer than 2 * MIN_BEYOND).

    The p-th percentile is the nearest-rank value: rank ceil(p/100 * n).
    """
    vals = sorted(float(v) for v in values)
    n = len(vals)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(round(p * n / 100.0, 9)))  # 99.9% of 10000 is 9990
        beyond = n - rank
        if beyond >= MIN_BEYOND:
            return p, vals[rank - 1], beyond
    return None
