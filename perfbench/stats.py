"""Small numeric helpers shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``,
    the "inclusive" definition (numpy's default): p0 is the minimum,
    p100 the maximum."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def ratio(num: float, den: float) -> float:
    """``num / den``, or 0.0 when nothing was attempted (den == 0)."""
    return float(num) / float(den) if den else 0.0


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
