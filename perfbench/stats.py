"""Order statistics for latency samples.

``percentile`` interpolates linearly between closest ranks, the same
rule as ``numpy.percentile``'s default and ``statistics.quantiles(...,
method="inclusive")``, so a p50 of an even-sized sample is the mean of
the middle pair and a p90 of ten samples sits between the 9th and 10th
values.
"""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """The q-th percentile (0 <= q <= 100) of a non-empty sample."""
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def supported_percentile(n: int) -> int:
    """Highest of p50/p90/p99 with at least ten samples above it, or 0
    when even p50 has fewer (reported so a reader can discount a
    percentile taken from a thin sample)."""
    best = 0
    for q in (50, 90, 99):
        if n * (100 - q) / 100.0 >= 10:
            best = q
    return best
