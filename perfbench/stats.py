"""Percentile helpers shared by the closed- and open-loop workloads."""

from __future__ import annotations

import math

# Percentiles considered for the reported tail, lowest first.
TAIL_LADDER = (50.0, 90.0, 99.0, 99.9, 99.99)
# A tail percentile is reported only if at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile {p} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """Number of ranks strictly above the interpolation position of the
    p-th percentile in a sorted sample of n (see ``percentile``)."""
    if n == 0:
        return 0
    return n - 1 - math.floor((n - 1) * p / 100.0 + 1e-9)


def tail_percentile(values, ladder=TAIL_LADDER, min_beyond: int = MIN_BEYOND):
    """The highest ladder percentile with at least ``min_beyond`` samples
    beyond it, as ``(p, value)``; ``None`` when even the lowest rung lacks
    them (the sample is too small to say anything about its tail)."""
    best = None
    for p in ladder:
        if samples_beyond(len(values), p) >= min_beyond:
            best = (p, percentile(values, p))
    return best


