"""Order statistics used by every reported timing.

Percentiles interpolate linearly between the two closest ranks (the
"linear" rule of numpy and of Excel's PERCENTILE.INC): the p-th
percentile of n ascending samples sits at position h = (n - 1) * p / 100.
A tail percentile is only meaningful when enough samples lie beyond it,
so ``supported_percentile`` names the highest standard percentile with at
least ``MIN_BEYOND`` samples above its position.
"""

from __future__ import annotations

import math
from fractions import Fraction

STANDARD_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _position(n: int, p: float) -> Fraction:
    """h = (n - 1) * p / 100, exact for decimal p such as 99.9."""
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    return Fraction(str(p)) * (n - 1) / 100


def percentile(values, p: float) -> float:
    """Linearly interpolated percentile; raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    h = _position(len(ordered), p)
    lo = math.floor(h)
    if lo + 1 >= len(ordered):
        return float(ordered[-1])
    return float(ordered[lo] + float(h - lo) * (ordered[lo + 1] - ordered[lo]))


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples rank strictly above the p-th percentile's position."""
    return n - 1 - math.floor(_position(n, p))


def supported_percentile(n: int) -> float | None:
    """The highest standard percentile with >= MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    best = None
    for p in STANDARD_PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best

