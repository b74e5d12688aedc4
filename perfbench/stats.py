"""Summary statistics for the benchmark's samples.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it, so a tail figure always rests on real tail samples. Percentiles
use the nearest-rank definition: the p-th percentile of n sorted samples is
the one at 1-based rank ceil(p/100 * n), with n - rank samples beyond it.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
# candidate tail percentiles, highest first
TAIL_CHOICES = (95, 50)


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def percentile(values: list[float], p: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than MIN_BEYOND samples
    lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, p) < MIN_BEYOND:
        return None
    return sorted(values)[max(1, math.ceil(p / 100.0 * n)) - 1]


def tail(values: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest of TAIL_CHOICES the sample supports."""
    for p in TAIL_CHOICES:
        v = percentile(values, p)
        if v is not None:
            return p, v
    return None


def median(values: list[float]) -> float:
    """Plain median (mean of the middle pair for even n) — used for
    repeated whole-phase timings such as set-up passes, not for request
    latency percentiles."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0
