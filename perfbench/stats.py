"""Summary statistics the benchmark reports.

Timings are reported as a median plus the highest percentile that has at
least ``MIN_BEYOND`` samples beyond it; with fewer than
``2 * MIN_BEYOND`` samples only the median is supported.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile above the median with ``min_beyond``
    samples past it, or None when ``n`` supports only the median.

    p is supported when n * (1 - p/100) >= min_beyond, so 100 samples
    support p90 and 1000 support p99.
    """
    if n < 2 * min_beyond:
        return None
    p = 100 * (n - min_beyond) // n
    return max(50, min(p, 99))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    """{"n", "p50", "tail_pct", "tail"}; tail fields are None when the
    sample count supports only the median."""
    if not values:
        raise ValueError("summary of an empty sample")
    pct = supported_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail_pct": pct,
        "tail": percentile(values, pct) if pct is not None else None,
    }


class OpCounter:
    """Counts operations attempted and failed. An operation fails when
    it raises or when its output check misses."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    @property
    def failed_frac(self) -> float:
        if self.attempted == 0:
            raise ValueError("no operation attempted")
        return self.failed / self.attempted
