"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics

# percentiles the tail rule may report, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    # rounded first: 99.9 / 100 * 10_000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median has fewer than ten beyond."""
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= 10:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile the ≥10-beyond rule allows, and the
    sample count."""
    out = {"n": len(values), "median": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out
