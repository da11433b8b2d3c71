"""Small statistics shared by the benchmark and its tests."""

from __future__ import annotations

import statistics

# candidate percentiles, highest first
PERCENTILES = (99.9, 99.0, 90.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of ``values`` (numpy's default)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``MIN_BEYOND`` samples beyond
    it, as ``(pct, value)``. Raises when not even the median qualifies."""
    n = len(values)
    for pct in PERCENTILES:
        if n * (100.0 - pct) / 100.0 >= MIN_BEYOND - 1e-9:
            return pct, percentile(values, pct)
    raise ValueError(f"{n} samples: too few for any reported percentile")


def straggler_ratio(busy_by_partition: dict[int, float]) -> float:
    """Slowest partition's busy time over the median partition's."""
    busy = list(busy_by_partition.values())
    med = statistics.median(busy)
    return max(busy) / med if med else 0.0


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
