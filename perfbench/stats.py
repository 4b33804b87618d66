"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

# a tail percentile is reported only where this many samples lie beyond it
TAIL_SAMPLES = 10


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (0..100), linear interpolation between the
    closest ranks (the same rule as numpy's default)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def weighted_percentile(values: list[float], weights: list[float], p: float) -> float:
    """The ``p``-th percentile of the distribution that gives each value its
    weight: the smallest value whose cumulative weight reaches ``p`` % of
    the total."""
    if not values:
        raise ValueError("percentile of an empty sample")
    pairs = sorted(zip(values, weights))
    target = sum(weights) * p / 100.0
    acc = 0.0
    for x, w in pairs:
        acc += w
        if acc >= target - 1e-12:
            return x
    return pairs[-1][0]


def tail_percentile(n: int) -> float | None:
    """The highest percentile that still has ``TAIL_SAMPLES`` of ``n``
    samples above it, or None where no such point lies above the median
    (fewer than ``2 * TAIL_SAMPLES + 2`` samples)."""
    if n < 2 * TAIL_SAMPLES + 2:
        return None
    return 100.0 * (n - 1 - TAIL_SAMPLES) / (n - 1)
