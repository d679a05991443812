"""Small statistics shared by the runner and the workloads."""

from __future__ import annotations

import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10  # samples a tail percentile needs above it


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values):
    """(value, percentile, n) for the highest percentile with at least
    ``TAIL_BEYOND`` samples above it, or None when there are too few."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = int(n * p / 100.0)  # samples at or below the percentile
        if n - rank >= TAIL_BEYOND and rank >= 1:
            return xs[rank - 1], p, n
    return None


def failures(results) -> tuple[int, int]:
    """(attempted, failed) unit ops over operation results."""
    return sum(r.attempted for r in results), sum(r.failed for r in results)
