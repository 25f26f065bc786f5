"""Summary statistics for per-operation latencies."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # a tail value needs this many samples above it


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_BEYOND`` samples beyond it: the sample at 1-based rank
    ``n - TAIL_BEYOND``. With fewer than ``2 * TAIL_BEYOND`` samples that
    rank falls at or below the median, so the maximum (percentile 100) is
    reported instead: the tail is never read below the median."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    n = len(s)
    if n < 2 * TAIL_BEYOND:
        return s[-1], 100.0
    rank = n - TAIL_BEYOND
    return s[rank - 1], 100.0 * rank / n


def summary(values: list[float]) -> dict:
    """Median, tail and sample count of one operation class."""
    t, pct = tail(values)
    return {
        "p50": statistics.median(values),
        "tail": t,
        "tail_pct": pct,
        "samples": len(values),
    }
