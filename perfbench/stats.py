"""Percentiles the benchmark reports (medians come from
``statistics.median``)."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``th
    nearest-rank percentile."""
    return n - max(0, math.ceil(q / 100 * n))
