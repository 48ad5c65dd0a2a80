"""Percentiles with an explicit sample-sufficiency check."""

from __future__ import annotations

import math

# a percentile is fit to gate on only with this many samples beyond it
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in [0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(values: list[float], p: float) -> int:
    """How many samples lie strictly above the ``p``-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def tail_supported(values: list[float], p: float, need: int = MIN_TAIL_SAMPLES) -> bool:
    """True when the ``p``-th percentile has ``need`` samples beyond it."""
    return bool(values) and samples_beyond(values, p) >= need
