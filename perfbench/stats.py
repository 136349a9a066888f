"""Order statistics used by the benchmark's metrics.

Percentiles are nearest-rank, so every reported value is one that was
actually measured.  A tail percentile is only reported where at least
``TAIL_BEYOND`` samples lie beyond it.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(p / 100 * len(ordered))
    return ordered[max(rank, 1) - 1]


def median(values: Sequence[float]) -> float:
    """Middle value; the mean of the two middle values for an even count."""
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2


def geomean(values: Iterable[float]) -> float:
    """Geometric mean: each value weighs the same, however large it is."""
    logs = [math.log(v) for v in values]
    if not logs:
        raise ValueError("geomean of no samples")
    return math.exp(sum(logs) / len(logs))


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ``TAIL_BEYOND`` of ``n``
    samples above its nearest-rank position, or None when ``n`` is too
    small for any percentile to have that many beyond it.

    With nearest rank, ``ceil(p n / 100)`` samples sit at or below the
    p-th percentile, so ``n - ceil(p n / 100) >= TAIL_BEYOND`` holds
    exactly for ``p <= 100 (n - TAIL_BEYOND) / n``.
    """
    if n <= TAIL_BEYOND:
        return None
    p = (100 * (n - TAIL_BEYOND)) // n
    return p if p > 0 else None
