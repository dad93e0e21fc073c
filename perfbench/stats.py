"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math

# a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float] | None:
    """``(percentile, value)`` at the highest whole percentile that leaves
    at least ``TAIL_BEYOND`` samples strictly above its rank, or None when
    there are too few samples for any.

    The value at percentile p is the sorted sample at rank
    ceil(p/100 * n) (nearest-rank), which leaves n - rank samples beyond
    it; the highest p with n - rank >= TAIL_BEYOND is returned.
    """
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(values)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= TAIL_BEYOND:
            return float(p), float(ordered[rank - 1])
    return None

