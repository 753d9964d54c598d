"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math

# A percentile is only reported when at least this many samples lie above
# it; fewer and the value is set by one or two outliers.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank q-th percentile (0 < q < 100), or None when fewer than
    MIN_BEYOND samples lie strictly beyond its rank."""
    n = len(values)
    rank = math.ceil(q / 100.0 * n)  # 1-based nearest rank
    if n == 0 or n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
