"""Summary statistics the benchmark reports (stdlib only)."""

from __future__ import annotations

import math
import statistics

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def nearest_rank(sorted_values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile of already-sorted values: (value, samples
    strictly after its rank)."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1], n - rank


def tail(values: list[float]) -> dict | None:
    """The highest ladder percentile with at least MIN_BEYOND samples beyond
    it, as {"pct", "value", "n", "beyond"}; None when no percentile
    qualifies (fewer than 2 * MIN_BEYOND samples)."""
    s = sorted(values)
    best = None
    for pct in TAIL_LADDER:
        value, beyond = nearest_rank(s, pct) if s else (0.0, 0)
        if beyond >= MIN_BEYOND:
            best = {"pct": pct, "value": value, "n": len(s), "beyond": beyond}
    return best
