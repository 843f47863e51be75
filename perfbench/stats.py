"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

#: Percentiles the tail rule chooses from, highest first.
TAIL_CANDIDATES = (99, 95, 90, 75, 50)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest percentile in :data:`TAIL_CANDIDATES` that leaves at
    least ``beyond`` of ``n`` samples above its nearest-rank sample; None
    when even the median does not."""
    for p in TAIL_CANDIDATES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= beyond:
            return p
    return None


def failed_frac(attempted: int, failed: int) -> float:
    """Share of attempted ops that raised, were cancelled or were wrong."""
    if attempted <= 0:
        raise ValueError("no op attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def geomean(values: list[float]) -> float:
    """Geometric mean: every op weighs the same whatever its length, so a
    change to any one op moves it by that op's own ratio."""
    return statistics.geometric_mean(values)


def iqr_share(values: list[float]) -> float:
    """Distance between first and third quartile as a share of the median
    (``statistics.quantiles(values, n=4)``, the default exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
