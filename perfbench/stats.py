"""Small statistics helpers shared by the benchmark and its steadiness tool."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile p with at least ``beyond`` of ``n`` samples
    strictly above the p-th percentile's rank, or None when ``n`` is too
    small to have any tail (fewer than ``beyond + 1`` samples).

    With nearest-rank percentiles the p-th percentile is the sample at
    rank ``ceil(p/100 * n)``, leaving ``n - rank`` samples beyond it.
    """
    if n <= beyond:
        return None
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= beyond:
            return p
    return None


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """(percentile, value) of the highest percentile with ``beyond``
    samples past it, or None if there are too few samples."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return None
    return p, percentile(values, p)


def settled(times: list[float], window: int, tolerance: float, minimum: int) -> bool:
    """Warm-up end test: True once at least ``minimum`` operations ran and
    the median of the last ``window`` operation times differs from the
    median of the ``window`` before it by at most ``tolerance`` (a share of
    the earlier median), i.e. operation time has stopped drifting."""
    if len(times) < max(minimum, 2 * window):
        return False
    recent = statistics.median(times[-window:])
    before = statistics.median(times[-2 * window : -window])
    return abs(recent - before) <= tolerance * before


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles, (q3 - q1) / median and (max - min) / median."""
    q1, med, q3 = quartiles(values)
    scale = abs(med) if med else 1.0
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / scale,
        "range_share": (max(values) - min(values)) / scale,
        "n": len(values),
    }
