"""Pure helpers: percentiles, span self time and failure counting."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

# A percentile is reported only if at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10
# The tail percentile is p90 once there are enough samples for it.
TAIL_CAP = 0.90


def tail_quantile(n: int) -> float:
    """Highest quantile (capped at p90) with ``TAIL_SAMPLES`` samples beyond it.

    Under the nearest-rank definition used by :func:`percentile`, the
    samples beyond quantile ``q`` number ``n - ceil(q * n)``, so the
    highest admissible ``q`` is ``(n - TAIL_SAMPLES) / n``.  Below
    ``2 * TAIL_SAMPLES`` samples no quantile above the median
    qualifies, and the median is returned.
    """
    return min(TAIL_CAP, max(0.5, (n - TAIL_SAMPLES) / n))


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(round(q * len(ordered), 9)))
    return ordered[rank - 1]


def beyond(values: Sequence[float], q: float) -> int:
    """Number of samples strictly after the nearest-rank ``q`` percentile."""
    return len(values) - max(1, math.ceil(round(q * len(values), 9)))


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """Duration of ``span`` minus the part of it its children cover.

    Children are clipped to the span, and overlapping children are
    counted once, so the result is never negative.
    """
    start, end = span
    clipped = [
        (max(start, s), min(end, e)) for s, e in children if e > start and s < end
    ]
    return (end - start) - union_length(clipped)


def failed_frac(attempted: int, raised: int, check_failed: int) -> float:
    """(invocations that raised + keys whose output check failed) / attempted."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    return (raised + check_failed) / attempted
