"""Small statistics shared by the benchmark and its tests.

* ``median`` / ``spread``: the steadiness rule — the distance between the
  first and third quartile (``statistics.quantiles(values, n=4)``) as a
  share of the median.
* ``outcome``: operations attempted and failed; a failed correctness
  check counts every operation of the run as failed.
"""
from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives
    them (the default 'exclusive' method)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    mid = median(values)
    return (q3 - q1) / abs(mid) if mid else math.inf


def outcome(attempted: int, failed: int, correct: bool) -> tuple[int, int]:
    """(attempted, failed) for the result line. ``attempted`` is at least
    1; an incorrect run fails every operation it attempted."""
    attempted = max(1, int(attempted))
    failed = attempted if not correct else min(int(failed), attempted)
    return attempted, failed


def failed_share(attempted: int, failed: int) -> float:
    return failed / attempted if attempted else 1.0
