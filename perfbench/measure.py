"""The benchmark's own arithmetic: medians, quartiles, the percentile
rule, failure counting and span self-time."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p: float) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it (it would be no tail)."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return float(sorted(values)[rank - 1])


class Tally:
    """Operations attempted and failed, with the reason for each failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, what: str, problem: str | None) -> None:
        """Count one operation; ``problem`` is None when it succeeded."""
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.reasons.append(f"{what}: {problem}")


def self_time(start: float, end: float, children) -> float:
    """Duration of [start, end] minus the part that the child intervals
    ``children`` ((start, end) pairs, possibly overlapping) cover."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
