"""The harness's own arithmetic: medians, the tail rule, span self time
and failure counting.  No Spark here, so the tests pin it directly."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# a tail percentile is only reported when at least this many samples lie
# beyond it; fewer and the "tail" is one or two unlucky samples
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile with at least
    ``beyond`` samples above it, or None when the sample is too small.

    With n sorted samples the value is the one at index n - beyond - 1,
    so exactly ``beyond`` samples lie beyond it; its percentile is the
    share of samples at or below it."""
    n = len(values)
    if n <= beyond:
        return None
    idx = n - beyond - 1
    return 100.0 * (idx + 1) / n, float(sorted(values)[idx])


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Children are clipped to the parent, so overlapping or overhanging
    child spans are not subtracted twice."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - covered(clipped)


@dataclass
class Outcomes:
    """Operations attempted and failed.  An operation fails once, however
    many of its problems show: an exception or a failed output check."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
