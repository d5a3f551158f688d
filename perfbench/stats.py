"""Pure helpers for the benchmark's numbers: medians, spreads, window
rates, operation counting and interval unions.  No Spark import here,
so the unit tests run in milliseconds."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    """The true median: the mean of the two middle values for an even
    count (an upper median would bias every even-sized sample up)."""
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def quartile_spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median, with the
    quartiles as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def window_rate(work: Sequence[float], walls: Sequence[float]) -> float:
    """Work done per second over a whole timed window: the summed work
    over the summed wall time, not a mean of per-item rates (items of
    different size would otherwise weigh the same)."""
    if len(work) != len(walls):
        raise ValueError("one wall time per work item")
    total = sum(walls)
    if total <= 0:
        raise ValueError("empty timed window")
    return sum(work) / total


class OpCounter:
    """Counts operations attempted and those that completed and passed
    verification; an exception or a mismatch is one failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    @property
    def ok_frac(self) -> float:
        if self.attempted == 0:
            raise ValueError("no operation attempted")
        return (self.attempted - self.failed) / self.attempted


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) spans."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    """The parts of ``intervals`` that fall inside [lo, hi)."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
