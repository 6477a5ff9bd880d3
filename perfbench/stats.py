"""Pure-python statistics for the benchmark: no Spark, no I/O.

Kept apart from the runner so the rules that turn samples into reported
numbers can be tested on their own (``perfbench/test_logic.py``).
"""

from __future__ import annotations

import statistics
from collections import Counter

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """Highest percentile that still has at least ``beyond`` samples above it.

    That is the sample of rank ``n - beyond`` (1-based, ascending), at
    percentile ``100 * (n - beyond) / n``. With ``beyond`` samples or fewer no
    percentile meets the rule; the largest sample is returned with
    ``rule_met`` false so the record shows the tail is unsupported.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"value": float("nan"), "pct": 0.0, "n": 0, "beyond": 0, "rule_met": False}
    if n <= beyond:
        return {"value": xs[-1], "pct": 100.0, "n": n, "beyond": 0, "rule_met": False}
    rank = n - beyond
    return {
        "value": xs[rank - 1],
        "pct": round(100.0 * rank / n, 2),
        "n": n,
        "beyond": n - rank,
        "rule_met": True,
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover.

    Children are clipped to the parent interval first, so a child that
    overlaps the parent's edge only removes the overlapping part."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


class Outcomes:
    """Per-op outcome accounting behind ``attempted``, ``failed`` and
    ``fail_ratio``. An op fails when it raised or when its answer was wrong;
    failures are tallied by kind (the exception type, or ``wrong_answer``)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.by_kind: Counter = Counter()

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, kind: str) -> None:
        self.attempted += 1
        self.by_kind[kind] += 1

    @property
    def failed(self) -> int:
        return sum(self.by_kind.values())

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
