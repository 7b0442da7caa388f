"""Summary statistics shared by the benchmark and the comparison tool."""

from __future__ import annotations

import statistics

PERCENTILES = (99, 95, 90, 75, 50)


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile by linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest of ``PERCENTILES`` with at least ``min_beyond`` of ``n``
    samples above it, or None when even the median has too few."""
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= min_beyond:
            return p
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of [start, end] its children cover
    (overlapping children are counted once; parts outside are ignored)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def verdict(parent: list[float], change: list[float], better: str = "lower") -> dict:
    """Decide whether ``change`` beats ``parent`` on one metric.

    ``parent[i]`` and ``change[i]`` are one interleaved pair. A gain needs at
    least 10 pairs, a win in at least 9 of 10 of all pairs (ties count for
    neither side), and a median gap wider than the parent's interquartile
    distance. A loss is judged the same way with the sides swapped. Anything
    else is "unresolved"."""
    if len(parent) != len(change):
        raise ValueError("parent and change need the same number of runs")
    n = len(parent)
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    gap = sign * (p_med - c_med)
    out = {
        "pairs": n,
        "wins": wins,
        "losses": losses,
        "parent_median": p_med,
        "change_median": c_med,
        "parent_iqr": p_q3 - p_q1,
    }
    if n >= 10 and abs(gap) > p_q3 - p_q1:
        if gap > 0 and wins * 10 >= 9 * n:
            return {**out, "verdict": "better"}
        if gap < 0 and losses * 10 >= 9 * n:
            return {**out, "verdict": "worse"}
    return {**out, "verdict": "unresolved"}
