"""Spark-free metric math shared by the benchmark and its tools."""

from __future__ import annotations

import math
import statistics

MIN_PAIRS = 10


def geomean(values) -> float:
    """Geometric mean of positive values (a gain on a short query counts
    as much as the same relative gain on a long one)."""
    vals = list(values)
    if not vals:
        raise ValueError("geomean of no values")
    if min(vals) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    vals = list(values)
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def pair_verdict(parent, change, better: str = "lower", bound: float = 0.0):
    """Apply the interleaved A/B rule to paired runs of one metric.

    A gain is claimed only from at least ten pairs, when the change wins
    at least nine tenths of them (ties count for neither side) and the
    medians differ by more than the parent's own inter-quartile
    distance. A regression is a change median worse than the parent
    median by more than ``bound`` (a share of the parent median).
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same positive number of runs on each side")
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    gain = sign * (p_med - c_med)
    if len(parent) >= MIN_PAIRS and wins * 10 >= 9 * len(parent) and gain > (p_q3 - p_q1):
        verdict = "gain"
    elif -gain > bound * abs(p_med):
        verdict = "regression"
    else:
        verdict = "no-change"
    return {
        "verdict": verdict,
        "wins": wins,
        "losses": losses,
        "pairs": len(parent),
        "parent_median": p_med,
        "change_median": c_med,
        "parent_iqr": p_q3 - p_q1,
    }
