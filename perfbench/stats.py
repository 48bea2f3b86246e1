"""The benchmark's own arithmetic: percentiles, the tail rule, span self
time and the roll-up of spans into per-layer totals. Pure functions, so
``perfbench/tests`` can check them without Spark."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct`` percentile by the nearest-rank rule."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[float, int | None]:
    """``(value, percentile)`` for the highest whole percentile, from the
    median up, that leaves at least ``TAIL_MIN_BEYOND`` samples beyond its
    rank. With too few samples for the median to qualify, the maximum is
    returned with ``None``."""
    n = len(values)
    best = None
    for pct in range(50, 100):
        if n - max(1, math.ceil(pct / 100.0 * n)) >= TAIL_MIN_BEYOND:
            best = pct
    if best is None:
        return max(values), None
    return nearest_rank(values, best), best


def tail_mean(values: list[float]) -> tuple[float, float, int | None]:
    """``(mean, value, percentile)``: the ``tail`` percentile and the mean of
    the samples from its rank up (it and the ``TAIL_MIN_BEYOND`` or more
    beyond it). One order statistic with ten samples above it jumps
    between neighbours from run to run; their mean does not."""
    value, pct = tail(values)
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs))) if pct is not None else len(xs)
    return statistics.mean(xs[rank - 1:]), value, pct


def median(values: list[float]) -> float:
    return statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval covered by
    its direct children (clipped to the parent interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        kids = [(max(a, x), min(b, y)) for x, y in children.get(s["id"], []) if y > a and x < b]
        out[s["id"]] = (b - a) - union_length(kids)
    return out


def rollup(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer: span count, total time and self time."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        r = out.setdefault(s["layer"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        r["calls"] += 1
        r["total_s"] += s["end"] - s["start"]
        r["self_s"] += selfs[s["id"]]
    return out

