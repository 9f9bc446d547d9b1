"""Small statistics the benchmark reports: medians, the tail percentile
and span self time."""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest candidate percentile that
    leaves at least ten samples above its rank; None when even p75 does
    not (fewer than 40 samples)."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return p, percentile(values, p)
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover. Children on other threads may overlap each other, so
    coverage is a union, clipped to the parent's interval."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is None:
            continue
        a, b = max(s["start"], parent["start"]), min(s["end"], parent["end"])
        if b > a:
            kids.setdefault(parent["id"], []).append((a, b))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
        for s in spans
    }
