"""Order statistics and span self-time arithmetic (pure Python)."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100] (numpy's default
    method)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    s = sorted(values)
    pos = (len(s) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def high_percentile(values: Sequence[float], candidates=(99.0, 90.0)) -> tuple[float, float] | None:
    """The highest candidate percentile with at least ten samples beyond
    it, as (p, value); None when the sample is too small for any."""
    for p in candidates:
        if len(values) * (100 - p) / 100 >= 10:
            return p, percentile(values, p)
    return None


def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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


def self_times(spans: Sequence[dict]) -> dict[str, dict[str, float]]:
    """Per span name: count, total seconds and self seconds, where a
    span's self time is its duration minus the part of it covered by its
    direct children (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    table: dict[str, dict[str, float]] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        own = dur - _covered(children.get(s["id"], ()), s["start"], s["end"])
        row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += dur
        row["self_s"] += own
    return table
