"""Pure helpers: percentiles, tail selection, interval unions, recall."""

from __future__ import annotations

import math
from typing import Iterable, Sequence

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest ladder percentile with at least `min_beyond` of `n`
    samples above it, or None when even p75 has fewer."""
    for p in TAIL_LADDER:
        # rounded: 10_000 * (100 - 99.9) / 100 is 9.99999... in floats
        if round(n * (100.0 - p) / 100.0, 6) >= min_beyond:
            return p
    return None


def summarize(values: Sequence[float]) -> dict:
    """Median, tail (with the percentile it was taken at) and count."""
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50.0) if values else None,
        "tail_pct": p,
        "tail": percentile(values, p) if p is not None else None,
    }


def covered_s(intervals: Iterable[tuple[float, float]], lo: float,
              hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def recall(got: dict, truth_ids, k: int) -> float:
    """Mean recall@k: `got` maps query index → returned ids; queries with
    no row score 0."""
    hits = 0
    for qi, row in enumerate(truth_ids):
        hits += len(set(got.get(qi, ())) & set(int(i) for i in row[:k]))
    return hits / (k * len(truth_ids))
