"""Summary statistics for the metrics: the median and the tail
percentile, which is the highest percentile that still has at least ten
samples beyond it."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_rank(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile of ``n`` samples with ``min_beyond`` samples
    above it, in steps of 0.1; None when ``n`` is too small to have one."""
    if n <= min_beyond:
        return None
    p = math.floor(1000 * (n - min_beyond) / n) / 10
    return p if p > 0 else None


def percentile(values: list[float], p: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``p``-th percentile; refuses a percentile with fewer
    than ``min_beyond`` samples beyond it."""
    xs = sorted(values)
    k = max(math.ceil(p / 100 * len(xs)) - 1, 0)
    if len(xs) - 1 - k < min_beyond:
        raise ValueError(
            f"p{p} of {len(xs)} samples has {len(xs) - 1 - k} beyond it, "
            f"fewer than {min_beyond}"
        )
    return xs[k]


def tail_named(values: list[float]) -> tuple:
    """(value or None, unit, sample count, note) for a printed tail line."""
    p = tail_rank(len(values))
    if p is None:
        return None, "s", len(values), f"no tail: needs more than {MIN_BEYOND} samples"
    return percentile(values, p), "s", len(values), f"p{p:g}"
