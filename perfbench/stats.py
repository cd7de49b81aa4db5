"""Order statistics under the benchmark's reporting rule: a percentile is
reported only when at least ``MIN_BEYOND`` samples lie beyond it."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def rank(n: int, q: float) -> int:
    """Nearest-rank index (0-based) of quantile ``q`` in ``n`` sorted samples."""
    return min(n - 1, max(0, math.ceil(q * n) - 1))


def beyond(n: int, q: float) -> int:
    """Samples ranked strictly above quantile ``q``."""
    return n - 1 - rank(n, q)


def tail_level(n_min: int) -> float:
    """The highest quantile with ``MIN_BEYOND`` samples beyond it in a run of
    ``n_min`` samples. A workload fixes it from its guaranteed sample count,
    so the tail sits at the same place in every run even when a run fits
    more passes; any larger sample has at least as many samples beyond."""
    if n_min <= MIN_BEYOND:
        raise ValueError(f"need more than {MIN_BEYOND} samples, got {n_min}")
    return (n_min - MIN_BEYOND) / n_min


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank quantile; refuses one with too few samples beyond it."""
    n = len(samples)
    if n == 0 or beyond(n, q) < MIN_BEYOND:
        raise ValueError(
            f"quantile {q:.3f} of {n} samples has fewer than {MIN_BEYOND} beyond it"
        )
    return sorted(samples)[rank(n, q)]
