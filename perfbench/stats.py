"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie
# strictly beyond it: the median needs 20 samples, p90 needs 100.
MIN_BEYOND = 10


def min_samples(pct: float) -> int:
    """Smallest sample count for which ``pct`` has MIN_BEYOND samples
    beyond it."""
    return math.ceil(MIN_BEYOND / (1 - pct / 100) - 1e-9)


def percentile(samples: list[float], pct: float) -> float | None:
    """Nearest-rank ``pct`` percentile, or None when fewer than
    MIN_BEYOND samples lie beyond it."""
    n = len(samples)
    if n < min_samples(pct):
        return None
    ordered = sorted(samples)
    rank = max(math.ceil(pct / 100 * n), 1)
    return ordered[rank - 1]


def mean(samples: list[float]) -> float | None:
    return statistics.fmean(samples) if samples else None


def median(samples: list[float]) -> float | None:
    """Plain median for set-up repetitions and aggregates, where the
    percentile rule does not apply."""
    return statistics.median(samples) if samples else None
