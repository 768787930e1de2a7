"""Metric arithmetic for the benchmark: pure functions, no Spark.

Kept apart from the runner so the rules the reported figures rest on can
be tested without a JVM (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import math
import statistics


def median(samples: list[float]) -> float:
    """Median of the warm-pass samples of one run.

    A run reports the median, never a total or a single pass, so one
    pass disturbed by a GC pause or a neighbour's burst moves nothing."""
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that still has at least ``min_beyond``
    samples strictly above its rank, with its value (nearest-rank).

    Returns ``None`` when there are too few samples for any percentile to
    have that many beyond it, i.e. fewer than ``min_beyond + 1``. With
    ``n`` samples the answer is the largest ``p`` with
    ``n - ceil(p/100 * n) >= min_beyond``."""
    n = len(samples)
    if n < min_beyond + 1:
        return None
    ordered = sorted(samples)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return p, float(ordered[rank - 1])
    return None


def rate(count: int, seconds: float) -> float:
    """Items per second: ``count`` items over ``seconds`` of wall time."""
    if seconds <= 0:
        raise ValueError(f"rate over non-positive time {seconds!r}")
    return count / seconds


def failed_share(failed: int, attempted: int) -> float:
    """Share of attempted operations that failed (an output check that
    fails counts as a failed operation)."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def overhead(traced: float, untraced: float) -> tuple[float, float]:
    """Tracing overhead of one metric as (traced - untraced, share of the
    untraced value)."""
    diff = traced - untraced
    return diff, (diff / untraced if untraced else math.nan)
