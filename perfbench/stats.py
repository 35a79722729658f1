"""Order statistics for per-operation latencies.

A percentile is reported only where the sample supports it: at least
``MIN_BEYOND`` samples must lie strictly above the chosen value, so a
p90 needs 100 samples and a p99 needs 1,000.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile rank must be in (0, 1), got {q}")
    ordered = sorted(samples)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def beyond(samples: list[float], q: float) -> int:
    """How many samples lie strictly above the ``q`` percentile."""
    value = percentile(samples, q)
    return sum(1 for s in samples if s > value)


def min_samples(q: float, min_beyond: int = MIN_BEYOND) -> int:
    """Smallest sample size whose ``q`` percentile has ``min_beyond``
    samples above it (ties aside): 100 for p90 at the default."""
    return math.ceil(round(min_beyond / (1.0 - q), 9))


def supported(samples: list[float], q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """Does the sample hold ``min_beyond`` values above its ``q`` percentile?"""
    return len(samples) >= min_samples(q, min_beyond) and beyond(samples, q) >= min_beyond


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of ``[start, end]`` that its
    children cover. Overlapping children (parallel work) count once;
    a child reaching outside the parent is clipped to it."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in children if e > start and s < end)
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
