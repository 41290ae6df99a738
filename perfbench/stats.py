"""Summary statistics for timings: medians, quartile spread, and the
tail-percentile rule (a percentile is reported only when enough
samples lie beyond it)."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def median_of_medians(samples: dict[str, list[float]]) -> float:
    """The median over operations of each operation's median latency.
    Pooled samples of a few distinct operations put the median in the
    gap between two of them, where it jumps from run to run."""
    return median([median(v) for v in samples.values()])


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def tail_percentile(
    samples: list[float], q: float = 0.9, min_beyond: int = 10
) -> float | None:
    """The ``q``-quantile of ``samples``, or None when fewer than
    ``min_beyond`` samples lie above it: a p90 from 20 samples rests on
    two values and says nothing about the tail."""
    if len(samples) <= min_beyond:
        return None
    ordered = sorted(samples)
    value = statistics.quantiles(ordered, n=100, method="inclusive")[
        round(q * 100) - 1
    ]
    if sum(1 for s in ordered if s > value) < min_beyond:
        return None
    return value
