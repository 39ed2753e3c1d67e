"""Summaries of latency samples: the tail rule, and the per-kind median
that the end-to-end latencies report."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value, n)``: the sample at sorted position
    ``n - beyond - 1`` and the share of samples at or below it, in
    percent.  Raises if there are not enough samples for the rule."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: need more than {beyond} for a tail")
    i = n - beyond - 1
    return 100.0 * (i + 1) / n, sorted(samples)[i], n


def kind_median_gm(samples: list[tuple[str, float]]) -> float:
    """Geometric mean, over the samples, of the median of each sample's kind.

    ``samples`` are ``(kind, value)`` pairs with positive values.  Every
    kind is weighted by its share of the samples.  Unlike the median of
    all samples pooled, this does not fall into the gap between kinds of
    very different cost (a cache hit and a cache fill, say), where a
    small shift of either kind moves it a long way; and a change to any
    kind moves it in proportion to that kind's share."""
    by_kind: dict[str, list[float]] = {}
    for kind, x in samples:
        by_kind.setdefault(kind, []).append(x)
    median = {kind: statistics.median(xs) for kind, xs in by_kind.items()}
    return statistics.geometric_mean(median[kind] for kind, _ in samples)
