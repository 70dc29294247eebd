"""Summary statistics the benchmark reports: percentiles with the tail
rule, and the backlog-growth detector."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def _rank(p: float, n: int) -> int:
    # p * n / 100 in floating point can land a hair above an integer
    return max(1, math.ceil(p * n / 100 - 1e-9))


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it among ``n``, or None when even the lowest lacks
    them (report the median alone then)."""
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def slope(xs, ys) -> float:
    """Least-squares slope of ``ys`` over ``xs`` (0 for fewer than two
    distinct ``xs``)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def backlog_series(due: list[float], done: list[float]) -> tuple[list[float], list[int]]:
    """Backlog (files arrived but not yet committed) sampled at each
    arrival, from each file's due time and commit time."""
    done_sorted = sorted(done)
    out_t, out_b = [], []
    j = 0
    for i, t in enumerate(sorted(due)):
        while j < len(done_sorted) and done_sorted[j] <= t:
            j += 1
        out_t.append(t)
        out_b.append(i + 1 - j)
    return out_t, out_b


def backlog_grows(due: list[float], done: list[float], files_per_s: float,
                  frac: float = 0.5) -> tuple[bool, float]:
    """Whether the backlog grows over a rung: the least-squares slope of
    the backlog (files per second) exceeds ``frac`` of the arrival rate.
    A sustainable rate leaves a backlog that saws up and down by one
    micro-batch of files, slope ~0; an unsustainable one queues a fixed
    share of every second's arrivals.  Over a rung only a few batches
    long the sawtooth alone can tilt the fit by up to batch length over
    rung length of the arrival rate, hence the default of one half.
    Returns ``(grows, slope)``."""
    t, b = backlog_series(due, done)
    s = slope(t, b)
    return s > frac * files_per_s, s
