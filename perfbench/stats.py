"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

import statistics

#: Percentiles the tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: Samples that must lie beyond a percentile before it may stand as the tail.
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[str, float]:
    """``(label, value)``: the highest percentile in ``TAIL_LADDER`` that has
    at least ``TAIL_BEYOND`` samples beyond it, labelled ``p<percentile>``.
    Below 20 samples even the last rung, p50, lacks that many, so the tail
    is the mean of the slower half (the slowest ``ceil(n / 2)``), labelled
    ``top<k>-mean``: the p50 rung's expected shortfall. It averages every
    sample beyond the median where the maximum would rest on one, and so
    holds still across runs of a noisy machine."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND - 1e-9:  # 100 - 99.9 is not exact
            return f"p{p:g}", percentile(values, p)
    k = -(-n // 2)
    return f"top{k}-mean", statistics.fmean(sorted(values)[-k:])


def median(values: list[float]) -> float:
    return statistics.median(values)
