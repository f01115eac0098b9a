"""The tail-percentile rule: the highest percentile with at least ten
samples beyond it, else the mean of the slower half."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench.stats import percentile, tail


@pytest.mark.parametrize(
    "n, p",
    [(20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, p):
    values = list(np.random.default_rng(n).exponential(size=n))
    label, got = tail(values)
    assert label == f"p{p:g}"
    assert sum(v > got for v in values) >= 10
    assert got == pytest.approx(float(np.percentile(values, p)))


@pytest.mark.parametrize("n, k", [(1, 1), (2, 1), (3, 2), (8, 4), (12, 6), (19, 10)])
def test_tail_below_the_ladder_is_mean_of_slower_half(n, k):
    values = list(np.random.default_rng(n).exponential(size=n))
    label, got = tail(values)
    assert label == f"top{k}-mean"
    assert got == pytest.approx(float(np.mean(sorted(values)[-k:])))


def test_percentile_matches_numpy_linear():
    values = list(np.random.default_rng(0).normal(size=37))
    for p in (0, 12.5, 50, 90, 100):
        assert percentile(values, p) == pytest.approx(float(np.percentile(values, p)))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)
