"""Percentiles by nearest rank, with the ten-samples-beyond rule."""

import pytest

from crawlbench.stats import TooFewSamples, percentile


def test_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 0.5) == 50
    assert percentile(values, 0.9) == 90


def test_weights_equal_repeated_values():
    values, weights = [3.0, 1.0, 2.0], [40, 30, 50]
    flat = [1.0] * 30 + [2.0] * 50 + [3.0] * 40
    for q in (0.5, 0.9):
        assert percentile(values, q, weights) == percentile(flat, q)


def test_p90_needs_ten_samples_beyond():
    percentile(list(range(100)), 0.9)  # rank 90, ten beyond
    with pytest.raises(TooFewSamples):
        percentile(list(range(99)), 0.9)  # rank 90, nine beyond
    with pytest.raises(TooFewSamples):
        percentile([1.0] * 19, 0.5)  # rank 10, nine beyond
    assert percentile([1.0] * 20, 0.5) == 1.0


def test_mismatched_weights_rejected():
    with pytest.raises(ValueError):
        percentile([1.0, 2.0], 0.5, [1])
