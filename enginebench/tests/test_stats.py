"""Percentile sample rules."""

import pytest

import stats


def test_median_from_any_sample():
    assert stats.percentile([3.0], 50) == 3.0
    assert stats.percentile([4.0, 1.0, 2.0, 3.0], 50) == 2.5
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError, match="at least 100"):
        stats.percentile([1.0] * 99, 90)
    vals = [float(i) for i in range(1, 101)]
    assert stats.percentile(vals, 90) == pytest.approx(90.1)
    with pytest.raises(ValueError, match="at least 1000"):
        stats.percentile(vals * 9, 99)
