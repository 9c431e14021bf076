"""The percentile rule: report the median plus the highest percentile
that has at least ten samples beyond it."""

import statistics

import pytest

from perfbench.stats import median, percentile, tail_percentile


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, None), (5, None), (19, None),
        (20, 50.0), (99, 50.0),
        (100, 90.0), (199, 90.0),
        (200, 95.0), (999, 95.0),
        (1000, 99.0), (9999, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_tail_percentile_custom_minimum():
    assert tail_percentile(10, min_beyond=5) == 50.0
    assert tail_percentile(9, min_beyond=5) is None


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 99.9) == 100
    assert percentile([3.0], 50) == 3.0


def test_median_matches_statistics():
    values = [10.0, 12.0, 11.0, 30.0, 9.0, 10.5, 11.5, 10.2, 9.8, 10.9]
    assert median(values) == statistics.median(values)
    with pytest.raises(ValueError):
        median([])
