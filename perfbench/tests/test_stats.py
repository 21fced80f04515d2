"""The percentile helper refuses a tail with fewer than ten samples beyond it."""

import pytest

from perfbench.harness import median, tail_percentile


def test_tail_percentile_refuses_thin_tail():
    with pytest.raises(ValueError):
        tail_percentile(list(range(100)), 95)  # 5 beyond
    with pytest.raises(ValueError):
        tail_percentile(list(range(199)), 95)  # 9 beyond


def test_tail_percentile_nearest_rank_with_enough_samples():
    values = list(range(1, 201))
    assert tail_percentile(values, 95) == 190  # 10 beyond
    assert tail_percentile(values, 50) == 100
    assert median([3, 1, 2]) == 2
