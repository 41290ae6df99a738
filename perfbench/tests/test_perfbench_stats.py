import statistics

import pytest

from stats import median_of_medians, quartile_spread, tail_percentile


def test_no_p90_without_ten_samples_beyond_it():
    # 60 samples: six lie beyond their p90
    assert tail_percentile([float(i) for i in range(60)]) is None
    assert tail_percentile([1.0, 2.0, 3.0] * 10) is None
    assert tail_percentile([]) is None


def test_p90_reported_with_ten_samples_beyond_it():
    samples = [float(i) for i in range(100)]
    p90 = tail_percentile(samples)
    assert p90 == pytest.approx(89.1)
    assert sum(1 for s in samples if s > p90) == 10


def test_ties_at_the_percentile_leave_too_few_beyond():
    # 95 equal values: the p90 is that value and only 5 lie beyond it
    assert tail_percentile([1.0] * 95 + [2.0] * 5) is None


def test_quartile_spread_is_relative_to_the_median():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(
        (10.75 - 9.25) / 10.0
    )


def test_op_p50_does_not_jump_with_one_more_sample():
    fast, slow = [1.0, 1.1, 0.9], [4.0, 4.2, 3.9]
    assert median_of_medians({"fast": fast, "slow": slow}) == pytest.approx(2.5)
    assert median_of_medians({"fast": fast, "slow": slow + [4.1]}) == pytest.approx(2.525)
    # pooled, that one extra sample moves the median from 2.5 to 3.9
    assert statistics.median(fast + slow + [4.1]) == 3.9
