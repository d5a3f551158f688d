import statistics

import pytest

from stats import OpCounter, clip, median, quartile_spread, union_length, window_rate


def test_median_is_the_true_median():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5  # an upper median would say 3
    assert median([5.0, 1.0, 3.0]) == 3.0
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 12.0, 10.5, 9.5, 11.5, 10.2, 9.8, 10.1]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_window_rate_is_total_work_over_total_time():
    # a big fast item and a small slow one: the mean of per-item rates
    # would be (100/1 + 1/9) / 2 = 50.06; the window rate is 101/10
    assert window_rate([100, 1], [1.0, 9.0]) == pytest.approx(10.1)
    with pytest.raises(ValueError):
        window_rate([1, 2], [1.0])
    with pytest.raises(ValueError):
        window_rate([], [])


def test_op_counter_counts_failures_against_attempts():
    ops = OpCounter()
    ops.record(True)
    ops.record(False, "round 1")
    ops.record(True)
    ops.record(True)
    assert (ops.attempted, ops.failed) == (4, 1)
    assert ops.ok_frac == 0.75
    assert ops.failures == ["round 1"]
    with pytest.raises(ValueError):
        OpCounter().ok_frac


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 7), (4, 4)]) == 5
    assert union_length([]) == 0
    assert clip([(0, 5), (8, 12), (20, 30)], 2, 10) == [(2, 5), (8, 10)]
