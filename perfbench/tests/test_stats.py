import pytest

from perfbench import stats


def test_percentile_interpolates_between_order_statistics():
    xs = [float(i) for i in range(101)]  # 0..100
    assert stats.percentile(xs, 50.0) == 50.0
    assert stats.percentile(xs, 99.0) == 99.0
    assert stats.percentile([1.0, 2.0], 50.0) == 1.5
    assert stats.percentile([3.0, 1.0, 2.0], 100.0) == 3.0


@pytest.mark.parametrize("n, pct", [
    (20, 50.0),      # 10 beyond the median
    (99, 50.0),      # p90 would leave 9.9 beyond
    (100, 90.0),     # exactly 10 beyond p90
    (999, 90.0),     # p99 would leave 9.99 beyond
    (1000, 99.0),
    (9999, 99.0),
    (10000, 99.9),
    (10**6, 99.9),   # nothing higher is ever reported
])
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(n)]
    got_pct, got = stats.tail_percentile(values)
    assert got_pct == pct
    assert got == stats.percentile(values, pct)
    assert sum(v > got for v in values) >= 10


def test_tail_percentile_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile([1.0] * 19)


def test_straggler_ratio_is_max_over_median():
    assert stats.straggler_ratio({0: 10.0, 1: 20.0, 2: 40.0}) == 2.0
    assert stats.straggler_ratio({0: 5.0}) == 1.0


def test_spread_is_iqr_over_median():
    vals = [10.0, 10.0, 10.0, 10.0]
    assert stats.spread(vals) == 0.0
    assert stats.spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx(
        (11.5 - 8.5) / 10.0)
