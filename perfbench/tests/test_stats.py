import pytest

import stats


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)  # 10 samples above 90


def test_tail_ignores_input_order():
    xs = [float(i) for i in range(100, 0, -1)]
    assert stats.tail(xs)[0] == 90.0


def test_tail_with_few_samples_is_the_maximum():
    # with 20 samples the 10th smallest is at the median: no tail
    xs = [float(i) for i in range(20)]
    assert stats.tail(xs) == (19.0, 100.0, 20)
    assert stats.tail([3.0]) == (3.0, 100.0, 1)


def test_tail_just_above_the_median():
    xs = [float(i) for i in range(21)]  # k = 11 of 21
    value, pct, _ = stats.tail(xs)
    assert value == 10.0 and pct == pytest.approx(100 * 11 / 21)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])

