import pytest
from stats import tail


def test_tail_has_exactly_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct, n = tail(samples)
    assert (value, n) == (20.0, 30)
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_ignores_input_order():
    assert tail([5.0, 1.0, 4.0, 2.0, 3.0] * 5) == tail(sorted([5.0, 1.0, 4.0, 2.0, 3.0] * 5))


def test_tail_of_a_small_sample_stays_above_the_lower_half():
    # 12 samples: rank 12 - 10 = 2 would sit below the median
    value, pct, n = tail([float(i) for i in range(1, 13)])
    assert (value, pct, n) == (7.0, 100 * 7 / 12, 12)
    assert tail([3.0, 1.0, 2.0]) == (2.0, 100 * 2 / 3, 3)
    assert tail([4.0]) == (4.0, 100.0, 1)


def test_tail_at_twenty_samples_is_the_upper_middle():
    value, _, _ = tail([float(i) for i in range(1, 21)])
    assert value == 11.0


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])
