import statistics

import pytest

import stats


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 25) == 2.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)


def test_median_even_and_odd():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    xs = [0.3, 1.7, 0.9, 2.2, 1.1, 0.4]
    assert stats.median(xs) == pytest.approx(statistics.median(xs))


def test_tail_percentile_keeps_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    p = stats.tail_percentile(len(xs))
    assert p == pytest.approx(100.0 * 89 / 99)
    v = stats.weighted_percentile(xs, [1.0] * len(xs), p)
    assert sum(x > v for x in xs) == stats.TAIL_SAMPLES


def test_a_run_too_short_for_a_tail_has_none():
    assert stats.tail_percentile(1) is None
    assert stats.tail_percentile(21) is None
    assert stats.tail_percentile(22) > 50.0


def test_weighted_percentile_gives_each_template_equal_say():
    # template a ran once (10 s), template b four times (1 s each)
    xs = [10.0, 1.0, 1.0, 1.0, 1.0]
    ws = [1.0, 0.25, 0.25, 0.25, 0.25]
    assert stats.weighted_percentile(xs, ws, 50.0) == 1.0
    assert stats.weighted_percentile(xs, ws, 51.0) == 10.0
    assert stats.weighted_percentile(xs, [1.0] * 5, 50.0) == 1.0
    assert stats.weighted_percentile([3.0, 1.0, 2.0], [1.0] * 3, 50.0) == 2.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.weighted_percentile([], [], 50)
