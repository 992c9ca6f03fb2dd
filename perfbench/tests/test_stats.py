import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize("n", [1, 2, 5, 10, 101])
@pytest.mark.parametrize("p", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_linear_interpolation(n, p):
    xs = list(np.random.default_rng(n).exponential(10.0, n))
    assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_samples_beyond_counts_ranks_above_the_position():
    # 100 samples: p90 sits between ranks 89 and 90, ranks 90..99 lie beyond.
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(100, 99) == 1
    assert stats.samples_beyond(20, 50) == 10
    assert stats.samples_beyond(19, 50) == 9
    assert stats.samples_beyond(0, 50) == 0


def test_tail_percentile_takes_highest_rung_with_ten_beyond():
    assert stats.tail_percentile(list(range(19))) is None
    assert stats.tail_percentile(list(range(20)))[0] == 50.0
    assert stats.tail_percentile(list(range(91)))[0] == 50.0  # p90 has 9 beyond
    assert stats.tail_percentile(list(range(92)))[0] == 90.0
    p, v = stats.tail_percentile(list(range(1000)))
    assert p == 99.0 and v == pytest.approx(989.01)
    assert stats.tail_percentile(list(range(10_000)))[0] == 99.9

