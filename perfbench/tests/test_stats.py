import statistics

import pytest

from perfbench import stats


def test_quartiles_are_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    assert stats.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        stats.quartiles([])


def test_relative_iqr():
    vals = [9.0, 10.0, 10.0, 11.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert stats.relative_iqr(vals) == pytest.approx((q3 - q1) / med)


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


@pytest.mark.parametrize("n, pct, beyond", [(20, 50.0, 10), (39, 50.0, 19), (40, 75.0, 10),
                                            (100, 90.0, 10), (199, 90.0, 19), (200, 95.0, 10),
                                            (1000, 99.0, 10), (10_000, 99.9, 10)])
def test_tail_keeps_ten_samples_beyond(n, pct, beyond):
    vals = list(range(1, n + 1))
    p, value, got_beyond = stats.tail(vals)
    assert (p, got_beyond) == (pct, beyond)
    assert sum(1 for v in vals if v > value) == beyond


def test_tail_needs_twenty_samples():
    assert stats.tail(range(19)) is None
