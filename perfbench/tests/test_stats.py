import statistics

import pytest

import stats


def test_spread_is_iqr_over_median_as_statistics_quantiles_gives_it():
    values = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.8, 10.1, 10.9, 11.4]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.spread(values) == pytest.approx(
        (q3 - q1) / statistics.median(values))
    assert stats.spread([5.0] * 10) == 0.0
    assert stats.spread([3.0]) == 0.0


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        stats.median([])


def test_outcome_counts_every_operation_failed_on_a_failed_check():
    assert stats.outcome(8, 0, correct=True) == (8, 0)
    assert stats.outcome(8, 0, correct=False) == (8, 8)
    assert stats.outcome(8, 3, correct=True) == (8, 3)
    assert stats.outcome(0, 0, correct=True) == (1, 0)   # attempted >= 1
    assert stats.failed_share(8, 8) == 1.0
    assert stats.failed_share(8, 0) == 0.0
    assert stats.failed_share(4, 1) == 0.25
