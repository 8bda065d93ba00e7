"""Tail rule, quartile arithmetic and the agreement rule (no Spark needed).

Run with:  python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

import stats  # noqa: E402


def test_no_tail_with_ten_or_fewer_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([]) is None


def test_tail_has_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(1, 37)]  # 36 samples
    q, v = stats.tail(xs)
    assert v == 26.0
    assert sum(1 for x in xs if x > v) == stats.TAIL_MIN_BEYOND
    assert q == pytest.approx(100.0 * 26 / 36)


def test_tail_is_order_insensitive():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.5, 10.0, 11.0]
    assert stats.tail(xs) == stats.tail(sorted(xs)) == (100.0 * 2 / 12, 1.0)


def test_min_samples_keeps_tail_at_or_above_median():
    xs = [float(i) for i in range(stats.MIN_SAMPLES)]
    q, v = stats.tail(xs)
    assert q >= 50.0
    assert v >= statistics.median(xs)


def test_quartiles_match_statistics_module():
    xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert stats.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    q1, med, q3 = stats.quartiles(xs)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / med)


def test_quartiles_of_one_value():
    assert stats.quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert stats.spread([2.0]) == 0.0


def test_agreement_is_two_sided():
    assert stats.agrees(1.0, 1.2, 0.25)
    assert stats.agrees(1.0, 0.8, 0.25)
    assert not stats.agrees(1.0, 1.3, 0.25)
    assert not stats.agrees(1.0, 0.6, 0.25)  # faster by 40% disagrees too
