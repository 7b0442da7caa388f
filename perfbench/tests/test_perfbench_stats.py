"""Percentile rule, self time and the comparison verdict."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_interpolates_between_ranks():
    assert stats.percentile([1, 2, 3, 4, 5], 50) == 3
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([10, 20], 90) == pytest.approx(19)
    assert stats.percentile([7], 95) == 7


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(213) == 95  # 10.65 beyond p95
    assert stats.tail_percentile(199) == 90  # 9.95 beyond p95: too few
    assert stats.tail_percentile(108) == 90
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(19) is None


def test_quartiles_match_statistics_quantiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, med, q3 = stats.quartiles(values)
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert stats.spread(values) == pytest.approx((8.25 - 2.75) / 5.5)


def test_self_time_subtracts_children_once():
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(1, 3), (5, 6)]) == 7
    # overlapping children are one covered interval
    assert stats.self_time(0, 10, [(1, 4), (2, 6)]) == 5
    # a child sticking out of its parent only covers the inside part
    assert stats.self_time(2, 10, [(0, 4), (9, 12)]) == 5
    assert stats.self_time(0, 10, [(0, 10)]) == 0


def _pairs(parent, change):
    return stats.verdict(parent, change, "lower")


def test_verdict_better_needs_ten_pairs_nine_wins_and_gap_over_iqr():
    parent = [10.0, 10.2, 9.9, 10.1, 10.3, 9.8, 10.0, 10.1, 10.2, 9.9]
    change = [9.0, 9.1, 8.9, 9.2, 9.0, 8.8, 9.1, 9.0, 9.1, 8.9]
    assert _pairs(parent, change)["verdict"] == "better"
    assert _pairs(change, parent)["verdict"] == "worse"


def test_verdict_unresolved_with_fewer_than_ten_pairs():
    parent = [10.0, 10.2, 9.9, 10.1, 10.3, 9.8, 10.0, 10.1, 10.2]
    change = [9.0] * 9
    assert _pairs(parent, change)["verdict"] == "unresolved"


def test_verdict_unresolved_when_two_pairs_lose():
    parent = [10.0, 10.2, 9.9, 10.1, 10.3, 9.8, 10.0, 10.1, 10.2, 9.9]
    change = [9.0, 9.1, 8.9, 9.2, 9.0, 8.8, 9.1, 9.0, 10.5, 10.5]
    v = _pairs(parent, change)
    assert (v["wins"], v["losses"], v["verdict"]) == (8, 2, "unresolved")


def test_verdict_unresolved_when_gap_within_parent_iqr():
    parent = [8.0, 12.0, 9.0, 11.0, 8.5, 11.5, 9.5, 10.5, 10.0, 10.0]
    change = [p - 0.5 for p in parent]  # wins every pair, gap 0.5 < IQR
    v = _pairs(parent, change)
    assert v["wins"] == 10 and v["verdict"] == "unresolved"


def test_verdict_higher_is_better():
    parent = [100.0 + i % 3 for i in range(10)]
    change = [120.0 + i % 3 for i in range(10)]
    assert stats.verdict(parent, change, "higher")["verdict"] == "better"


def test_verdict_rejects_unpaired_runs():
    with pytest.raises(ValueError):
        stats.verdict([1.0, 2.0], [1.0])
