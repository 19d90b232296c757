"""Unit tests for the benchmark's statistics.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stats import covered, quartiles, self_time, spread, tail, union  # noqa: E402


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_grows_with_sample_count():
    _, pct_40, _ = tail(range(40))
    _, pct_1000, _ = tail(range(1000))
    assert pct_40 == 75.0
    assert pct_1000 == 99.0


def test_tail_is_order_insensitive_and_counts_ties():
    xs = [5.0] * 20 + [1.0] * 5
    value, pct, n = tail(list(reversed(xs)))
    assert (value, n) == (5.0, 25)
    assert pct == 60.0


def test_tail_with_ten_samples_or_fewer_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail(list(range(10))) == (9, 100.0, 10)
    assert tail(list(range(11))) == (0, 100.0 / 11, 11)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


def test_union_merges_overlapping_and_touching_intervals():
    assert union([(5, 7), (1, 3), (2, 4), (4, 4.5), (8, 9)]) == [(1, 4.5), (5, 7), (8, 9)]
    assert union([]) == []


def test_union_rejects_reversed_interval():
    with pytest.raises(ValueError):
        union([(2, 1)])


def test_covered_counts_overlaps_once_and_clips_to_window():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert covered(jobs, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert covered(jobs, 2.5, 5.5) == pytest.approx(0.5 + 0.5)
    assert covered([], 0.0, 1.0) == 0.0


def test_self_time_subtracts_union_of_children():
    # child spans overlap each other and one sticks out past the parent
    assert self_time((0.0, 10.0), [(1.0, 4.0), (3.0, 5.0), (9.0, 11.0)]) == pytest.approx(5.0)
    assert self_time((0.0, 2.0), []) == 2.0
    assert self_time((0.0, 2.0), [(-1.0, 3.0)]) == 0.0


def test_quartiles_and_spread_match_statistics_module():
    xs = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartiles(xs) == (q1, q2, q3)
    assert spread(xs) == pytest.approx((q3 - q1) / q2)
