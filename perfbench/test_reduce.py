"""Reducer tests on synthetic samples (no Spark).

    python -m pytest perfbench/test_reduce.py -q
"""

from __future__ import annotations

import math
import statistics

import pytest

from perfbench.reduce import (
    fail_ratio,
    geomean,
    median,
    quartiles,
    query_geomean,
    self_times,
)


def test_median_and_quartiles_match_statistics():
    walls = [5.2, 4.9, 5.0, 7.5, 5.1, 4.8, 5.3]
    q1, q2, q3 = quartiles(walls)
    assert (q1, q2, q3) == tuple(statistics.quantiles(walls, n=4))
    assert q2 == median(walls) == 5.1
    assert q1 <= q2 <= q3


def test_median_ignores_one_slow_pass():
    assert median([1.0, 1.1, 9.0]) == 1.1


def test_quartiles_of_one_sample():
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)


def test_empty_samples_raise():
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        quartiles([])
    with pytest.raises(ValueError):
        geomean([])


def test_geomean_weights_short_and_long_keys_equally():
    assert geomean([0.1, 10.0]) == pytest.approx(1.0)
    # halving any one key moves the geomean by the same factor
    base = geomean([0.2, 1.0, 8.0])
    assert geomean([0.1, 1.0, 8.0]) / base == pytest.approx(2 ** (-1 / 3))
    assert geomean([0.2, 1.0, 4.0]) / base == pytest.approx(2 ** (-1 / 3))


def test_geomean_rejects_non_positive():
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_query_geomean_takes_each_keys_median_first():
    per_key = {"q1": [1.0, 1.0, 100.0], "q2": [4.0, 4.0, 0.01]}
    assert query_geomean(per_key) == pytest.approx(math.sqrt(1.0 * 4.0))


def test_fail_ratio():
    assert fail_ratio(0, 10) == 0.0
    assert fail_ratio(1, 4) == 0.25
    with pytest.raises(ValueError):
        fail_ratio(0, 0)
    with pytest.raises(ValueError):
        fail_ratio(5, 4)


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),  # pass
        _span(1, 0, 1.0, 4.0),  # key
        _span(2, 1, 1.0, 2.5),  # build
        _span(3, 1, 2.5, 3.5),  # exec
        _span(4, 0, 5.0, 9.0),  # key
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(3.0 - 2.5)
    assert st[2] == pytest.approx(1.5)
    assert st[4] == pytest.approx(4.0)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        _span(0, None, 0.0, 4.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1 and outlives the parent
    ]
    assert self_times(spans)[0] == pytest.approx(1.0)
