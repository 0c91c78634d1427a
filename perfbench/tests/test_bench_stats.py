"""Self-tests for the benchmark's arithmetic (no Spark needed):
python3 -m pytest perfbench/tests"""

import pytest

from stats import (
    highest_supported_percentile,
    median,
    percentile,
    self_time,
    summarize,
    union_length,
)


def test_median_odd_even_and_empty():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([7.0]) == 7.0
    with pytest.raises(ValueError):
        median([])


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(10, 0, -1)]  # 10..1, unsorted
    assert percentile(xs, 50) == 5.0
    assert percentile(xs, 90) == 9.0
    assert percentile(xs, 91) == 10.0
    assert percentile(xs, 100) == 10.0
    assert percentile([2.5], 99) == 2.5
    for bad in (0, -1, 101):
        with pytest.raises(ValueError):
            percentile(xs, bad)


def test_highest_percentile_needs_ten_samples_beyond_it():
    assert highest_supported_percentile(19) is None
    assert highest_supported_percentile(20) == 50.0
    assert highest_supported_percentile(99) == 50.0
    assert highest_supported_percentile(100) == 90.0
    assert highest_supported_percentile(999) == 90.0
    assert highest_supported_percentile(1000) == 99.0
    assert highest_supported_percentile(10_000) == 99.9


def test_summarize_reports_sample_count():
    assert summarize([]) == {"n": 0}
    assert summarize([1.0, 3.0]) == {"n": 2, "p50": 2.0}
    s = summarize([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "p90": 90.0}


def test_union_length_merges_overlaps_and_drops_empty():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(5, 5), (3, 1)]) == 0.0  # empty and reversed
    assert union_length([(2, 4), (0, 1), (1, 2)]) == 4.0  # touching


def test_self_time_subtracts_union_of_children():
    # children overlap each other: 1..4 and 3..6 cover 5, not 6
    assert self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == pytest.approx(5.0)
    # a child reaching outside the parent is clipped to it
    assert self_time(2.0, 5.0, [(0.0, 3.0), (4.5, 9.0)]) == pytest.approx(1.5)
    assert self_time(0.0, 1.0, []) == 1.0
    # a child entirely outside covers nothing
    assert self_time(0.0, 1.0, [(2.0, 3.0)]) == 1.0
