"""The benchmark's own arithmetic. Run with
``python -m pytest perfbench/tests -q`` from the root of a checkout."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.stats import (  # noqa: E402
    fail_ratio,
    percentile,
    self_times,
    summarize,
    tail_percentile,
    wave_latencies,
)


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 20) == 1.0
    assert percentile(xs, 21) == 2.0


def test_tail_needs_ten_samples_beyond():
    # 20 distinct samples: p50 = 10 has exactly 10 beyond it
    xs = [float(i) for i in range(1, 21)]
    assert tail_percentile(xs) == (50.0, 10.0)
    # one fewer: even the median has only 9 beyond it
    assert tail_percentile(xs[:19]) is None
    # 1000 samples: p99 = 990 leaves exactly 10 beyond it
    xs = [float(i) for i in range(1, 1001)]
    assert tail_percentile(xs) == (99.0, 990.0)
    assert tail_percentile([]) is None


def test_tail_ties_do_not_count_as_beyond():
    # the p90 value is shared by every sample above it
    xs = [1.0] * 90 + [2.0] * 20
    assert tail_percentile(xs) == (75.0, 1.0)


def test_summarize_reports_count_median_and_tail():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "median": 2.0, "tail_p": None, "tail": None}


def test_fail_ratio():
    assert fail_ratio(10, 0) == 0.0
    assert fail_ratio(4, 1) == 0.25
    with pytest.raises(ValueError):
        fail_ratio(0, 0)
    with pytest.raises(ValueError):
        fail_ratio(3, 4)


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),  # grandchild: counts against 2, not 1
        _span(4, 1, 5.0, 6.0),
    ]
    st = self_times(spans)
    assert st == {1: pytest.approx(6.0), 2: pytest.approx(2.0),
                  3: pytest.approx(1.0), 4: pytest.approx(1.0)}


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 5.0),
        _span(3, 1, 3.0, 7.0),
        _span(4, 1, 8.0, 12.0),  # clipped to the parent's end
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 2.0)


def test_wave_latency_from_committed_at():
    manifests = [
        {"version": 2, "committed_at": 130.5},
        {"version": 0, "committed_at": 100.0},
        {"version": 1, "committed_at": 112.0},
    ]
    assert wave_latencies(manifests) == [pytest.approx(12.0),
                                         pytest.approx(18.5)]
    assert wave_latencies(manifests[:1]) == []
