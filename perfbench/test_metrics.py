"""Tests for the benchmark's own metric code (no Spark needed).

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402


def beyond(xs, value):
    return sum(1 for x in xs if x > value)


@pytest.mark.parametrize("n", [11, 12, 20, 21, 36, 40, 99, 100, 101, 1000])
def test_tail_has_at_least_ten_beyond_and_is_highest(n):
    xs = [float(i) for i in range(1, n + 1)]  # the value at rank r is r
    p, value, count = M.tail_percentile(reversed(xs))
    assert count == n
    assert beyond(xs, value) >= M.TAIL_BEYOND
    # one whole percentile higher would leave fewer than ten beyond
    next_rank = math.ceil((p + 1) * n / 100)
    assert beyond(xs, float(next_rank)) < M.TAIL_BEYOND


def test_tail_known_values():
    xs = list(range(1, 101))
    assert M.tail_percentile(xs) == (90.0, 90, 100)
    assert M.tail_percentile(range(1, 21)) == (50.0, 10, 20)
    assert M.tail_percentile(range(1, 1001))[0] == 99.0


def test_tail_with_ten_or_fewer_samples_reports_max_at_p100():
    assert M.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    assert M.tail_percentile(range(10)) == (100.0, 9, 10)
    with pytest.raises(ValueError):
        M.tail_percentile([])


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": f"s{i}"}


def test_self_time_subtracts_children():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 3.0), span(2, 0, 5.0, 6.0)]
    st = M.self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)


def test_self_time_merges_overlapping_children_and_clips():
    # children from two threads overlap; one runs past the parent's end
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 2.0, 6.0),
        span(2, 0, 4.0, 8.0),
        span(3, 0, 9.0, 12.0),
    ]
    assert M.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_counts_only_direct_children():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 0.0, 4.0), span(2, 1, 0.0, 4.0)]
    st = M.self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(0.0)


def stage(query, stage_id, **kw):
    row = dict.fromkeys(M.STAGE_COUNTERS, 0.0)
    row.update(query=query, stage_id=stage_id, **kw)
    return row


def test_stage_counters_sum_per_layer():
    layer_of = {"q01": "operators", "q10": "operators", "p01": "placement"}
    stages = [
        stage("q01", 1, tasks=4, cpu_ms=10.0, run_ms=30.0, input_bytes=100),
        stage("q10", 2, tasks=2, cpu_ms=5.0, run_ms=5.0, shuffle_write_bytes=7),
        stage("p01", 3, tasks=8, cpu_ms=20.0, run_ms=100.0, spill_bytes=64),
    ]
    out = M.sum_stage_counters(stages, layer_of)
    assert out["operators"]["tasks"] == 6
    assert out["operators"]["cpu_ms"] == 15.0
    assert out["operators"]["input_bytes"] == 100
    assert out["operators"]["shuffle_write_bytes"] == 7
    assert out["operators"]["offjvm_ms"] == 20.0
    assert out["placement"]["spill_bytes"] == 64
    assert out["placement"]["offjvm_ms"] == 80.0


def test_stage_shared_by_two_jobs_counts_once():
    layer_of = {"q01": "operators"}
    stages = [stage("q01", 5, tasks=4, run_ms=10.0)] * 2
    assert M.sum_stage_counters(stages, layer_of)["operators"]["tasks"] == 4
