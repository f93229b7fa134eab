"""Spark-free self-checks of the benchmark's metric arithmetic.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json

import pytest

from perfbench.metrics import (
    Span,
    Tracer,
    attribute,
    innermost,
    iteration_totals,
    jobs_within,
    layer_rollup,
    median,
    parse_event_log,
    ratio,
    self_times,
    span_seconds,
)


def _span(sid, name, start, end, parent=None, iteration=0):
    return Span("r", sid, parent, name, start, end, iteration)


def test_median_odd_even_and_empty():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_ratio_base_zero_is_zero_not_an_error():
    assert ratio(3, 4) == 0.75
    assert ratio(0, 0) == 0.0
    assert ratio(5, 0) == 0.0


def test_self_time_subtracts_children_once_when_they_overlap():
    spans = [
        _span(0, "wave.frontier", 0.0, 10.0),
        _span(1, "seen.probe", 1.0, 4.0, parent=0),
        _span(2, "checkpoint.commit", 3.0, 5.0, parent=0),  # overlaps span 1
        _span(3, "fetch.fetch", 7.0, 12.0, parent=0),  # runs past its parent
        _span(4, "checkpoint.commit", 2.0, 2.5, parent=1),
    ]
    st = self_times(spans)
    # children cover [1, 5] and [7, 10] of the parent: 7 s of 10
    assert st[0] == pytest.approx(3.0)
    assert st[1] == pytest.approx(2.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(5.0)


def test_self_times_of_a_trace_sum_to_the_root_duration():
    spans = [
        _span(0, "wave.crawl", 0.0, 9.0),
        _span(1, "wave.admit", 0.0, 2.0, parent=0),
        _span(2, "wave.sitemap_wave", 2.0, 6.0, parent=0),
        _span(3, "checkpoint.commit", 4.0, 5.0, parent=2),
        _span(4, "wave.finalize", 6.5, 9.0, parent=0),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(9.0)


def test_innermost_picks_the_deepest_open_span():
    spans = [_span(0, "wave.crawl", 0.0, 10.0),
             _span(1, "wave.browse_wave", 2.0, 6.0, parent=0),
             _span(2, "checkpoint.commit", 3.0, 4.0, parent=1)]
    assert innermost(spans, 3.5).id == 2
    assert innermost(spans, 4.0).id == 1  # end is exclusive
    assert innermost(spans, 8.0).id == 0
    assert innermost(spans, 11.0) is None


def _event_lines():
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3500},
        {"Event": "SparkListenerTaskEnd",
         "Task Info": {"Launch Time": 1000, "Finish Time": 3000},
         "Task Metrics": {"JVM GC Time": 200,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd",
         "Task Info": {"Launch Time": 3000, "Finish Time": 3600},
         "Task Metrics": {"JVM GC Time": 0}},
        {"Event": "SparkListenerStageCompleted"},
    ]
    return [json.dumps(e) for e in evs] + ['{"Event": "SparkListenerTaskEnd", "Ta']


def test_parse_event_log_converts_ms_and_skips_a_truncated_tail():
    jobs, tasks = parse_event_log(_event_lines())
    assert [j["submit"] for j in jobs] == [0.5, 1.5, 3.5]
    assert tasks[0] == {"launch": 1.0, "finish": 3.0, "gc_s": 0.2,
                        "shuffle_write_bytes": 64}
    assert tasks[1]["shuffle_write_bytes"] == 0


def test_attribution_by_time_window():
    jobs, tasks = parse_event_log(_event_lines())
    spans = [_span(0, "wave.frontier", 1.0, 4.0),
             _span(1, "seen.probe", 1.2, 3.2, parent=0)]
    a = attribute(spans, jobs, tasks)
    # job 0 precedes every span; job 1 is inside the child; job 2 the parent
    assert a[1]["jobs"] == 1 and a[0]["jobs"] == 1
    # task 1 finished inside the child, task 2 only inside the parent
    assert a[1]["shuffle_write_bytes"] == 64 and a[1]["gc_s"] == pytest.approx(0.2)
    assert a[0]["shuffle_write_bytes"] == 0
    # busy: the parent overlaps task 1 for 2.0 s and task 2 for 0.6 s; the
    # child overlaps 1.8 s of task 1 and 0.2 s of task 2
    assert a[0]["busy_s"] == pytest.approx(2.6)
    assert a[1]["busy_s"] == pytest.approx(2.0)
    assert jobs_within(spans, jobs) == 2
    assert jobs_within([spans[1]], jobs) == 1


def test_rollups_take_medians_over_traced_iterations_only():
    spans = [
        _span(0, "wave.frontier", 0.0, 4.0, iteration=1),
        _span(1, "fetch.fetch", 1.0, 3.0, parent=0, iteration=1),
        _span(2, "wave.frontier", 10.0, 16.0, iteration=3),
        _span(3, "fetch.fetch", 11.0, 15.0, parent=2, iteration=3),
        _span(4, "fetch.fetch", 20.0, 29.0, iteration=5),  # a failed iteration
    ]
    jobs = [{"job": 0, "submit": 1.5}, {"job": 1, "submit": 0.5},
            {"job": 2, "submit": 12.0}, {"job": 3, "submit": 13.0}]
    tasks = [{"launch": 1.0, "finish": 3.0, "gc_s": 0.1, "shuffle_write_bytes": 10}]
    a = attribute(spans, jobs, tasks)
    secs = span_seconds(spans, [1, 3])
    assert secs["fetch.fetch"] == pytest.approx(3.0)  # median of 2 and 4
    assert secs["wave.frontier"] == pytest.approx(5.0)
    layers = layer_rollup(spans, a, [1, 3], cores=1)
    assert layers["fetch"]["self_s"] == pytest.approx(3.0)
    assert layers["fetch"]["jobs"] == pytest.approx(1.5)  # 1 and 2 jobs
    assert layers["wave"]["self_s"] == pytest.approx(2.0)  # 2 s each
    # fetch spans of iterations 1 and 3 last 6 s; the task covers 2 s of them
    assert layers["fetch"]["task_busy_ratio"] == pytest.approx(2.0 / 6.0)
    totals = iteration_totals(spans, a, [1, 3], cores=1)
    assert totals["jobs"] == pytest.approx(2.0)
    assert totals["task_busy_ratio"] == pytest.approx(2.0 / 10.0)


def test_disabled_tracer_records_nothing_and_enabled_nests():
    off = Tracer("r", False)
    with off.span("wave.crawl"):
        pass
    assert off.spans == []
    on = Tracer("r", True)
    on.iteration = 3
    with on.span("wave.crawl"):
        with on.span("wave.admit"):
            pass
    outer, inner = on.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert inner.iteration == 3 and inner.layer == "wave"
