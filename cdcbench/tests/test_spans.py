"""Span arithmetic: union lengths, self time, job attribution, driver gap."""

import json

import pytest

from spans import Job, Span, Tracer, attribute, driver_gap, parse_event_log, union_length


def _tracer(spans):
    t = Tracer()
    t.spans = [Span(i, parent, name, "x", t0, t1) for i, (parent, name, t0, t1) in enumerate(spans)]
    return t


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    t = _tracer([(None, "root", 0, 10), (0, "a", 1, 4), (0, "b", 3, 6), (1, "a1", 1, 2)])
    assert t.self_time(t.spans[0]) == 5  # children cover [1, 6]
    assert t.self_time(t.spans[1]) == 2
    assert t.self_time(t.spans[3]) == 1


def test_jobs_go_to_the_innermost_open_span():
    t = _tracer([(None, "root", 0, 10), (0, "a", 1, 4), (1, "a1", 2, 3)])
    jobs = [Job(0, 0.5, 1, []), Job(1, 2.5, 2.6, []), Job(2, 3.5, 3.9, []), Job(3, 11, 12, [])]
    attribute(t, jobs)
    assert [j.span for j in jobs] == [0, 2, 1, None]


def test_driver_gap_is_wall_minus_job_union():
    s = Span(0, None, "s", "x", 0, 10)
    jobs = [Job(0, 1, 3, []), Job(1, 2, 4, []), Job(2, 9, 12, [])]
    assert driver_gap(s, jobs) == pytest.approx(10 - 3 - 1)


def test_wrap_methods_records_and_restores():
    class T:
        def f(self, x):
            return x + 1

    tr = Tracer()
    orig = T.f
    tr.wrap_methods(T, ["f"], "tables")
    with tr.span("outer", "cdc"):
        assert T().f(1) == 2
    tr.unwrap()
    assert T.f is orig
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("tables.f", 0)]


def test_parse_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 200, "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
            "Input Metrics": {"Records Read": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 300, "Shuffle Read Metrics": {"Local Bytes Read": 50},
            "Memory Bytes Spilled": 5}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    [job] = parse_event_log(p)
    assert (job.t0, job.t1, job.tasks) == (1.0, 2.5, 2)
    assert job.task_s == pytest.approx(0.5)
    s0, s1 = sorted(job.stages, key=lambda s: s.id)
    assert (s0.shuffle_write, s0.input_rows, s1.shuffle_read, s1.spill) == (50, 7, 50, 5)
