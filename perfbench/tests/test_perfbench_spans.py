"""Span self-time arithmetic and event-log attribution."""

import json

import pytest

from spans import GROUP_PREFIX, Job, Span, Tracer, attribute, read_event_log, self_time


def _span(i, start, end, parent=None, name="s"):
    return Span(i, name, None, start, end, parent, "r")


def test_self_time_without_children_is_duration():
    assert self_time(_span(1, 10.0, 14.0), []) == pytest.approx(4.0)


def test_self_time_subtracts_disjoint_children():
    p = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 3.0, 1), _span(3, 5.0, 6.5, 1)]
    assert self_time(p, kids) == pytest.approx(10.0 - 2.0 - 1.5)


def test_self_time_counts_overlapping_children_once():
    p = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 6.0, 1), _span(4, 5.5, 7.0, 1)]
    assert self_time(p, kids) == pytest.approx(10.0 - 6.0)


def test_self_time_clips_children_to_parent():
    p = _span(1, 2.0, 6.0)
    kids = [_span(2, 0.0, 3.0, 1), _span(3, 5.0, 9.0, 1), _span(4, 7.0, 8.0, 1)]
    assert self_time(p, kids) == pytest.approx(4.0 - 1.0 - 1.0)


def test_tracer_nests_and_dumps_self_time(tmp_path):
    t = Tracer("run", enabled=True)
    with t.span("outer", "a"):
        with t.span("inner", "b"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    rows = [json.loads(x) for x in path.read_text().splitlines()]
    assert rows[0]["self_s"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))


def test_disabled_tracer_records_nothing():
    t = Tracer("run", enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_attribute_by_group_then_by_time():
    outer = _span(1, 0.0, 10.0)
    inner = _span(2, 2.0, 4.0, 1)
    jobs = [
        Job(0, 3.0, f"{GROUP_PREFIX}1"),  # group wins over time
        Job(1, 3.0, None),  # innermost open span
        Job(2, 8.0, "someone-else"),
        Job(3, 20.0, None),  # outside every span
    ]
    got = attribute(jobs, [outer, inner])
    assert [j.id for j in got[1]] == [0, 2]
    assert [j.id for j in got[2]] == [1]


def test_read_event_log_sums_task_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Submission Time": 1500,
         "Stage IDs": [7], "Properties": {"spark.jobGroup.id": "g"}},
        *[
            {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Task Metrics": {
                "Executor Run Time": 250, "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Input Metrics": {"Bytes Read": 10}}}
            for _ in range(2)
        ],
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (job,) = read_event_log(str(tmp_path))
    assert (job.id, job.submitted, job.group, job.tasks) == (4, 1.5, "g", 2)
    assert job.task_s == pytest.approx(0.5)
    assert (job.shuffle_bytes, job.spill_bytes, job.input_bytes) == (200, 6, 20)
