"""Pins the event-log parser and span self time.

The recorded log (``data/eventlog_two_overlapping_jobs.jsonl``) is a
trimmed Spark 4.1 event log. One job runs under group ``span-a``. Then two
jobs run at the same time from two threads, under groups ``span-b`` and
``span-c``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spantrace  # noqa: E402

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_two_overlapping_jobs.jsonl")


@pytest.fixture(scope="module")
def jobs():
    with open(LOG) as f:
        return spantrace.parse_event_log(f)


def test_parser_attributes_jobs_and_tasks_to_groups(jobs):
    assert [j.id for j in jobs] == [0, 1, 2, 3, 4, 5]
    assert [j.group for j in jobs] == ["span-a", "span-a", "span-b", "span-c", "span-b", "span-c"]
    assert [j.tasks for j in jobs] == [2, 1, 2, 2, 1, 1]
    # jobs 1, 4 and 5 list two stages, but their map stage is skipped:
    # only submitted stages count
    assert [len(j.stages) for j in jobs] == [1, 2, 1, 1, 2, 2]
    assert [j.stages_run for j in jobs] == [1] * 6
    assert [j.shuffle_write_bytes for j in jobs] == [343, 0, 118, 118, 0, 0]
    assert [j.spill_bytes for j in jobs] == [0] * 6
    assert jobs[0].cpu_s == pytest.approx(0.307434593)
    assert jobs[0].gc_s == pytest.approx(0.034)
    assert jobs[2].start == pytest.approx(1792182705.833)
    assert jobs[2].end == pytest.approx(1792182705.95)
    # every task of the log lands in some job
    with open(LOG) as f:
        n_tasks = sum('"SparkListenerTaskEnd"' in line for line in f)
    assert sum(j.tasks for j in jobs) == n_tasks == 9


def test_overlapping_jobs_count_once(jobs):
    intervals = [(j.start, j.end) for j in jobs if j.group in ("span-b", "span-c")]
    # jobs 2 and 3 overlap, then jobs 4 and 5: 0.164 s + 0.078 s covered
    assert spantrace.union_length(intervals) == pytest.approx(0.242, abs=1e-6)
    assert sum(e - s for s, e in intervals) == pytest.approx(0.394, abs=1e-6)
    # clipped to a span that ends inside job 3
    assert spantrace.union_length(intervals, 1792182705.8, 1792182705.9) == pytest.approx(
        0.067, abs=1e-6)


def test_union_length_clips_and_merges():
    assert spantrace.union_length([]) == 0.0
    assert spantrace.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spantrace.union_length([(0, 2), (1, 3), (5, 6)], lo=1.5, hi=5.5) == 2.0
    assert spantrace.union_length([(0, 1), (1, 2)]) == 2.0


def test_self_time_subtracts_union_of_children():
    spans = [
        spantrace.Span("op", "op", 0.0, 10.0),
        # children overlap each other: 1..5 and 3..6 cover 5 s, not 7 s
        spantrace.Span("a", "analyze", 1.0, 5.0, parent="op"),
        spantrace.Span("b", "report.sink", 3.0, 6.0, parent="op"),
        spantrace.Span("c", "history.read_summary", 2.0, 3.0, parent="a"),
    ]
    st = spantrace.self_times(spans)
    assert st == {"op": pytest.approx(5.0), "a": pytest.approx(3.0),
                  "b": pytest.approx(3.0), "c": pytest.approx(1.0)}


def test_tracer_spans_nest_and_restore_job_group():
    class FakeSC:
        def __init__(self):
            self.props = {}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            self.props[k] = v

        def setJobGroup(self, g, desc):
            self.props["spark.jobGroup.id"] = g

    sc = FakeSC()
    t = spantrace.Tracer(sc=sc)
    with t.span("op") as op:
        assert sc.props["spark.jobGroup.id"] == op.id
        with t.span("analyze") as inner:
            assert sc.props["spark.jobGroup.id"] == inner.id
        assert sc.props["spark.jobGroup.id"] == op.id
    assert sc.props["spark.jobGroup.id"] is None
    assert inner.parent == op.id and op.parent is None
    assert [s.name for s in t.spans] == ["analyze", "op"]
