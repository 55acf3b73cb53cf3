"""Tests of the event-log folder on a tiny recorded Spark event log.

The log was recorded from a local[2] session and trimmed to the fields
the folder reads. Spans, in epoch ms as the benchmark's tracer wrote them:

* ``outer`` holds job 1 and the span ``inner``;
* ``inner`` holds job 0 (a two-stage aggregate);
* job 2 ran after both spans ended.

Run with ``python3 -m pytest cdcbench/test_eventlog.py``.
"""

from __future__ import annotations

import os

import pytest

from cdcbench import eventlog as el

LOG = os.path.join(os.path.dirname(__file__), "testdata", "tiny_eventlog.jsonl")
SPANS = [
    {"name": "outer", "start_ms": 1792175369667.1301, "end_ms": 1792175374570.7053, "parent": None},
    {"name": "inner", "start_ms": 1792175369867.2915, "end_ms": 1792175373507.215, "parent": 0},
]


@pytest.fixture(scope="module")
def log() -> el.EventLog:
    return el.load_event_log(LOG)


def test_reads_jobs_and_stages(log):
    assert [j.job_id for j in log.jobs] == [0, 1, 2]
    assert [s.stage_id for s in log.job_stages(log.jobs[0])] == [0, 1]
    assert log.stages[0].tasks == 3 and log.stages[0].is_map
    assert not log.stages[1].is_map


def test_job_belongs_to_the_spans_containing_it(log):
    def within(span):
        return [j.job_id for j in log.jobs_within(span["start_ms"], span["end_ms"])]

    assert within(SPANS[0]) == [0, 1]  # outer holds inner's job too
    assert within(SPANS[1]) == [0]
    # a job that starts inside a span but ends after it is not the span's
    assert log.jobs_within(SPANS[1]["start_ms"], log.jobs[0].end_ms - 10) == []


def test_driver_ms_is_wall_minus_union_of_jobs_inside(log):
    # outer: 4903.5752 ms wall; job 0 ran 1035 ms, job 1 ran 226 ms
    assert el.driver_ms(SPANS[0], log) == pytest.approx(4903.5752 - 1035 - 226, abs=1e-3)
    # inner: 3639.9235 ms wall; only job 0 inside
    assert el.driver_ms(SPANS[1], log) == pytest.approx(3639.9235 - 1035, abs=1e-3)


def test_task_skew_is_slowest_over_median(log):
    # stage 2 tasks ran 51, 39 and 2 ms
    assert el.task_skew([log.stages[2]]) == pytest.approx(51 / 39)
    # stages 0 and 1 pooled: 269, 268, 21, 129, 153 ms
    assert el.task_skew([log.stages[0], log.stages[1]]) == pytest.approx(269 / 153)
    assert el.task_skew([]) == 1.0


def test_union_ms_merges_overlaps():
    assert el.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert el.union_ms([]) == 0
