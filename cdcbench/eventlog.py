"""Fold a Spark event log (JSON lines) into per-span figures.

Only four event kinds are read: job start and end (interval and stage
ids), stage completed (interval) and task end (task metrics). A job
belongs to a span when the span's interval contains the job's interval
(so a job inside a nested span belongs to both). A span's ``driver_ms``
is its wall time minus the union of the job intervals inside it: time
the driver spent planning, reading footers, committing manifests or
waiting, with no Spark job running for it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from statistics import median
from typing import Any, Iterable

# a job stamped in the same millisecond as a span edge still belongs to it
_EDGE_MS = 1.0


@dataclass
class Stage:
    stage_id: int
    start_ms: float = 0.0
    end_ms: float = 0.0
    completed: bool = False
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_run_ms: list[float] = field(default_factory=list)

    @property
    def is_map(self) -> bool:
        """Shuffle-map stage: its output goes to a shuffle, not to a sink."""
        return self.shuffle_write_bytes > 0

    @property
    def writes_output(self) -> bool:
        return self.output_bytes > 0 or self.output_records > 0


@dataclass
class Job:
    job_id: int
    start_ms: float
    end_ms: float
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, Stage]

    def job_stages(self, job: Job) -> list[Stage]:
        """Stages of ``job`` that ran (a skipped stage never completes)."""
        return [
            self.stages[s] for s in sorted(job.stage_ids)
            if s in self.stages and self.stages[s].completed
        ]

    def jobs_within(self, start_ms: float, end_ms: float) -> list[Job]:
        return [
            j for j in self.jobs
            if j.start_ms >= start_ms - _EDGE_MS and j.end_ms <= end_ms + _EDGE_MS
        ]


def read_event_log(lines: Iterable[str]) -> EventLog:
    starts: dict[int, tuple[float, list[int]]] = {}
    ends: dict[int, float] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = (float(ev["Submission Time"]), list(ev["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            ends[ev["Job ID"]] = float(ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.start_ms = float(info.get("Submission Time", 0))
            st.end_ms = float(info.get("Completion Time", 0))
            st.completed = True
        elif kind == "SparkListenerTaskEnd":
            _add_task(stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])), ev)
    jobs = [
        Job(jid, t0, ends[jid], sids)
        for jid, (t0, sids) in sorted(starts.items()) if jid in ends
    ]
    return EventLog(jobs, stages)


def load_event_log(path: str) -> EventLog:
    with open(path) as f:
        return read_event_log(f)


def _add_task(st: Stage, ev: dict[str, Any]) -> None:
    m = ev.get("Task Metrics") or {}
    run = float(m.get("Executor Run Time", 0))
    st.tasks += 1
    st.run_ms += run
    st.task_run_ms.append(run)
    st.cpu_ms += float(m.get("Executor CPU Time", 0)) / 1e6
    st.gc_ms += float(m.get("JVM GC Time", 0))
    st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
    st.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
    out = m.get("Output Metrics") or {}
    st.output_bytes += int(out.get("Bytes Written", 0))
    st.output_records += int(out.get("Records Written", 0))
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += int(rd.get("Remote Bytes Read", 0)) + int(rd.get("Local Bytes Read", 0))
    st.shuffle_write_bytes += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))


def union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_ms(span: dict[str, Any], log: EventLog) -> float:
    """Span wall time not covered by any Spark job inside it."""
    jobs = log.jobs_within(span["start_ms"], span["end_ms"])
    covered = union_ms(
        (max(j.start_ms, span["start_ms"]), min(j.end_ms, span["end_ms"])) for j in jobs
    )
    return (span["end_ms"] - span["start_ms"]) - covered


def task_skew(stages: Iterable[Stage]) -> float:
    """Slowest task over the median task (by executor run time); 1.0 when
    every task took equally long or there were no tasks."""
    runs = [r for st in stages for r in st.task_run_ms]
    if not runs:
        return 1.0
    med = median(runs)
    return max(runs) / med if med > 0 else 1.0


def totals(stages: Iterable[Stage]) -> dict[str, float]:
    stages = list(stages)
    keys = ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "output_bytes",
            "output_records", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    return {k: float(sum(getattr(st, k) for st in stages)) for k in keys}
