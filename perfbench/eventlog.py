"""Per-stage task metrics read from a Spark event log.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is
on. This module reads the job, stage and task events of an uncompressed
log and folds the task metrics into one record per stage, attributed to
the benchmark span (``trace.SPAN_PROPERTY``) that submitted the job.
It needs no Spark UI and no running session: read the log after
``spark.stop()`` has closed it.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

from perfbench.trace import SPAN_PROPERTY


@dataclass
class Stage:
    stage_id: int
    span: str | None = None
    job_ids: list[int] = field(default_factory=list)
    submitted_ms: int | None = None
    completed_ms: int | None = None
    task_ms: list[int] = field(default_factory=list)
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0

    @property
    def wall_s(self) -> float:
        if self.submitted_ms is None or self.completed_ms is None:
            return 0.0
        return (self.completed_ms - self.submitted_ms) / 1e3


@dataclass
class Job:
    job_id: int
    span: str | None
    submitted_ms: int
    completed_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return 0.0 if self.completed_ms is None else (self.completed_ms - self.submitted_ms) / 1e3


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def for_span(self, span: str) -> tuple[list[Job], list[Stage]]:
        """The jobs submitted under ``span`` and the stages that ran for them."""
        jobs = [j for j in self.jobs.values() if j.span == span]
        stages = [s for s in self.stages.values() if s.span == span and s.submitted_ms is not None]
        return jobs, stages


def parse(lines) -> EventLog:
    """Fold event-log lines (an iterable of JSON strings) into jobs and stages."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            job = Job(ev["Job ID"], span, ev["Submission Time"], stage_ids=list(ev["Stage IDs"]))
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                st = log.stages.setdefault(sid, Stage(sid))
                st.job_ids.append(job.job_id)
                st.span = span if st.span is None else st.span
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]].completed_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submitted_ms = info.get("Submission Time")
            st.completed_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            _add_task(log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])), ev)
    return log


def _add_task(st: Stage, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    if info.get("Launch Time") is not None and info.get("Finish Time"):
        st.task_ms.append(info["Finish Time"] - info["Launch Time"])
    m = ev.get("Task Metrics")
    if not m:  # a task that failed before reporting metrics
        return
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    inp = m.get("Input Metrics") or {}
    st.input_bytes += inp.get("Bytes Read", 0)
    st.input_records += inp.get("Records Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)


def log_files(log_dir: str) -> list[str]:
    """The files of the one application log Spark wrote into ``log_dir``:
    a single file, or the ``events_<n>_*`` parts of a rolling
    ``eventlog_v2_*`` directory in order."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        parts, status = [path], path
    else:
        inner = os.listdir(path)
        parts = sorted(
            (os.path.join(path, n) for n in inner if n.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        status = next((n for n in inner if n.startswith("appstatus_")), "")
    if status.endswith(".inprogress"):
        raise ValueError(f"event log {path} is still open; stop the session first")
    return parts


def read(log_dir: str) -> EventLog:
    """Parse the one application log Spark wrote into ``log_dir``."""
    lines: list[str] = []
    for part in log_files(log_dir):
        with open(part, encoding="utf-8") as f:
            lines.extend(f)
    return parse(lines)


def stage_metrics(stages: list[Stage]) -> dict[str, float]:
    """The ``stage.*`` per-layer metrics over one span's stages.

    ``task_max_over_median`` is taken on the stage with the most
    executor run time: its last-wave tail is what the span waits for.
    """
    tail = 0.0
    if stages:
        top = max(stages, key=lambda s: s.run_ms)
        if top.task_ms and statistics.median(top.task_ms) > 0:
            tail = max(top.task_ms) / statistics.median(top.task_ms)
    return {
        "stage.run_s": sum(s.wall_s for s in stages),
        "stage.cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "stage.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "stage.input_bytes": sum(s.input_bytes for s in stages),
        "stage.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "stage.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "stage.task_max_over_median": tail,
    }
