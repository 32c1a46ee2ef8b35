"""Spark event-log parser owned by the benchmark.

Reads the plain JSON-lines event log a session writes with
``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``, and keeps three things:

- every job, with the ``spark.jobGroup.id`` and ``spark.job.description``
  properties its JobStart carried and the stages it listed;
- every stage, attributed to the first job that listed it (later jobs
  that list the same stage reuse its shuffle output and skip it);
- per stage, the summed task metrics, spill to memory and disk, and the
  run time of every task, which ``task_skew`` needs.

``summarize`` folds the stages of a set of jobs into the ``operators``
counters the benchmark reports.
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    submit_ms: int
    stage_ids: list[int]


@dataclass
class Stage:
    stage_id: int
    name: str = ""
    submit_ms: int = 0
    complete_ms: int = 0
    completed: bool = False
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    memory_spill_bytes: int = 0
    disk_spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    task_run_ms: list[int] = field(default_factory=list)

    @property
    def wall_ms(self) -> int:
        return max(0, self.complete_ms - self.submit_ms)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    #: stage id -> id of the first job that listed it
    stage_job: dict[int, int] = field(default_factory=dict)

    def jobs_where(self, group: str, description: str | None = None
                   ) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group
                and (description is None or j.description == description)]

    def stages_of(self, jobs: Iterable[Job]) -> list[Stage]:
        ids = {j.job_id for j in jobs}
        return [s for sid, s in self.stages.items()
                if self.stage_job.get(sid) in ids]


def parse_event_log(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a torn last line of an unfinished log
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(job_id=ev["Job ID"],
                      group=props.get("spark.jobGroup.id"),
                      description=props.get("spark.job.description"),
                      submit_ms=ev.get("Submission Time", 0),
                      stage_ids=list(ev.get("Stage IDs", [])))
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                log.stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"],
                                       Stage(info["Stage ID"]))
            st.name = info.get("Stage Name") or ""
            st.submit_ms = info.get("Submission Time") or 0
            st.complete_ms = info.get("Completion Time") or 0
            st.completed = True
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            st.tasks += 1
            st.run_ms += run
            st.task_run_ms.append(run)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.memory_spill_bytes += m.get("Memory Bytes Spilled", 0)
            st.disk_spill_bytes += m.get("Disk Bytes Spilled", 0)
            srm = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (srm.get("Remote Bytes Read", 0)
                                      + srm.get("Local Bytes Read", 0))
            swm = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += swm.get("Shuffle Bytes Written", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += ((m.get("Output Metrics") or {})
                                .get("Bytes Written", 0))
    return log


def read_event_log(path: str) -> EventLog:
    with open(path, errors="replace") as f:
        return parse_event_log(f)


def task_skew(stages: list[Stage]) -> float:
    """max / median task run time in the longest stage (by wall)."""
    ran = [s for s in stages if s.task_run_ms]
    if not ran:
        return 0.0
    longest = max(ran, key=lambda s: (s.wall_ms, s.run_ms))
    med = statistics.median(longest.task_run_ms)
    return max(longest.task_run_ms) / med if med > 0 else 1.0


def summarize(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """``operators`` counters over the stages the given jobs ran."""
    stages = log.stages_of(jobs)
    return {
        "jobs": len(jobs),
        "stages": sum(1 for s in stages if s.completed),
        "tasks": sum(s.tasks for s in stages),
        "task_run_s": sum(s.run_ms for s in stages) / 1e3,
        "task_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / MB,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / MB,
        "spill_mb": sum(s.disk_spill_bytes for s in stages) / MB,
        "spill_memory_mb": sum(s.memory_spill_bytes for s in stages) / MB,
        "input_mb": sum(s.input_bytes for s in stages) / MB,
        "output_mb": sum(s.output_bytes for s in stages) / MB,
        "task_skew": task_skew(stages),
    }
