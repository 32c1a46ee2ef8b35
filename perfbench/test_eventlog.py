"""Unit test of the benchmark's event-log parser on a small canned log.

Run: python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _task(stage: int, run_ms: int, **metrics) -> dict:
    m = {"Executor Run Time": run_ms,
         "Executor CPU Time": run_ms * 500_000,
         "JVM GC Time": metrics.get("gc", 0),
         "Memory Bytes Spilled": metrics.get("mem_spill", 0),
         "Disk Bytes Spilled": metrics.get("disk_spill", 0),
         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                  "Local Bytes Read": metrics.get("sr", 0)},
         "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
         "Input Metrics": {"Bytes Read": metrics.get("inp", 0)},
         "Output Metrics": {"Bytes Written": metrics.get("out", 0)}}
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": m}


def _job(job: int, group: str | None, desc: str, stages: list[int],
         t: int) -> dict:
    props = {"spark.job.description": desc}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": t, "Stage IDs": stages, "Properties": props}


def _stage_done(stage: int, sub: int, comp: int) -> dict:
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Stage Name": f"s{stage}",
                           "Submission Time": sub, "Completion Time": comp}}


CANNED = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    # construct phase: one schema-inference job
    _job(0, "wl:q:construct", "pass=0", [0], 1000),
    _task(0, 40, inp=2_000_000),
    _stage_done(0, 1000, 1050),
    # execute phase: map stage 1 + reduce stage 2
    _job(1, "wl:q:execute", "pass=0", [1, 2], 2000),
    _task(1, 100, inp=5_000_000, sw=1_000_000),
    _task(1, 100, inp=5_000_000, sw=1_000_000, gc=7),
    _stage_done(1, 2000, 2120),
    _task(2, 10, sr=1_000_000, disk_spill=3_000_000, mem_spill=9_000_000),
    _task(2, 10, sr=500_000),
    _task(2, 10, sr=500_000),
    _task(2, 90, sr=0, out=250_000),
    _stage_done(2, 2120, 2300),
    # a later job of the next pass reuses stage 2's shuffle: it lists
    # stage 2 again but must not take it over
    _job(2, "wl:q:execute", "pass=1", [2, 3], 3000),
    _task(3, 5),
    _stage_done(3, 3000, 3010),
    # an untagged job (e.g. the warm-up)
    _job(3, None, "", [4], 4000),
    _task(4, 1),
    _stage_done(4, 4000, 4001),
]


@pytest.fixture
def log() -> eventlog.EventLog:
    lines = [json.dumps(e) for e in CANNED] + ['{"Event": "SparkListenerTa']
    return eventlog.parse_event_log(lines)


def test_jobs_keep_group_and_description(log):
    assert [j.job_id for j in log.jobs_where("wl:q:execute")] == [1, 2]
    assert [j.job_id for j in log.jobs_where("wl:q:execute", "pass=0")] == [1]
    assert log.jobs[3].group is None


def test_stage_belongs_to_first_job_that_listed_it(log):
    assert log.stage_job == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    pass1 = log.jobs_where("wl:q:execute", "pass=1")
    assert [s.stage_id for s in log.stages_of(pass1)] == [3]


def test_summarize_execute_phase(log):
    ops = eventlog.summarize(log, log.jobs_where("wl:q:execute", "pass=0"))
    assert ops["jobs"] == 1
    assert ops["stages"] == 2
    assert ops["tasks"] == 6
    assert ops["task_run_s"] == pytest.approx(0.32)
    assert ops["task_cpu_s"] == pytest.approx(0.16)
    assert ops["gc_s"] == pytest.approx(0.007)
    assert ops["input_mb"] == pytest.approx(10.0)
    assert ops["shuffle_write_mb"] == pytest.approx(2.0)
    assert ops["shuffle_read_mb"] == pytest.approx(2.0)
    assert ops["spill_mb"] == pytest.approx(3.0)
    assert ops["spill_memory_mb"] == pytest.approx(9.0)
    assert ops["output_mb"] == pytest.approx(0.25)


def test_task_skew_uses_longest_stage(log):
    stages = log.stages_of(log.jobs_where("wl:q:execute", "pass=0"))
    # stage 2 ran longest (180 ms wall): tasks 10,10,10,90 -> 90 / 10
    assert eventlog.task_skew(stages) == pytest.approx(9.0)
    assert eventlog.task_skew([]) == 0.0


def test_construct_phase_is_separate(log):
    ops = eventlog.summarize(log, log.jobs_where("wl:q:construct"))
    assert (ops["jobs"], ops["tasks"]) == (1, 1)
    assert ops["input_mb"] == pytest.approx(2.0)
