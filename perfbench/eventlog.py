"""Spark event-log reader for the traced run.

The traced driver runs with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (the default zstd codec needs a Python
module this benchmark does not assume).  Each job is attributed to a span:
by its ``spark.jobGroup.id`` when the span set one, otherwise by the
innermost span whose wall interval holds the job's submission time.  The
time rule covers jobs the program submits from its own thread pools, which
do not inherit the caller's job group.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    spill: int
    failed: bool


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]
    stage_job: dict[int, int]


def find_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {[p.name for p in logs]}")
    return logs[0]


def read_log(path: Path) -> EventLog:
    jobs: list[Job] = []
    tasks: list[Task] = []
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    submit_ms=ev.get("Submission Time", 0),
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs.append(job)
                for s in job.stages:
                    # a stage reused by a later job ran (if at all) under
                    # the first job that listed it
                    stage_job.setdefault(s, job.job_id)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                info = ev.get("Task Info") or {}
                tasks.append(
                    Task(
                        stage=ev["Stage ID"],
                        run_ms=m.get("Executor Run Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write=sw.get("Shuffle Bytes Written", 0),
                        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        failed=bool(info.get("Failed", False)),
                    )
                )
    return EventLog(jobs, tasks, stage_job)


def attribute_jobs(log: EventLog, spans: list[dict]) -> dict[int, str]:
    """job id -> span name (group tag first, then innermost time window)."""
    names = {s["name"] for s in spans}
    out: dict[int, str] = {}
    for job in log.jobs:
        if job.group in names:
            out[job.job_id] = job.group
            continue
        t = job.submit_ms / 1000.0
        holding = [s for s in spans if s["start"] <= t <= s["end"]]
        if holding:
            out[job.job_id] = min(holding, key=lambda s: s["end"] - s["start"])["name"]
    return out


def span_stats(log: EventLog, job_span: dict[int, str], span_names: set[str]) -> dict[str, float]:
    """Task totals over every job attributed to any span in ``span_names``."""
    jobs = {j for j, name in job_span.items() if name in span_names}
    tasks = [t for t in log.tasks if log.stage_job.get(t.stage) in jobs]
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    skew = 0.0
    if by_stage:
        # skew of the stage that dominates the span's busy time
        heaviest = max(by_stage.values(), key=sum)
        med = statistics.median(heaviest)
        skew = max(heaviest) / med if med > 0 else float(len(heaviest) > 0)
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "task_busy_s": sum(t.run_ms for t in tasks) / 1000.0,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / 1e6,
        "spill_mb": sum(t.spill for t in tasks) / 1e6,
        "failed_tasks": sum(t.failed for t in tasks),
        "task_skew": skew,
    }
