"""Per-job timeline of one Spark application, read from its event log.

Usage:
    python tools/job_timeline.py LOG

LOG is an uncompressed, non-rolling Spark event log, or a directory that
holds exactly one.  Such a log is written by running the program with

    PYSPARK_SUBMIT_ARGS="--conf spark.eventLog.enabled=true \\
      --conf spark.eventLog.compress=false \\
      --conf spark.eventLog.rolling.enabled=false \\
      --conf spark.eventLog.dir=file:///abs/log/dir pyspark-shell"

Prints one line per job: job id, start offset from the first job's
submission, duration, tasks run and call site.  A task counts toward the
first job that lists its stage, as in the benchmark's traced metrics.  The
last stdout line is a JSON summary ``{jobs, tasks, span_s}``.  Reads the
log in one pass; needs no JVM.
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))

from eventlog import find_log  # noqa: E402


@dataclass
class JobRow:
    job_id: int
    submit_ms: int
    end_ms: int
    site: str
    tasks: int = 0


def read_jobs(path: Path) -> list[JobRow]:
    """Every job in the log, in submission order.  A job that AQE submits
    from its own thread carries no call site; it takes its SQL
    execution's description, else its first stage's name."""
    jobs: dict[int, JobRow] = {}
    stage_job: dict[int, int] = {}
    executions: dict[str, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                stages = ev.get("Stage Infos") or [{}]
                job_id, submit = ev["Job ID"], ev.get("Submission Time", 0)
                jobs[job_id] = JobRow(
                    job_id,
                    submit,
                    submit,
                    props.get("callSite.short")
                    or executions.get(str(props.get("spark.sql.execution.id")))
                    or stages[0].get("Stage Name", ""),
                )
                for s in ev.get("Stage IDs", []):
                    # a stage reused by a later job ran (if at all) under
                    # the first job that listed it
                    stage_job.setdefault(s, job_id)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd" and stage_job.get(ev["Stage ID"]) in jobs:
                jobs[stage_job[ev["Stage ID"]]].tasks += 1
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                executions[str(ev.get("executionId"))] = ev.get("description", "")
    return sorted(jobs.values(), key=lambda j: j.submit_ms)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("log", type=Path, help="event log file, or a directory holding one")
    path = p.parse_args().log
    jobs = read_jobs(find_log(path) if path.is_dir() else path)
    t0 = jobs[0].submit_ms if jobs else 0
    last = max((j.end_ms for j in jobs), default=t0)
    for j in jobs:
        print(
            f"job {j.job_id:4d}  +{(j.submit_ms - t0) / 1000:8.3f}s  "
            f"{(j.end_ms - j.submit_ms) / 1000:7.3f}s  tasks {j.tasks:4d}  {j.site}"
        )
    summary = {"jobs": len(jobs), "tasks": sum(j.tasks for j in jobs), "span_s": round((last - t0) / 1000, 3)}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
