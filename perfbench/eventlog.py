"""Read Spark's own event log into per-job records.

The session writes an uncompressed, non-rolling event log
(``spark.eventLog.enabled``, ``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``). ``SparkListenerJobStart``
gives each job's tags and stages, ``SparkListenerJobEnd`` its end, and
``SparkListenerTaskEnd`` its tasks' executor time and shuffle bytes. No
UI and no REST server are involved.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
TAGS_PROPERTY = "spark.job.tags"


@dataclass
class Job:
    job_id: int
    start_s: float
    end_s: float
    tags: frozenset
    stages: tuple
    tasks: int = 0
    shuffle_bytes: int = 0
    exec_s: float = 0.0
    output_bytes: int = 0
    output_records: int = 0


def log_file(log_dir: str) -> str:
    """The one application log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_jobs(path: str) -> list[Job]:
    """Every finished job of the log, in start order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as handle:
        for line in handle:
            event = json.loads(line)
            kind = event.get("Event")
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                tags = props.get(TAGS_PROPERTY) or ""
                job = Job(
                    job_id=event["Job ID"],
                    start_s=event["Submission Time"] / 1000.0,
                    end_s=float("nan"),
                    tags=frozenset(t for t in tags.split(",") if t),
                    stages=tuple(event.get("Stage IDs") or ()),
                )
                jobs[job.job_id] = job
                for stage in job.stages:
                    stage_job[stage] = job.job_id
            elif kind == "SparkListenerJobEnd":
                if event["Job ID"] in jobs:
                    jobs[event["Job ID"]].end_s = event["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(event)
    for event in tasks:
        job = jobs.get(stage_job.get(event.get("Stage ID")))
        if job is None:
            continue
        metrics = event.get("Task Metrics") or {}
        job.tasks += 1
        job.exec_s += metrics.get("Executor Run Time", 0) / 1000.0
        job.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        output = metrics.get("Output Metrics") or {}
        job.output_bytes += output.get("Bytes Written", 0)
        job.output_records += output.get("Records Written", 0)
    return sorted((j for j in jobs.values() if j.end_s == j.end_s),
                  key=lambda j: (j.start_s, j.job_id))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_gap_s(jobs: list[Job], lo: float, hi: float) -> float:
    """Wall time of ``[lo, hi)`` during which no job ran."""
    return (hi - lo) - union_length(clip([(j.start_s, j.end_s) for j in jobs], lo, hi))
