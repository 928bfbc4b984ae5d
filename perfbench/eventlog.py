"""Spark event-log reader (standard library only).

Reads the uncompressed JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
(rolling or single-file layout) and folds it into one record per job:
its job group, submission and completion times, stages run and task
totals. Tasks reach their job through the stage that ran them: a stage
belongs to the last started job that lists it, since a job that reuses a
finished shuffle stage lists it but skips it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

TASK_TOTALS = (
    "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    succeeded: bool = False
    stages: int = 0
    totals: dict[str, int] = field(default_factory=lambda: dict.fromkeys(TASK_TOTALS, 0))


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: plain ``app-*``/``local-*`` files
    and the ``events_*`` parts of rolling logs, in name order."""
    out = []
    for dirpath, dirnames, filenames in os.walk(log_dir):
        dirnames.sort()
        for name in sorted(filenames):
            if name.startswith(("events_", "local-", "app-")) and not name.endswith(".crc"):
                out.append(os.path.join(dirpath, name))
    return out


def _task_totals(event: dict) -> dict[str, int]:
    m = event.get("Task Metrics") or {}
    info = event.get("Task Info") or {}
    read = m.get("Shuffle Read Metrics") or {}
    return {
        "tasks": 1,
        "failed_tasks": int(bool(info.get("Failed") or info.get("Killed"))),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_read_bytes": read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def read_jobs(paths: list[str]) -> list[Job]:
    """Every job in the given event-log files, in start order."""
    jobs: dict[tuple[int, int], Job] = {}
    for app, path in enumerate(paths):
        stage_job: dict[int, Job] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                event = json.loads(line)
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    props = event.get("Properties") or {}
                    job = Job(event["Job ID"], props.get("spark.jobGroup.id"),
                              event["Submission Time"])
                    jobs[(app, job.job_id)] = job
                    for stage_id in event.get("Stage IDs", []):
                        stage_job[stage_id] = job
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, event["Job ID"]))
                    if job is not None:
                        job.end_ms = event["Completion Time"]
                        job.succeeded = event["Job Result"]["Result"] == "JobSucceeded"
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(event["Stage Info"]["Stage ID"])
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(event["Stage ID"])
                    if job is not None:
                        for key, value in _task_totals(event).items():
                            job.totals[key] += value
    return sorted(jobs.values(), key=lambda j: (j.start_ms, j.job_id))


def busy_ms(jobs: list[Job]) -> int:
    """Length of the union of the jobs' [start, end] intervals."""
    return union_length([(j.start_ms, j.end_ms) for j in jobs if j.end_ms is not None])


def union_length(intervals):
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
