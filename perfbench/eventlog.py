"""Reduce a Spark event log to per-job metrics.

The log must be written uncompressed (``spark.eventLog.compress=false``).
Spark 4 rolls it by default into ``eventlog_v2_<app>/events_<n>_<app>``
files; a single plain file is read as well.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

PYTHON_TIMERS = (  # SQL metrics of the Python runners, in milliseconds
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    t0: float  # epoch seconds
    t1: float = 0.0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # disk bytes spilled
    python_s: float = 0.0
    out_bytes: int = 0
    out_records: int = 0


def event_files(path: str) -> list[str]:
    """The event log files under ``path``, in write order."""
    if os.path.isfile(path):
        return [path]
    rolled, plain = [], []
    for root, _, files in os.walk(path):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                rolled.append((int(m.group(1)), os.path.join(root, f)))
            elif not f.startswith((".", "appstatus")):
                plain.append(os.path.join(root, f))
    return [p for _, p in sorted(rolled)] or sorted(plain)


def read_events(path: str):
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def reduce_jobs(events) -> dict[int, Job]:
    """Job id -> Job with its task metrics summed. A task belongs to the
    latest job that listed its stage when it started."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.jobGroup.id"), e["Submission Time"] / 1000.0)
            jobs[job.job_id] = job
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.t1 = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
            if job is None:
                continue
            m = e.get("Task Metrics") or {}
            job.tasks += 1
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1e3
            job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            out = m.get("Output Metrics") or {}
            job.out_bytes += out.get("Bytes Written", 0)
            job.out_records += out.get("Records Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PYTHON_TIMERS:
                    job.python_s += float(acc.get("Update") or 0) / 1e3
    for job in jobs.values():
        if not job.t1:  # never ended (log cut short): count it as instant
            job.t1 = job.t0
    return jobs
