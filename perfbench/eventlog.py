"""Spark event-log reader: jobs, job seconds, tasks, executor CPU, shuffle
bytes and scheduler delay, attributed to the engine's ``s<N>:<phase>``
job descriptions.

The log must be written uncompressed (``spark.eventLog.compress=false``);
the ``zstandard`` module is not available to read the default codec.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

_TAG = re.compile(r"^s(\d+):(\w+)$")


@dataclass
class Job:
    job_id: int
    desc: str
    start_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    scheduler_delay_s: float = 0.0

    @property
    def secs(self) -> float:
        return max(0.0, ((self.end_ms or self.start_ms) - self.start_ms) / 1e3)

    @property
    def superstep(self) -> int | None:
        m = _TAG.match(self.desc)
        return int(m.group(1)) if m else None

    @property
    def phase(self) -> str | None:
        m = _TAG.match(self.desc)
        if not m:
            return None
        # compaction jobs are tagged per table (compact_crawl_log, ...)
        return "compact" if m.group(2).startswith("compact_") else m.group(2)


def read_jobs(path: str) -> list[Job]:
    """Every job in the log, in submission order, with its tasks' totals."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    job_id=ev["Job ID"],
                    desc=props.get("spark.job.description", "") or "",
                    start_ms=ev["Submission Time"],
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[job.job_id] = job
                for sid in job.stages:
                    # a shuffle stage reused by a later job runs once;
                    # its tasks belong to the job that first listed it
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                info = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics") or {}
                wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                busy_ms = (
                    tm.get("Executor Run Time", 0)
                    + tm.get("Executor Deserialize Time", 0)
                    + tm.get("Result Serialization Time", 0)
                    + info.get("Getting Result Time", 0)
                )
                job.tasks += 1
                job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                job.scheduler_delay_s += max(0, wall_ms - busy_ms) / 1e3
                job.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return sorted(jobs.values(), key=lambda j: (j.start_ms, j.job_id))


def covered_s(jobs: list[Job], lo_ms: float, hi_ms: float) -> float:
    """Seconds of [lo_ms, hi_ms] during which at least one job ran."""
    spans = sorted(
        (max(lo_ms, j.start_ms), min(hi_ms, j.end_ms or j.start_ms))
        for j in jobs
        if j.start_ms < hi_ms and (j.end_ms or j.start_ms) > lo_ms
    )
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in spans:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1e3
