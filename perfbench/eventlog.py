"""Parse an uncompressed Spark event log into per-job records.

Spark 4 writes a rolling (v2) log directory of ``events_<n>_<app>``
files, zstd-compressed by default; the benchmark turns compression off at
launch so the stdlib can read it. Each job carries its job group (the
tracer's span key) and the sums of its stages' task metrics.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int = 0
    succeeded: bool = True
    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: list = field(default_factory=list)

    @property
    def exec_s(self) -> float:
        return max(0, self.end_ms - self.start_ms) / 1000.0


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order (rolling or single)."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]

    def order(p: str):
        base = os.path.basename(p)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(p), idx)

    return sorted(files, key=order)


def parse(paths) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"Event"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev.get("Submission Time", 0))
                    job.stage_ids = list(ev.get("Stage IDs", []))
                    for sid in job.stage_ids:
                        stage_job.setdefault(sid, job.job_id)
                    jobs[job.job_id] = job
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev.get("Completion Time", job.start_ms)
                        job.succeeded = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = jobs.get(stage_job.get(info["Stage ID"], -1))
                    if job is not None:
                        job.stages += 1
                        job.single_task_stages += info.get("Number of Tasks", 0) == 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    job.tasks += 1
                    info = ev.get("Task Info") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    job.failed_tasks += bool(info.get("Failed")) or reason not in (None, "Success")
                    m = ev.get("Task Metrics") or {}
                    job.task_run_ms += m.get("Executor Run Time", 0)
                    job.task_cpu_ns += m.get("Executor CPU Time", 0)
                    job.gc_ms += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    job.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def parse_dir(log_dir: str) -> list[Job]:
    return parse(event_files(log_dir))
