"""The event-log parser on a checked-in miniature Spark 4 (rolling, v2)
event log: two jobs, a skipped stage, a failed task attempt, shuffle and
spill bytes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_event_files_skip_status_markers():
    files = eventlog.event_files(DATA)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]


def test_parse_jobs_and_task_metrics():
    a, b = eventlog.parse_dir(DATA)
    assert (a.job_id, a.group, b.group) == (0, "p1|opA|spark.exec|7", None)
    assert a.exec_s == 0.5 and b.exec_s == 0.25
    assert a.succeeded and not b.succeeded
    # stage 1 was skipped: it never completed, so only stage 0 counts
    assert (a.stages, a.single_task_stages, a.tasks, a.failed_tasks) == (1, 0, 2, 1)
    assert (a.task_run_ms, a.task_cpu_ns, a.gc_ms) == (400, 250_000_000, 5)
    assert (a.shuffle_write_bytes, a.shuffle_read_bytes) == (1500, 0)
    assert (b.stages, b.single_task_stages, b.tasks) == (1, 1, 1)
    assert (b.shuffle_read_bytes, b.spill_bytes) == (100, 10)
