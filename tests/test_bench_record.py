"""bench.py's record, without Spark: the per-query layer aggregation over
event-log jobs (by job group, then by the sample's wall window), the
parser it shares with perfbench on the checked-in miniature log, and the
stdout line's size budget."""

from __future__ import annotations

import json
import os

import bench
import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MINI_LOG = os.path.join(ROOT, "perfbench", "tests", "data", "eventlog_v2_local-1")


def _job(job_id, group, start_ms, tasks=1, run_ms=100, cpu_ns=50_000_000):
    return eventlog.Job(job_id, group, start_ms, end_ms=start_ms + 10, stages=1,
                        tasks=tasks, task_run_ms=run_ms, task_cpu_ns=cpu_ns)


def test_jobs_are_attributed_by_group_then_by_window():
    samples = [
        bench.Sample("q01_a", "bench|1|q01_a", 1000, 2000, 0.25, 0.75),
        bench.Sample("q01_a", "bench|2|q01_a", 3000, 4000, 0.5, 0.5),
        bench.Sample("q01_a", "bench|3|q01_a", 5000, 6000, 0.25, 0.25),
        bench.Sample("shared:t", "shared:t", 7000, 8000, 1.0, 2.0),
    ]
    jobs = [
        _job(0, "bench|1|q01_a", 1500, tasks=4, run_ms=400),
        # no group, inside round 2's window
        _job(1, None, 3500, tasks=2),
        # a streaming micro-batch: a group of its own, inside round 2
        _job(2, "6f1c-run-id", 3600, tasks=2),
        _job(3, "bench|2|q01_a", 3700, tasks=4, run_ms=400),
        _job(4, "bench|3|q01_a", 5500, tasks=4, run_ms=400),
        # started after round 3 had ended: no sample owns it
        _job(5, None, 6500),
        _job(6, "shared:t", 7500, tasks=8, run_ms=800, cpu_ns=700_000_000),
    ]
    records, counts = bench.layer_records(jobs, samples)
    assert counts == {"group": 4, "window": 2, "none": 1}
    q = records["q01_a"]
    # per-field medians over the three rounds: (1, 3, 1) jobs
    assert (q["jobs"], q["tasks"], q["window_jobs"]) == (1, 4, 0)
    assert (q["task_run_s"], q["construct_s"], q["exec_s"]) == (0.4, 0.25, 0.5)
    assert records["shared:t"] == {
        "construct_s": 1.0, "exec_s": 2.0, "compiles": 0, "jobs": 1,
        "stages": 1, "tasks": 8,
        "task_run_s": 0.8, "task_cpu_s": 0.7, "gc_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "window_jobs": 0,
    }


def test_window_jobs_sum_into_their_sample():
    samples = [bench.Sample("q145_s", "bench|1|q145_s", 0, 100, 2.0, 0.1)]
    jobs = [_job(i, f"run-{i % 2}", 10 + i) for i in range(3)]
    records, counts = bench.layer_records(jobs, samples)
    assert counts == {"group": 0, "window": 3, "none": 0}
    assert (records["q145_s"]["jobs"], records["q145_s"]["window_jobs"]) == (3, 3)
    assert records["q145_s"]["task_cpu_s"] == 0.15


def test_checked_in_event_log_parses_in_place():
    jobs = eventlog.parse_dir(MINI_LOG)
    assert [j.group for j in jobs] == ["p1|opA|spark.exec|7", None]
    samples = [
        bench.Sample("opA", "p1|opA|spark.exec|7", 9000, 10600, 0.1, 0.5),
        bench.Sample("opB", "bench|1|opB", 10900, 11300, 0.0, 0.4),
    ]
    records, counts = bench.layer_records(jobs, samples)
    assert counts == {"group": 1, "window": 1, "none": 0}
    a, b = records["opA"], records["opB"]
    assert (a["tasks"], a["task_run_s"], a["task_cpu_s"], a["gc_s"]) == (2, 0.4, 0.25, 0.005)
    assert (a["shuffle_write_bytes"], b["shuffle_read_bytes"], b["spill_bytes"]) == (1500, 100, 10)
    assert b["window_jobs"] == 1


def _line(n_errors, n_retries, message="Py4JJavaError: " + "x" * 480):
    names = [f"q{i:02d}_{'long_query_name'[: i % 16]}" for i in range(1, 146)]
    failed = names[:n_errors]
    timings = {n: round(10 + i / 7, 4) for i, n in enumerate(names) if n not in failed}
    shared = {f"shared:table_number_{i}": 12.3456 for i in range(13)}
    errors = {n: message for n in failed}
    retries = {n: 2 for n in names[-n_retries:]} if n_retries else {}
    layers = {n: {f: 123456.7 for f in bench.LINE_TOTALS} for n in names}
    text = bench.stdout_line(timings, names, shared, errors, retries, layers, 3, 0.1)
    return text, json.loads(text), timings, shared


def test_stdout_line_fits_for_145_queries_with_errors_and_retries():
    for n_errors, n_retries in ((0, 0), (3, 2), (40, 145), (145, 145)):
        text, line, timings, shared = _line(n_errors, n_retries)
        assert len(text.encode()) <= bench.LINE_LIMIT <= 2048, (n_errors, n_retries)
        assert line["value"] == round(line["queries_value"] + sum(shared.values()), 4)
        assert line["queries_value"] == round(sum(timings.values()), 4)
        assert len(line["queries"]) == 145
        assert line["queries"][:n_errors] == [None] * n_errors
        if n_errors:
            assert "errors" in line
        if n_retries:
            assert "retries" in line


def test_stdout_line_keeps_messages_while_they_fit():
    _text, line, _t, _s = _line(2, 1, message="ValueError: no documents table")
    assert line["errors"] == {"q01": "ValueError: no documents table",
                              "q02": "ValueError: no documents table"}
    assert line["retries"] == {"q145": 2}
    # queries are listed in query-number order, q01 first
    assert line["queries"][2] == round(10 + 2 / 7, 4)
    assert set(line) >= {"metric", "value", "unit", "queries_value", "queries",
                         "shared", "repeats", "sf", "layer_totals"}
