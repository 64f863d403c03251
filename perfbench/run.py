#!/usr/bin/env python3
"""Run one workload of the intake_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 30 --trace 0

Closed loop from one driver process on ``local[<cores>]``: the workload's
operations run one after another in passes. The first pass is the cold
pass; the workload's ``warm_passes`` warm passes follow
(``TRACED_WARM_PASSES`` in a traced run), and ``--seconds`` only caps
them: no warm pass starts once the warm passes have taken that long.
Output checks run after the timed passes. See README.md for the
workloads and metrics.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every layer call plus an uncompressed Spark event log and prints
the per-layer metrics. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the host facts and the warm-pass latency. Everything the run
writes lives under ``.perfbench/`` in the checkout and is removed at
exit.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import host  # noqa: E402
import stats  # noqa: E402

# traced runs measure untraced, traced, untraced warm passes
TRACED_WARM_PASSES = 3
# an operation slower than this counts as failed (timed out)
OP_TIMEOUT_S = 60.0

END_TO_END = (("setup_s", "s"), ("mem_mb", "MB"))
_SPARK = (
    ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("single_task_stage_ratio", "ratio"), ("idle_slot_s", "s"), ("task_run_s", "s"),
    ("task_cpu_s", "s"), ("python_udf_s", "s"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("gc_s", "s"),
    ("failed_tasks", "count"), ("log_errors", "count"),
)
PER_LAYER = (
    ("session.boot_s", "s"), ("session.load_table_s", "s"),
    ("session.load_table_calls", "count"), ("session.scan_cache_hit_ratio", "ratio"),
    ("session.pyworker_warm_s", "s"),
    ("benchqueries.construct_s", "s"), ("benchqueries.construct_jobs", "count"),
    ("llm.queries.construct_s", "s"), ("llm.queries.construct_jobs", "count"),
    ("llm.queries.shared_build_s", "s"),
    *((f"spark.{n}", u) for n, u in _SPARK),
    ("datatypes.recommend_s", "s"), ("datatypes.recommend_calls", "count"),
    ("datatypes.recommend_correct_ratio", "ratio"), ("datatypes.recommend_corpus_s", "s"),
    ("datatypes.corpus_sniffed_ratio", "ratio"),
    ("readers.read_s", "s"), ("readers.read_jobs", "count"),
    ("convert.auto_pipeline_s", "s"),
    ("catalog.open_s", "s"), ("catalog.to_yaml_s", "s"), ("catalog.search_s", "s"),
    ("catalog.rehydrate_s", "s"), ("catalog.add_entry_s", "s"), ("catalog.materialize_s", "s"),
    ("catalog.entries", "count"),
    ("pipeline.read_s", "s"), ("steps.run_steps_s", "s"),
    *((f"output.write_s.{s}", "s") for s in ("parquet", "csv", "json", "orc", "avro", "delta")),
    ("output.bytes_written", "bytes"), ("output.bytes_per_input_byte", "ratio"),
    ("output.files_written", "count"),
    ("lakehouse.delta_commit_s", "s"), ("lakehouse.delta_replay_s", "s"),
    ("lakehouse.delta_versions", "count"),
    ("streaming.drain_s", "s"), ("streaming.drains", "count"), ("streaming.retries", "count"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
)
# span name -> per-layer time metric (self time per traced warm pass)
SPAN_TIME = {
    "session.load_table": "session.load_table_s",
    "benchqueries.construct": "benchqueries.construct_s",
    "llm.queries.construct": "llm.queries.construct_s",
    "datatypes.recommend": "datatypes.recommend_s",
    "datatypes.recommend_corpus": "datatypes.recommend_corpus_s",
    "readers.read": "readers.read_s",
    "convert.auto_pipeline": "convert.auto_pipeline_s",
    "catalog.open": "catalog.open_s",
    "catalog.to_yaml": "catalog.to_yaml_s",
    "catalog.search": "catalog.search_s",
    "catalog.rehydrate": "catalog.rehydrate_s",
    "catalog.add_entry": "catalog.add_entry_s",
    "catalog.materialize": "catalog.materialize_s",
    "pipeline.read": "pipeline.read_s",
    "steps.run_steps": "steps.run_steps_s",
    "lakehouse.delta_replay": "lakehouse.delta_replay_s",
    "streaming.drain_stream": "streaming.drain_s",
    **{f"output.write.{s}": f"output.write_s.{s}" for s in ("parquet", "csv", "json", "orc", "avro", "delta")},
}
# span name -> per-layer count of Spark jobs launched inside it
SPAN_JOBS = {
    "benchqueries.construct": "benchqueries.construct_jobs",
    "llm.queries.construct": "llm.queries.construct_jobs",
    "readers.read": "readers.read_jobs",
}
# span name -> per-layer call count
SPAN_CALLS = {
    "session.load_table": "session.load_table_calls",
    "datatypes.recommend": "datatypes.recommend_calls",
    "streaming.drain_stream": "streaming.drains",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, heap_mb: int, cores: int, trace: bool) -> dict:
    """Point every scratch path of Spark, the JVM and Python workers into
    ``work``; size the driver heap; in traced runs turn on the event log
    and the ERROR-line log file. Must run before the JVM launches."""
    paths = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "events")}
    for p in paths.values():
        os.makedirs(p)
    paths["errors"] = os.path.join(work, "jvm-errors.log")
    # a fixed, pre-touched heap: no resize pauses and no page faults
    # inside the timed passes (memory is read from the JVM's pools, so
    # the resident heap does not count)
    java = f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:+UseG1GC -Djava.io.tmpdir={paths['tmp']}"
    submit = [
        f"--conf spark.local.dir={paths['local']}",
        f"--conf spark.sql.warehouse.dir={paths['warehouse']}",
    ]
    if trace:
        java += (f" -Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2-trace.properties')}"
                 f" -Dperfbench.log={paths['errors']}")
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{paths['events']}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ.update({
        "TMPDIR": paths["tmp"],
        "SPARK_LOCAL_DIRS": paths["local"],
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": java,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return paths


def install_wrappers(tracer) -> None:
    """Wrap the layer entry points that are reached only from engine code."""
    import intake_spark.lakehouse as lakehouse
    import intake_spark.session as session
    from intake_spark.pipeline import Pipeline
    from intake_spark.readers import BaseReader
    from spans import wrap_function, wrap_method

    seen: set[int] = set()

    def scan_hit(span, df):
        span.attrs["hit"] = id(df) in seen
        seen.add(id(df))

    wrap_function(tracer, session, "load_table", "session.load_table", on_result=scan_hit)
    wrap_function(tracer, lakehouse, "delta_log_state", "lakehouse.delta_replay")
    wrap_method(tracer, BaseReader, "read", "readers.read")
    wrap_method(tracer, Pipeline, "read", "pipeline.read")


def run_pass(ops, tracer, pass_no: int) -> tuple[float, list]:
    tracer.pass_no = pass_no
    samples = []
    t_pass = time.perf_counter()
    for name, fn in ops:
        tracer.op = name
        err = None
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            err = f"{type(exc).__name__}: {exc}"[:300]
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        if err is None and dt > OP_TIMEOUT_S:
            err = f"timed out ({dt:.1f} s > {OP_TIMEOUT_S} s)"
        samples.append((name, dt, err))
    tracer.op = None
    return time.perf_counter() - t_pass, samples


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def layer_metrics(tracer, jobs, traced_warm: list[int], cores: int, udf_s: float,
                  log_errors: int) -> dict[str, float]:
    """Per-layer metrics as per-traced-warm-pass means."""
    n = max(1, len(traced_warm))
    spans = [s for s in tracer.spans if s.pass_no in traced_warm]
    self_t = stats.self_times(tracer.spans)
    out: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    for s in spans:
        if s.name in SPAN_TIME:
            out[SPAN_TIME[s.name]] += self_t[s.sid] / n
        if s.name in SPAN_CALLS:
            out[SPAN_CALLS[s.name]] += 1 / n
    loads = [s for s in spans if s.name == "session.load_table"]
    if loads:
        out["session.scan_cache_hit_ratio"] = sum(bool(s.attrs.get("hit")) for s in loads) / len(loads)

    by_sid = {s.sid: s for s in tracer.spans}

    def chain(group: str | None) -> list:
        """The span a job group names, then its ancestors."""
        sid = tracer.span_id(group)
        out_ = []
        while sid is not None and sid in by_sid:
            out_.append(by_sid[sid])
            sid = by_sid[sid].parent
        return out_

    warm_jobs = []
    delta_exec: dict[int, float] = {}
    for job in jobs:
        spans_ = chain(job.group)
        if not spans_ or spans_[0].pass_no not in traced_warm:
            continue
        warm_jobs.append(job)
        for name in {s.name for s in spans_}:
            if name in SPAN_JOBS:
                out[SPAN_JOBS[name]] += 1 / n
        if spans_[0].name == "output.write.delta":
            delta_exec[spans_[0].sid] = delta_exec.get(spans_[0].sid, 0.0) + job.exec_s
    out["lakehouse.delta_commit_s"] = sum(
        max(0.0, self_t[s.sid] - delta_exec.get(s.sid, 0.0)) for s in spans if s.name == "output.write.delta"
    ) / n

    exec_s = sum(j.exec_s for j in warm_jobs)
    task_run = sum(j.task_run_ms for j in warm_jobs) / 1000.0
    stages_ = sum(j.stages for j in warm_jobs)
    out.update({
        "spark.exec_s": exec_s / n,
        "spark.jobs": len(warm_jobs) / n,
        "spark.stages": stages_ / n,
        "spark.tasks": sum(j.tasks for j in warm_jobs) / n,
        "spark.single_task_stage_ratio": sum(j.single_task_stages for j in warm_jobs) / max(1, stages_),
        "spark.idle_slot_s": (exec_s * cores - task_run) / n,
        "spark.task_run_s": task_run / n,
        "spark.task_cpu_s": sum(j.task_cpu_ns for j in warm_jobs) / 1e9 / n,
        "spark.python_udf_s": udf_s / n,
        "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in warm_jobs) / n,
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in warm_jobs) / n,
        "spark.spill_bytes": sum(j.spill_bytes for j in warm_jobs) / n,
        "spark.gc_s": sum(j.gc_ms for j in warm_jobs) / 1000.0 / n,
        "spark.failed_tasks": sum(j.failed_tasks for j in warm_jobs) / n,
        "spark.log_errors": log_errors,
    })
    return out


def jvm_memory_mb(spark) -> dict[str, float]:
    """The heap the JVM still holds after a full GC, and the peak of each
    non-heap pool (class metadata, code cache), in MB. Peak heap use is
    not taken: G1 fills the young generation to a size it derives from
    the heap size, so that peak is set by -Xmx, not by the program."""
    lang = spark.sparkContext._jvm.java.lang
    # drop the Python proxies of dead JVM objects first; after the first
    # full GC, Spark's ContextCleaner removes the blocks and shuffle state
    # of what that GC found dead, which the second GC then frees
    gc.collect()
    lang.System.gc()
    time.sleep(0.5)
    lang.System.gc()
    mf = lang.management.ManagementFactory
    out = {"heap_live": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20}
    for p in mf.getMemoryPoolMXBeans():
        if p.getType().name() == "NON_HEAP":
            out[p.getName()] = p.getPeakUsage().getUsed() / 2**20
    return out


def udf_profile_seconds(spark, dump_dir: str) -> float:
    """Total Python-UDF time recorded by Spark's perf profiler."""
    import pstats

    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for p in glob.glob(os.path.join(dump_dir, "**", "*"), recursive=True):
        if os.path.isfile(p):
            total += pstats.Stats(p).total_tt
    return total


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "intake_spark")):
        print(f"no intake_spark package next to {HERE}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    trace = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    heap_mb = host.driver_heap_mb()
    rng = random.Random(args.seed)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, trace, cores, heap_mb, rng, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, trace, cores, heap_mb, rng, work) -> int:
    from workloads import WORKLOADS, Context
    from spans import Tracer

    wl = WORKLOADS[args.workload]()
    paths = configure_env(work, heap_mb, cores, trace)
    tables = datagen.write_tables(os.path.join(work, "tables"), wl.sf)

    t_setup = time.perf_counter()
    from intake_spark.session import get_session

    spark = get_session(f"perfbench-{args.workload}")
    boot_s = time.perf_counter() - t_setup
    try:
        if not trace:
            spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext)
        ctx = Context(spark, tables, work, rng, tracer)
        if trace:
            install_wrappers(tracer)
            tracer.enabled = True
        tracer.pass_no = -1
        wl.setup(ctx)
        ops = wl.ops(ctx)
        setup_s = time.perf_counter() - t_setup

        from intake_spark import streaming

        steal0, total0 = host.cpu_ticks()
        retries0 = streaming.RETRY_COUNT
        passes: list[tuple[int, bool, float, list]] = []
        t_measure = time.perf_counter()
        t_warm = 0.0
        n_warm = TRACED_WARM_PASSES if trace else wl.warm_passes
        for k in range(1 + n_warm):
            # traced runs: the cold pass is traced, then warm passes
            # alternate untraced / traced so the overhead is measured
            traced = trace and k % 2 == 0
            tracer.enabled = traced
            if trace and k > 0:
                if traced:
                    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                else:
                    spark.conf.unset("spark.sql.pyspark.udf.profiler")
            wall, samples = run_pass(ops, tracer, k)
            passes.append((k, traced, wall, samples))
            if k == 0:
                t_warm = time.perf_counter()
            # the cap leaves a traced run an untraced and a traced warm
            # pass, for the overhead
            elif k >= (2 if trace else 1) and time.perf_counter() - t_warm >= args.seconds:
                break
        measured_s = time.perf_counter() - t_measure
        tracer.enabled = False
        if trace:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        steal1, total1 = host.cpu_ticks()
        retries = streaming.RETRY_COUNT - retries0

        # memory of setup and the timed passes; the checks after them
        # collect a seeded query's result and would make it seed-dependent
        mem_mb = {"python_hwm": host.vm_hwm_kb("self") / 1024.0, **jvm_memory_mb(spark)}
        checks = wl.check(ctx)
        udf_s = udf_profile_seconds(spark, os.path.join(work, "udf")) if trace else 0.0
    except BaseException:
        stop_spark(spark)
        raise
    stop_spark(spark)

    warm = [p for p in passes[1:] if not trace or not p[1]]
    # the tail covers every timed sample: first-in-session costs included
    all_times = [dt for p in passes for _, dt, _ in p[3]]
    tail_v, tail_pct = stats.tail(all_times) if len(all_times) > stats.TAIL_BEYOND else (None, None)
    failures = [(name, err) for p in passes for name, _, err in p[3] if err]
    failures += [(name, err) for name, err in checks if err]
    attempted = sum(len(p[3]) for p in passes) + len(checks)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": int(trace),
        **host.facts(cores, heap_mb), "commit": commit(),
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "measured_s": measured_s, "passes": [[k, t, w] for k, t, w, _ in passes],
        "op_samples": len(all_times), "op_tail_s": tail_v, "op_tail_percentile": tail_pct,
        "mem_mb": mem_mb,
        "op_cold_s": {name: dt for name, dt, _ in passes[0][3]},
        "op_warm_median_s": {
            name: statistics.median(dt for p in warm for n_, dt, _ in p[3] if n_ == name)
            for name, _, _ in passes[0][3]
        },
        "op_by_pass_s": {
            name: [dt for p in passes for n_, dt, _ in p[3] if n_ == name]
            for name, _, _ in passes[0][3]
        },
        "failures": failures[:10],
    }
    # warm-pass latency, reported here and not as end-to-end metrics: it
    # follows the host's speed from run to run by more than any bound
    # allows (README.md, "Warm-pass latency")
    info["warm"] = {
        "pass_s": statistics.median(p[2] for p in warm),
        # each operation's typical warm latency, then the middle one:
        # steadier than the middle sample, which is the slowest run of
        # one operation or the fastest of the next
        "op_p50_s": statistics.median(info["op_warm_median_s"].values()),
    }
    if trace:
        traced_warm = [k for k, t, _, _ in passes[1:] if t]
        log_errors = 0
        if os.path.exists(paths["errors"]):
            with open(paths["errors"], errors="replace") as f:
                log_errors = sum(" ERROR " in line for line in f)
        import eventlog

        jobs = eventlog.parse_dir(paths["events"])
        values = layer_metrics(tracer, jobs, traced_warm, cores, udf_s, log_errors)
        values["session.boot_s"] = boot_s
        setup_spans = [s for s in tracer.spans if s.pass_no == -1]
        values["session.pyworker_warm_s"] = sum(
            s.end - s.start for s in setup_spans if s.name == "session.pyworker_warm")
        values["streaming.retries"] = retries
        values.update(wl.layer_counts())
        traced_walls = [w for _, t, w, _ in passes[1:] if t]
        untraced_walls = [w for _, t, w, _ in passes[1:] if not t]
        values["trace.pass_s"] = statistics.median(traced_walls)
        values["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(untraced_walls)
        info["spans"] = len(tracer.spans)
        info["setup_spans_s"] = {}
        for s in setup_spans:
            info["setup_spans_s"][s.name] = info["setup_spans_s"].get(s.name, 0.0) + s.end - s.start
        info["jobs"] = len(jobs)
        info["aliased_jobs"] = sum(j.group in tracer.aliases for j in jobs)
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        values = {
            # set-up runs until the session is warm: the cold pass, where
            # every op pays its first-in-session planning, is part of it
            "setup_s": setup_s + passes[0][2],
            "mem_mb": sum(mem_mb.values()),
        }
        info["setup"] = {"boot_s": boot_s, "workload_s": setup_s - boot_s, "cold_pass_s": passes[0][2]}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
