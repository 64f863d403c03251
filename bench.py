#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": [...], "sf": ...}

Each query is timed end-to-end: plan build + full execution into the
``noop`` write sink, which materializes every output column (``.count()``
would let Catalyst skip computing projected expressions).

Recording rule: each query runs $SPARK_GRAFT_REPEATS times (default 3) in
interleaved rounds (q1..qN, q1..qN, ...) and its plain median is recorded.
Every registered session-shared table, plus the Python-worker and
Python-DataSource warm-ups, is built once before the rounds and billed as
an explicit ``shared:*`` line. ``value`` is the sum of the medians plus
the shared lines. Nothing is re-measured or adjusted afterwards.

Layer record: every timed sample runs under the job group
``bench|<round>|<query>`` and every shared line under its label, and the
session writes an uncompressed event log. After the rounds,
``perfbench/eventlog.py`` parses it and each query and shared line gets a
``layers`` record in the detail file: the driver-side split of the sample
(``construct_s``, the query call including any eager actions, and
``exec_s``, the sink write) and its Spark jobs' stages, tasks, task run
and CPU time, GC, shuffle bytes and spill, as medians over the rounds.
Jobs that carry a group of their own (a streaming query runs its
micro-batches under its run id) or none are attributed to the sample
whose wall-clock window they started in (``window_jobs``). Host noise
shows as wall time rising while ``task_run_s`` and ``task_cpu_s`` stay
flat.

The full record goes to ``bench_detail.json`` (``bench_detail_sf<sf>.json``
at other scales). The stdout line stays within ``LINE_LIMIT`` bytes:
``queries`` lists the medians in query-number order (q01 first, null for
a query that failed; the names are in the detail file).

Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_REPEATS, SPARK_GRAFT_CPUS,
SPARK_GRAFT_DRIVER_MEM, SPARK_GRAFT_DRIVER_JAVA_OPTS and
SPARK_GRAFT_BENCH_ONLY (comma-separated name prefixes for a local debug
run, recorded to ``bench_detail_partial.json``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.append(os.path.join(HERE, "perfbench"))

import eventlog  # noqa: E402 — perfbench's parser, the repo's only one

# the stdout line's budget: a caller that keeps only the last ~2000
# characters of stdout still gets the whole line
LINE_LIMIT = 1950
# summed per query and shared line into the layer record
JOB_FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "window_jobs",
)
# the suite totals on the stdout line
LINE_TOTALS = ("jobs", "tasks", "task_run_s", "task_cpu_s", "window_jobs")


@dataclass
class Sample:
    """One timed unit: a query in one round, or one shared build."""

    key: str  # query name or shared:* label
    group: str  # the Spark job group it ran under
    start_ms: int  # wall-clock window, epoch ms (the event log's clock)
    end_ms: int
    construct_s: float
    exec_s: float
    compiles: int = 0  # generated classes compiled during the sample

    @property
    def seconds(self) -> float:
        return self.construct_s + self.exec_s


def number(name: str) -> int:
    """``q07_foo`` -> 7."""
    return int(name.split("_", 1)[0][1:])


def short(name: str) -> str:
    return name if name.startswith("shared:") else name.split("_", 1)[0]


def job_layers(job) -> dict:
    return {
        "jobs": 1, "stages": job.stages, "tasks": job.tasks,
        "task_run_s": job.task_run_ms / 1e3, "task_cpu_s": job.task_cpu_ns / 1e9,
        "gc_s": job.gc_ms / 1e3, "shuffle_read_bytes": job.shuffle_read_bytes,
        "shuffle_write_bytes": job.shuffle_write_bytes, "spill_bytes": job.spill_bytes,
    }


def layer_records(jobs, samples: list[Sample]) -> tuple[dict, dict]:
    """({key: layers}, attribution counts). A job is its sample's when it
    carries the sample's group; a job with any other group, or none,
    belongs to the sample whose wall window its start falls in. A key's
    record is the per-field median over its samples."""
    by_group = {s.group: s for s in samples}
    per_sample = {
        s.group: {"construct_s": s.construct_s, "exec_s": s.exec_s,
                  "compiles": s.compiles, **dict.fromkeys(JOB_FIELDS, 0)}
        for s in samples
    }
    counts = {"group": 0, "window": 0, "none": 0}
    for job in jobs:
        owner = by_group.get(job.group)
        how = "group"
        if owner is None:
            how = "window"
            owner = next(
                (s for s in samples if s.start_ms <= job.start_ms <= s.end_ms), None
            )
        if owner is None:
            counts["none"] += 1
            continue
        counts[how] += 1
        rec = per_sample[owner.group]
        for k, v in job_layers(job).items():
            rec[k] += v
        rec["window_jobs"] += how == "window"
    by_key: dict[str, list[dict]] = {}
    for s in samples:
        by_key.setdefault(s.key, []).append(per_sample[s.group])
    records = {
        key: {f: round(statistics.median(r[f] for r in recs), 4) for f in recs[0]}
        for key, recs in by_key.items()
    }
    return records, counts


def stdout_line(timings: dict, names: list[str], shared: dict, errors: dict,
                retries: dict, layers: dict, repeats: int, sf: float) -> str:
    """The one JSON line, within LINE_LIMIT: when errors and retries push
    it over, they shrink to their names, then to counts (the detail file
    keeps them whole)."""
    queries_value = round(sum(timings.values()), 4)
    line = {
        "metric": "headline_queries_total",
        "value": round(queries_value + sum(shared.values()), 4),
        "unit": "sec",
        # value = queries_value + sum(shared)
        "queries_value": queries_value,
        "queries": [timings.get(n) for n in sorted(names, key=number)],
        "shared": shared,
        "repeats": repeats,
        "sf": sf,
        "layer_totals": {
            f: round(sum(r[f] for r in layers.values()), 2) for f in LINE_TOTALS
        },
    }
    if errors:
        line["errors"] = {short(n): e[:100] for n, e in errors.items()}
    if retries:
        line["retries"] = {short(n): c for n, c in retries.items()}
    text = json.dumps(line, separators=(",", ":"))
    for key, shrink in (("errors", sorted), ("retries", sorted),
                        ("errors", len), ("retries", len)):
        if len(text) <= LINE_LIMIT:
            break
        if key in line:
            line[key] = shrink(line[key])
            text = json.dumps(line, separators=(",", ":"))
    return text


def configure_jvm(events_dir: str) -> None:
    """JVM options and the event log; must run before the JVM launches.

    GC pinning: a fixed heap (-Xms == -Xmx, no resize pauses) with G1.
    Without it, GC-alignment noise spread multi-second swings across
    unrelated queries (r8: +6% suite drift at sf0.1). No
    -XX:+AlwaysPreTouch: with a 16 GB heap it made every Arrow-UDF
    stage's first execution 3-10x slower (q132 cold 15.8 s against
    4.3 s)."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS",
        f"-Xms{mem} -XX:+UseG1GC -XX:G1HeapRegionSize=32m "
        "-XX:InitiatingHeapOccupancyPercent=30",
    )
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{events_dir} "
        f"--conf spark.eventLog.compress=false {submit}"
    )


def jvm_memory_mb(spark) -> dict:
    """Heap still held after a full GC, and Metaspace's peak, in MB."""
    lang = spark.sparkContext._jvm.java.lang
    lang.System.gc()
    time.sleep(0.5)
    lang.System.gc()
    mf = lang.management.ManagementFactory
    out = {"heap_live": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20}
    for p in mf.getMemoryPoolMXBeans():
        if p.getName() == "Metaspace":
            out["Metaspace"] = p.getPeakUsage().getUsed() / 2**20
    return {k: round(v, 1) for k, v in out.items()}


def python_worker_probe(spark):
    """The Python-worker pool warm-up frame. The first Arrow-UDF stage
    otherwise pays parallel cold imports of numpy/pandas/pyarrow plus the
    codec stack inside whichever query runs first (q132 read 12.97 s in
    r9). Each worker reports whether the codec stack was already imported
    when it was forked from the prewarm daemon."""

    def warm(batches):
        # the FULL codec stack: decode dispatch imports these lazily, and
        # a worker importing them from the shipped zip pays py-compile
        import os as _os
        import sys as _sys
        import time as _t

        marker = "intake_spark.llm.jpeg2000" in _sys.modules
        i0 = _t.time()
        import numpy  # noqa: F401

        import intake_spark.compress  # noqa: F401
        import intake_spark.llm.audiofp  # noqa: F401
        import intake_spark.llm.flac  # noqa: F401
        import intake_spark.llm.imagehash  # noqa: F401
        import intake_spark.llm.jpeg2000  # noqa: F401
        import intake_spark.llm.jpegls  # noqa: F401
        import intake_spark.llm.multimodal  # noqa: F401
        import intake_spark.llm.video  # noqa: F401
        import intake_spark.llm.vorbis  # noqa: F401
        import intake_spark.llm.webp  # noqa: F401
        import intake_spark.output  # noqa: F401

        cost = _t.time() - i0
        import pandas as _pd

        for _ in batches:
            yield _pd.DataFrame(
                {"pid": [_os.getpid()], "inherited": [marker], "import_s": [cost]}
            )

    from intake_spark.session import map_in_pandas

    n = spark.sparkContext.defaultParallelism * 2
    return map_in_pandas(spark.range(n, numPartitions=n), warm,
                         "pid long, inherited boolean, import_s double")


def worker_report(probe) -> dict:
    rows = probe.collect()
    return {
        "workers": len({r.pid for r in rows}),
        "inherited_prewarm": len({r.pid for r in rows if r.inherited}),
        "max_worker_import_s": round(max(r.import_s for r in rows), 3),
    }


def kafka_wire_frame(spark, port: int):
    """The Python DataSource warm-up frame: a separate worker path from
    mapInPandas, whose first use otherwise lands in q143 (15.3 s first
    against 2.0 s steady)."""
    from intake_spark.kafka_source import register_kafka_wire

    register_kafka_wire(spark)
    return (spark.read.format("kafka_wire")
            .option("kafka.bootstrap.servers", f"127.0.0.1:{port}")
            .option("subscribe", "warm").load())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    events_dir = tempfile.mkdtemp(prefix="intake_spark_bench_events_")
    try:
        run(sf_dir, repeats, sf, events_dir)
    finally:
        shutil.rmtree(events_dir, ignore_errors=True)


def run(sf_dir: str, repeats: int, sf: float, events_dir: str) -> None:
    configure_jvm(events_dir)
    from pyspark.sql import DataFrame

    from intake_spark import streaming
    from intake_spark.benchqueries import get_queries
    from intake_spark.llm.queries import shared, shared_labels
    from intake_spark.loopback import LoopbackKafka
    from intake_spark.session import TABLE_NAMES, get_session, load_table

    spark = get_session("intake_spark_bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    queries = get_queries()

    # JVM/codegen/IO warm-up, so no timed query absorbs engine start-up or
    # cold-file cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLE_NAMES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:  # noqa: BLE001 — a missing table fails its queries
            pass

    samples: list[Sample] = []
    errors: dict[str, str] = {}

    def timed(key: str, group: str, build, run_):
        """Run ``run_(build())`` under job group ``group``, record the
        sample and return run_'s result; an exception goes to ``errors``."""
        sc.setJobGroup(group, key)
        c0 = compiled()
        w0 = time.time()
        try:
            t0 = time.perf_counter()
            obj = build()
            t1 = time.perf_counter()
            out = run_(obj)
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — the ledger survives
            traceback.print_exc(file=sys.stderr)
            errors[key] = f"{type(exc).__name__}: {exc}"[:500]
            return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        samples.append(Sample(key, group, int(w0 * 1e3), int(time.time() * 1e3) + 1,
                              t1 - t0, t2 - t1, compiled() - c0))
        return out

    prewarm = {
        "daemon_module": spark.conf.get("spark.python.daemon.module", ""),
        **(timed("shared:pyworker_warmup", "shared:pyworker_warmup",
                 lambda: python_worker_probe(spark), worker_report) or {}),
    }
    srv = LoopbackKafka({"warm": [[[{"key": b"w", "value": b"0"}]]]}, max_conns=16)
    try:
        timed("shared:pydatasource_warmup", "shared:pydatasource_warmup",
              lambda: kafka_wire_frame(spark, srv.port), lambda df: df.count())
    finally:
        srv.close()

    def fill(got):
        # a persisted shared frame is filled inside the timing
        if isinstance(got, DataFrame):
            got.count()

    for label in shared_labels():
        timed(label, label, lambda: shared(spark, sf_dir, label), fill)
    compiles = {"setup": compiled()}

    names = sorted(queries)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        names = [n for n in names if n.startswith(tuple(only.split(",")))]

    def sink(df):
        df.write.mode("overwrite").format("noop").save()

    # a drain_stream retry runs inside the timed sample; this names the
    # queries whose samples carried one
    retries: dict[str, int] = {}
    for r in range(1, repeats + 1):
        for name in names:
            if name in errors:
                continue
            r0 = streaming.RETRY_COUNT
            timed(name, f"bench|{r}|{name}", lambda: queries[name](spark, sf_dir), sink)
            if streaming.RETRY_COUNT > r0:
                retries[name] = retries.get(name, 0) + streaming.RETRY_COUNT - r0
        compiles[f"round_{r}"] = compiled()
    jvm_mb = jvm_memory_mb(spark)
    spark.stop()  # flushes the event log

    by_key: dict[str, list[float]] = {}
    for s in samples:
        by_key.setdefault(s.key, []).append(s.seconds)
    shared_s = {k: round(v[0], 4) for k, v in by_key.items() if k.startswith("shared:")}
    query_samples = {n: by_key[n] for n in names if n in by_key}
    timings = {n: round(statistics.median(v), 4) for n, v in query_samples.items()}
    layers, attribution = layer_records(eventlog.parse_dir(events_dir), samples)

    text = stdout_line(timings, names, shared_s, errors, retries, layers, repeats, sf)
    detail = {
        **json.loads(text),
        "queries": timings,
        "errors": errors,
        "retries": retries,
        "layers": layers,
        "attribution": attribution,
        "samples": {n: [round(x, 4) for x in v] for n, v in query_samples.items()},
        "spread": {
            n: round((max(v) - min(v)) / statistics.median(v), 3)
            for n, v in query_samples.items()
        },
        # generated classes compiled by the end of setup and of each round
        "codegen_compiles": compiles,
        "jvm_mb": jvm_mb,
        "prewarm": prewarm,
        "gc_pinned": os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
    }
    detail_path = os.path.join(
        HERE,
        "bench_detail_partial.json" if only
        else "bench_detail.json" if sf == 0.1 else f"bench_detail_sf{sf}.json",
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    sys.stdout.flush()
    print(text)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
