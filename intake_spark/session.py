"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen to also
be sane on a multi-executor cluster: AQE on (runtime coalesce + skew-join
handling), Arrow on (vectorized pandas-UDF exchange), shuffle partitions
sized by parallelism rather than the 200 default, UTC session timezone so
timestamp semantics are stable across engines.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Entries of Spark's generated-class cache (`spark.sql.codegen.cache.
# maxEntries`, static). The default of 100 is split by Guava into 4
# segments of 25, each evicting on its own, far below the working set:
# the bench's setup plus one 145-query round compiles 1,430 classes at
# sf0.1, and with the default every round recompiled about 2,000 (9-11
# ms each). Sized at more than twice the sf0.1 set.
CODEGEN_CACHE_ENTRIES = 4096


def get_session(app_name: str = "intake_spark", cpus: int | None = None) -> SparkSession:
    """Get or create the engine's SparkSession.

    If a session already exists (e.g. the driver passed one in), returns it
    unchanged — all engine code must work against a caller-provided session.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    n = cpus or DEFAULT_CPUS
    # Pre-warmed worker daemon: workers FORK from the daemon, so heavy
    # imports done there (numpy/pandas/pyarrow + this package's codec
    # stack) are inherited copy-on-write by every worker — which makes
    # the worker-pool churn that stateful streaming stages cause nearly
    # free instead of a ~1 s-per-worker import storm (see
    # daemon_prewarm.py). Only safe when a fresh `python -m` can import
    # this package from the filesystem: export PYTHONPATH so the
    # JVM-spawned daemon inherits it (local mode: the JVM is this
    # process's child). On a cluster the stock daemon is kept.
    daemon_conf = {}
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from pyspark import SparkContext

    # Only when the JVM has NOT launched yet: the gateway JVM snapshots
    # this process's env at launch, so a PYTHONPATH exported now reaches
    # the daemon only through a fresh JVM. Against a pre-existing
    # gateway (driver session stopped, then get_session), the daemon
    # would spawn without PYTHONPATH, fail to import, and kill every
    # task — keep the stock daemon there.
    jvm_fresh = SparkContext._gateway is None
    if jvm_fresh:
        # The JVM-side accept timeout below has a PYTHON-side twin: a
        # spawned worker/runner connects back through
        # local_connect_and_auth, whose socket connect timeout is the
        # SPARK_AUTH_SOCKET_TIMEOUT env (default 15 s). Under sustained
        # host contention the JVM's accept loop can lag past 15 s, and
        # the worker then dies with CANNOT_OPEN_SOCKET before the JVM's
        # raised accept window even matters (observed killing q145's
        # PythonStreamingSourceRunner twice in one degraded bench pass,
        # exhausting drain_stream's retry). The env must be exported
        # before the JVM launches — workers inherit env from the JVM.
        os.environ.setdefault("SPARK_AUTH_SOCKET_TIMEOUT", "300")
    if jvm_fresh and os.path.exists(
        os.path.join(pkg_root, "intake_spark", "daemon_prewarm.py")
    ):
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_root not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + existing if existing else "")
            )
        daemon_conf["spark.python.daemon.module"] = "intake_spark.daemon_prewarm"
    builder = SparkSession.builder.master(f"local[{n}]")
    for k, v in daemon_conf.items():
        builder = builder.config(k, v)
    return (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # GC pinning hook (bench.py sets this to a fixed-heap G1 profile so
        # per-query timings aren't contaminated by heap-resize/GC alignment;
        # empty default = Spark's stock JVM flags)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The cache is keyed by the generated source, and by default a
        # whole-stage class is named after its codegen stage id, which
        # differs between two plannings of the same query, so a rerun
        # recompiled identical code. The cost: a stack trace names
        # `GeneratedIterator`, not `GeneratedIteratorForCodegenStage<id>`.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # No PySpark call-site capture. With it on, every Column method
        # and `functions` builtin reads this conf, looks up the JVM's
        # PySparkCurrentOrigin, sets and clears it (35 py4j commands for
        # `(F.col("a") + 1).alias("b")` against 5 without), and walks
        # the stack, whose first walk imports IPython: ~540 modules and
        # ~26 MB driver RSS, 22 MB of the `queries` benchmark driver's
        # 155 MB peak (local[4], sf0.01). The cost: DataFrame-API errors
        # lose their "== DataFrame == ... was called from <file>:<line>"
        # section; the error class, SQLSTATE and message stay. The conf
        # is static (settable only here, before the session starts),
        # and pyspark caches it per process at the first Column call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers (incl. the Python-DataSource streaming source
        # runner) connect BACK to the JVM after a fresh-process import
        # of pyspark; under full 32-thread load that cold start can
        # exceed the 15s default accept timeout and kill the stage with
        # "Python worker failed to connect back" (observed: q145's
        # PythonStreamingSourceRunner dying mid-bench). Headroom is
        # free — the socket is local and the timeout only bounds a
        # failure path. 300s matches drain_stream's drain bound: a
        # worker slower than the whole drain budget is dead anyway
        # (120s was measured insufficient in a degraded window — a cold
        # runner's fresh-process pyspark import under contention
        # outlasted it twice in one pass).
        .config("spark.python.authenticate.socketTimeout", "300s")
        .getOrCreate()
    )


# SparkContexts the package zip has been added to. Keyed by the context
# object: a repeat call sends no py4j command, and a stopped context's
# entry goes with the object.
_SHIPPED_TO: weakref.WeakSet = weakref.WeakSet()


def ensure_py_deps(spark: SparkSession) -> None:
    """Make ``intake_spark`` importable on executor Python workers.

    Any Python-function stage (mapInPandas, applyInPandasWithState,
    pandas_udf, an RDD map) pickles references to functions in this
    package; executors must be able to import it even when the driver
    process was launched outside the repo. PySpark reads the include list
    (``sc._python_includes``) when it WRAPS the function, not when the job
    runs, so this must run before the stage is built: ``map_in_pandas``
    does it for every mapInPandas stage, and each other stage calls this
    in its own function (``tests/test_py_deps.py`` checks both). Zips the
    package once per SparkContext and ships it with ``addPyFile``, which
    works identically in local mode and on a real cluster.
    """
    sc = spark.sparkContext
    if sc in _SHIPPED_TO:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    # per-pid zip name: two drivers on one tempdir never rewrite one file
    # mid-addPyFile
    zpath = os.path.join(
        tempfile.gettempdir(), f"intake_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    _SHIPPED_TO.add(sc)


def map_in_pandas(df, fn, schema, **kw):
    """``df.mapInPandas(fn, schema, **kw)`` with the package shipped to
    the executors first (``ensure_py_deps``), so the stage can import
    ``intake_spark`` on any session. The engine's only mapInPandas call."""
    ensure_py_deps(df.sparkSession)
    return df.mapInPandas(fn, schema, **kw)


def local_frame(spark: SparkSession, rows, schema):
    """A driver-local DataFrame built as an Arrow local relation.

    ``spark.createDataFrame(rows, schema)`` over Python rows plans a
    ``Scan ExistingRDD`` over a pickled Python RDD: every action re-runs
    a pickling stage in Python workers, and those workers fork from a
    daemon of their own, separate from the one that serves
    ``mapInPandas`` — whose first use pays the prewarm imports again
    (~1 s, see daemon_prewarm.py). This builds a pyarrow Table column by
    column, typed by the Spark schema, and returns
    ``spark.createDataFrame(table, schema)``: a ``LocalRelation``
    (executed as a ``LocalTableScan``) with the rows in the plan and no
    Python worker anywhere. (Past
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark plans the
    Arrow batches as a JVM RDD instead — still no Python worker.)

    ``schema`` is a DDL string or a ``StructType``. ``rows`` are
    tuples, ``Row``s or lists (by position) or dicts (by field name).
    Values convert by Arrow's rules, which check each value against its
    column type as the row path's verifier does (a str in a long column,
    an int outside an int column's range, a None in a non-nullable field
    all raise). Where Arrow's rules differ, the row path's are kept: a
    float in an integral column raises instead of being truncated, and a
    datetime in a ``timestamp`` column is the instant it names (a naive
    one in the system zone), not its wall clock read as UTC.

    CAVEAT: Catalyst's ``ConvertToLocalRelation`` rule evaluates a
    deterministic projection that sits directly on a local relation ON
    THE DRIVER, row by row, at every planning of the plan. For a frame
    whose size scales with the input (a file listing), let the first
    operator be an exchange — key it by expressions,
    ``repartition(n, expr, ...)`` — and compute columns after it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if hasattr(rows, "columns"):
        raise TypeError(
            "local_frame takes Python rows; pass a pandas DataFrame or an "
            "Arrow table to spark.createDataFrame (already the Arrow path)"
        )
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    fields = schema.fields
    if rows and isinstance(rows[0], dict):
        cols = [[r.get(f.name) for r in rows] for f in fields]
    else:
        cols = list(zip(*rows, strict=True)) if rows else [()] * len(fields)
        if len(cols) != len(fields):
            raise ValueError(
                f"rows have {len(cols)} values, schema has {len(fields)} "
                f"fields: {schema.simpleString()}"
            )
    arrow_schema = to_arrow_schema(schema)
    arrays = []
    for f, col, af in zip(fields, cols, arrow_schema):
        adapt = _arrow_adapter(f.dataType)
        arr = pa.array([adapt(v) for v in col] if adapt else col, af.type)
        if arr.null_count and not f.nullable:
            raise ValueError(f"field {f.name!r} is not nullable, got None")
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def _arrow_adapter(dtype):
    """A per-value function that makes pyarrow convert a row-path value
    as ``createDataFrame``'s row path would, or None where pyarrow
    already does (see :func:`local_frame`)."""
    import datetime

    from pyspark.sql.types import (
        ArrayType,
        IntegralType,
        MapType,
        StructType,
        TimestampType,
    )

    if isinstance(dtype, IntegralType):
        def integral(v):
            if isinstance(v, float):
                raise TypeError(
                    f"{dtype.simpleString()} column can not accept float {v!r}"
                )
            return v
        return integral
    if isinstance(dtype, TimestampType):
        # pyarrow keeps the wall clock of an aware datetime and reads a
        # naive one as UTC; astimezone() reads a naive one in the system
        # zone and shifts both to the UTC instant
        return lambda v: v if v is None else v.astimezone(datetime.timezone.utc)
    if isinstance(dtype, ArrayType):
        elem = _arrow_adapter(dtype.elementType)
        return elem and (lambda v: v if v is None else [elem(x) for x in v])
    if isinstance(dtype, MapType):
        key, val = _arrow_adapter(dtype.keyType), _arrow_adapter(dtype.valueType)
        if not (key or val):
            return None
        key, val = key or (lambda k: k), val or (lambda x: x)
        return lambda v: v if v is None else {key(k): val(x) for k, x in v.items()}
    if isinstance(dtype, StructType):
        # pyarrow takes a struct as a dict (or a tuple, but not a list,
        # and not both kinds in one column): hand it dicts throughout
        subs = [(f.name, _arrow_adapter(f.dataType)) for f in dtype.fields]

        def struct(v):
            if v is None:
                return None
            if not isinstance(v, dict):
                v = dict(zip(dtype.names, v, strict=True))
            return {n: a(v.get(n)) if a else v.get(n) for n, a in subs}
        return struct
    return None


def manifest_rows(spark: SparkSession, manifest, ddl, schema, decode, source=None):
    """The engine's one fan-out of a driver-built manifest to executors.

    ``manifest`` is a small list of work units (byte ranges, blocks,
    frames, rowid windows) typed by ``ddl``; it becomes a
    :func:`local_frame` under one :func:`map_in_pandas`. Each Python task
    walks its units in order and calls ``decode(task, fh)`` on each:
    ``task`` is the unit as a namedtuple from ``itertuples`` (typed
    fields, no per-row Series; so unit field names are identifiers that
    do not start with ``_``). With ``source`` the task opens it once,
    passes the handle as ``fh`` and closes it when done: a path opens
    with ``open(source, "rb")``, a zero-argument callable (a sqlite
    connect) is called. Without it ``fh`` is None and ``decode`` opens
    what it needs. ``decode`` is a generator; every item it yields (a
    list of row tuples, a list of dicts or a dict of column arrays) is
    framed as ``pd.DataFrame(item, columns=schema.names)``. ``schema`` is
    a DDL string or a ``StructType``.

    No repartition: the ``LocalTableScan`` of ``n`` units already runs
    min(n, ``defaultParallelism``) tasks, slicing the units in order.
    Measured at local[4]: 1, 2, 3, 10 and 100 units ran 1, 2, 3, 4 and 4
    tasks; a ``repartition`` on top added a ``RoundRobinPartitioning``
    exchange and left the task count as it was. That holds while the
    manifest stays under ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB by default); past it ``local_frame`` plans the Arrow batches
    as a JVM RDD, which this slicing does not describe. Manifests are
    kilobytes."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    names = schema.names

    def run(batches):
        import pandas as pd

        if source is None:
            fh = None
        else:
            fh = source() if callable(source) else open(source, "rb")
        try:
            for pdf in batches:
                for task in pdf.itertuples(index=False):
                    for item in decode(task, fh):
                        yield pd.DataFrame(item, columns=names)
        finally:
            if fh is not None:
                fh.close()

    return map_in_pandas(local_frame(spark, manifest, ddl), run, schema)


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_SCAN_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one synthetic table (TESTDATA.md). Columnar parquet scan —
    Catalyst prunes columns/filters pushed from downstream operators.

    The LAZY scan DataFrame is cached per (session, sf_dir, table):
    ``spark.read.parquet`` costs ~80 ms of driver work per call (footer
    read + schema resolution + file-index build), paid inside every
    query's timed region and multiplied across a 145-query suite — and
    on a real cluster the file LISTING behind it is the expensive part
    (guide §6). Nothing is materialized: a DataFrame is an immutable
    plan, every action still reads the parquet from disk, and the cache
    dies with the process (no cross-run persistence). Bounded FIFO like
    every other session cache; keyed by applicationId so a restarted
    context never hands out plans bound to a dead session, and by the
    table path's mtime so a table rewritten in place (an overwrite
    replaces its part files) is listed again instead of served from a
    plan that names deleted files.

    ``events.parquet`` may store TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; read nanos as long (legacy conf) and, when ``ts`` comes
    back as a long, convert to a microsecond timestamp column — same value
    DuckDB produces when casting ns→µs. Files already written with µs
    timestamps pass through untouched.
    """
    try:
        mtime = os.stat(f"{sf_dir}/{name}.parquet").st_mtime_ns
    except OSError:
        # not a local path (or missing): no token, and a missing table
        # still fails in spark.read with Spark's own error
        mtime = None
    key = (spark.sparkContext.applicationId, sf_dir, name, mtime)
    got = _SCAN_CACHE.get(key)
    if got is not None:
        return got
    df = _load_table_uncached(spark, sf_dir, name)
    while len(_SCAN_CACHE) >= 64:
        _SCAN_CACHE.pop(next(iter(_SCAN_CACHE)))
    _SCAN_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str):
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        # set the legacy conf only long enough to RESOLVE the scan schema
        # (captured in the plan at read time), then restore: leaving it on
        # would make every later nanos-parquet read in the caller's session
        # silently return raw longs instead of failing loudly
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            is_long = isinstance(df.schema["ts"].dataType, LongType)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        if is_long:
            # ns-since-epoch → TIMESTAMP_NTZ via an NTZ base: the naive wall
            # clock is preserved regardless of the caller session's timezone
            # (timestamp_micros would yield LTZ and shift under non-UTC
            # sessions, breaking date_trunc/window parity with the oracle).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES):
    return {n: load_table(spark, sf_dir, n) for n in names}


def spread_small_scan(df, min_parts: int | None = None):
    """Round-robin repartition a DataFrame whose current plan has fewer
    partitions than the cluster's parallelism — a no-op (NO shuffle)
    otherwise.

    The trap this guards: a small input file (one parquet row group, one
    gzip member) scans as a single task, and every per-row mapper above
    it — shingle explode, signature hashing, quality-rule expression
    stacks — runs serially until the first exchange, however many cores
    the cluster has. A repartition cannot parallelize the SCAN itself
    (a row group is unsplittable), so this only pays where the
    downstream per-row work outweighs one small shuffle; call it at
    those operators' entry, not on every load. At real scale the scan
    has more splits than cores and this returns the input unchanged, so
    no shuffle is added where the natural partitioning is already
    right (the repartition-or-not decision is data-adaptive, never a
    tuned constant). Streaming DataFrames are returned unchanged
    (``df.rdd`` is undefined for them; their micro-batch sources size
    their own partitions).

    The partition-count probe (``df.rdd.getNumPartitions``) is gated on
    the frame being SCAN-SHAPED (scan + filters/projections only): under
    AQE, ``df.rdd`` on a frame that already contains shuffle-inducing
    operators materializes the upstream query stages as a throwaway job
    — silently executing that work twice (r11 ADVICE). A frame with an
    exchange in it is partitioned by ``spark.sql.shuffle.partitions``
    (== the cluster parallelism here) anyway, so returning it unchanged
    is both safe and what the probe would have decided."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    par = min_parts if min_parts is not None else sc.defaultParallelism
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import CapturedException

    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except (Py4JJavaError, CapturedException):
        # the probe runs the optimizer at this call, not at the caller's
        # action: a JVM error it raises for this frame is the action's to
        # report, where the caller handles it, so leave the frame as is
        return df
    scan_shaped = all(
        ln.lstrip(" +-:").startswith(
            ("Project", "Filter", "Relation", "LogicalRDD",
             "LocalRelation", "ColumnPruning")
        )
        for ln in plan.splitlines()
        if ln.strip(" +-:")
    )
    if not scan_shaped:
        return df
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def materialize(df, eager: bool = True):
    """Cut ``df``'s lineage: the engine's one materialization primitive.

    Iterative loops call it so each round plans over the previous
    round's rows instead of a plan that grows with the round count, and
    multi-consumer subplans call it so every consumer reads one copy
    instead of re-running the subplan.

    The mechanism follows the deployment. Without a checkpoint directory
    (``sc.getCheckpointDir()`` is None) this is ``df.localCheckpoint``:
    the rows live in executor block storage, which is fast but not
    fault-tolerant — an executor lost after the cut fails the job, since
    the lineage to recompute the rows is gone. Once the SparkContext has
    a checkpoint directory (``sc.setCheckpointDir`` or the
    ``spark.checkpoint.dir`` conf) it is ``df.checkpoint``: the rows are
    written to reliable storage and survive an executor loss.

    ``eager=True`` runs a job now; ``eager=False`` defers the work to the
    first action over the result. A lazy local checkpoint caches the rows
    inside that action, but a lazy reliable checkpoint costs Spark one
    extra job after it, which recomputes the rows to write them. Once
    the returned frame is unreachable, Spark's ContextCleaner drops local
    checkpoint blocks; it deletes reliable checkpoint files only under
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager)
    return df.checkpoint(eager)


def ntz_epoch_micros(ref: str):
    """Naive-epoch microseconds of a TIMESTAMP_NTZ expression via pure
    FIELD EXTRACTION — timezone-proof by construction. ``ref`` is an SQL
    fragment (a column name, backquoted if needed, or an expression).

    ``timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01', tn)`` is
    NOT safe: Spark coerces through the session zone, so a wall-clock
    value inside a DST spring-forward gap (e.g. 02:30 on the transition
    day under America/New_York) silently shifts by an hour. Date diff +
    hour/minute/fractional-second extracts never consult a timezone.
    The reverse direction (``timestampadd`` of micros onto an NTZ base)
    is coercion-free and stays the idiom for micros -> NTZ."""
    from pyspark.sql import functions as F

    r = f"({ref})"
    # every term goes through BIGINT before its multiply: minute()*6e7 in
    # INT arithmetic overflows (ANSI raises, legacy wraps)
    return F.expr(
        f"CAST(datediff(CAST({r} AS DATE), DATE'1970-01-01') AS BIGINT)"
        f" * 86400000000 + CAST(hour({r}) AS BIGINT)*3600000000"
        f" + CAST(minute({r}) AS BIGINT)*60000000"
        f" + CAST(extract(SECOND FROM {r}) * 1000000 AS BIGINT)"
    )
