"""session.get_session: the engine's sessions run without PySpark's
per-Column call-site capture, keep their compiled whole-stage classes,
and every engine session comes from it."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys
import textwrap

from tests.conftest import SF_MEDIUM, method_calls

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_curation_query_does_not_import_ipython(tmp_path):
    """A fresh engine session builds and runs a curation query without
    importing IPython (call-site capture imports it at the first Column
    call, +27 MB driver RSS)."""
    script = textwrap.dedent(
        f"""
        import json, sys
        from intake_spark.llm.queries import q84_semantic_dedup
        from intake_spark.session import get_session
        spark = get_session("ipython_probe", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        n = q84_semantic_dedup(spark, {SF_MEDIUM!r}).count()
        print("RESULT " + json.dumps(
            {{"rows": n, "ipython": "IPython" in sys.modules}}))
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": str(ROOT),
             "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, proc.stdout[-2000:] + proc.stderr[-2000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got["rows"] > 0
    assert got["ipython"] is False


def test_column_expression_py4j_budget(spark):
    """A Column expression sends only its own JVM calls, without the ~10
    extra round trips call-site capture adds to each (35 commands with
    it for this expression, 5 without)."""
    from pyspark.sql import functions as F

    (F.col("a") + 1).alias("b")  # pyspark reads the conf once per process
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        (F.col("a") + 1).alias("b")
    finally:
        del client.send_command
    assert sent[0] <= 6


def test_engine_sessions_come_from_get_session():
    """No SparkSession builder under intake_spark/ outside get_session,
    and get_session's builder turns call-site capture off, so every
    session the engine makes runs without it."""
    builder_methods = ("master", "appName", "config", "remote",
                       "enableHiveSupport", "getOrCreate", "create")
    found, offenders = 0, []
    for path in sorted((ROOT / "intake_spark").rglob("*.py")):
        rel = path.relative_to(ROOT / "intake_spark").as_posix()
        tree = ast.parse(path.read_text())
        for name in builder_methods:
            for fn, call in method_calls(tree, name):
                on_builder = any(
                    isinstance(n, ast.Attribute) and n.attr == "builder"
                    for n in ast.walk(call.func.value)
                )
                if not on_builder and name not in ("getOrCreate", "create"):
                    continue
                if (rel, fn) == ("session.py", "get_session"):
                    found += 1
                else:
                    offenders.append(f"{rel}:{call.lineno} in {fn}")
    assert not offenders, f"SparkSession built outside get_session: {offenders}"
    assert found >= 2  # SparkSession.builder.master(...) and getOrCreate()
    session_tree = ast.parse((ROOT / "intake_spark" / "session.py").read_text())
    confs = {
        tuple(a.value for a in call.args if isinstance(a, ast.Constant))
        for fn, call in method_calls(session_tree, "config")
        if fn == "get_session"
    }
    assert ("spark.python.sql.dataFrameDebugging.enabled", "false") in confs


def test_codegen_cache_keeps_more_than_spark_default_100_classes(spark):
    """A plan compiled once is not compiled again: the generated-class
    cache holds more than Spark's default 100 entries (4 Guava segments
    of 25), which a 145-query round overflows many times over.
    ``executedPlan().execute()`` compiles without running a job."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def compile_all() -> int:
        # fresh frames, as each bench round builds them: a plan object
        # keeps the class it compiled, the cache is what is shared
        before = compiled()
        for i in range(120):
            df = spark.range(4).selectExpr(f"id * {i} + {i + 1} AS c{i}")
            df._jdf.queryExecution().executedPlan().execute()
        return compiled() - before

    assert compile_all() > 100  # distinct classes
    assert compile_all() == 0


def test_same_stage_code_under_another_stage_id_is_not_recompiled(spark):
    """The cache is keyed by the generated source: with the codegen stage
    id left out of the class name, a stage that plans as stage 2 reuses
    the class it compiled as stage 1 (a rerun of a query often numbers
    its stages differently)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles(df) -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        df._jdf.queryExecution().executedPlan().execute()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    def stage():
        return spark.range(10).selectExpr("id * 7919 + 104729 AS c")

    compiles(stage())  # compiled as codegen stage 1
    second = spark.range(5).selectExpr("id * 7907 + 104723 AS c").union(stage())
    assert compiles(second) == 1  # only the new first child
