"""Python-function stages can import the engine on any session.

PySpark snapshots ``sc._python_includes`` when it wraps a Python function
into a stage, so ``ensure_py_deps`` (which ``addPyFile``s the package)
must run before the wrap. ``session.map_in_pandas`` does that for every
mapInPandas stage; every other Python-function stage calls
``ensure_py_deps`` earlier in an enclosing function. The guard below keeps
both rules, and the subprocess test runs two formerly unguarded stages on
a caller-built session whose workers cannot see the repo."""

from __future__ import annotations

import ast
import builtins
import json
import os
import pathlib
import subprocess
import sys
import textwrap

from tests.conftest import SF_MEDIUM, method_calls

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "intake_spark"

# method calls that wrap a Python function into a stage run by Python
# workers (an RDD map/flatMap counts only on an RDD, see _is_rdd)
STAGE_METHODS = (
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState",
    "applyInArrow", "mapPartitions", "mapPartitionsWithIndex",
    "foreachPartition", "foreach", "map", "flatMap", "register",
    "pandas_udf", "udf",
)
# plain calls that do the same (``pandas_udf(fn, "int")``, ``@udf(...)``)
STAGE_FUNCTIONS = ("pandas_udf", "udf")

# Stages that may skip ensure_py_deps: only closures that reference no
# engine global, so their pickled form never imports intake_spark.
ALLOWLIST = {
    ("sci.py", "MatrixMarketReader._read"):
        "the (line, index) lambda over spark.read.text rows uses only its "
        "argument",
    ("v1source.py", "V1SourceAdapter.read_partition"):
        "the partition filter lambda uses only its arguments and the "
        "partition number",
}


def _scopes(tree):
    """(qualified name, node) of every function, with the spans that
    locate a call inside it."""
    out = []

    def walk(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef):
                    out.append((name, child))
                walk(child, name + ".")
            else:
                walk(child, prefix)

    walk(tree, "")
    return out


def _enclosing(scopes, call):
    """Qualified names of the functions enclosing ``call``, innermost
    first."""
    inside = [(node.end_lineno - node.lineno, name)
              for name, node in scopes
              if node.lineno < call.lineno <= node.end_lineno]
    return [name for _span, name in sorted(inside)]


def _is_rdd(call) -> bool:
    recv = call.func.value
    return any(
        (isinstance(n, ast.Attribute) and n.attr == "rdd")
        or (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "parallelize")
        for n in ast.walk(recv)
    )


def _stage_calls(tree):
    """Every call that builds a Python-function stage."""
    for name in STAGE_METHODS:
        for _fn, call in method_calls(tree, name):
            recv = call.func.value
            if name in ("map", "flatMap") and not _is_rdd(call):
                continue
            if name == "register" and not (
                    isinstance(recv, ast.Attribute)
                    and recv.attr in ("dataSource", "udf")):
                continue
            yield name, call
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id in STAGE_FUNCTIONS):
            yield node.func.id, node


def _ensure_calls(tree):
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id == "ensure_py_deps"):
            yield node


def _module_globals(tree) -> set:
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t)
                      if isinstance(n, ast.Name)}
    return names


def _lambda_globals(call, module_names: set) -> set:
    """Module-level names that a lambda argument of ``call`` loads."""
    used = set()
    for arg in call.args:
        if isinstance(arg, ast.Lambda):
            params = {a.arg for a in arg.args.args}
            used |= {n.id for n in ast.walk(arg.body)
                     if isinstance(n, ast.Name) and n.id not in params
                     and not hasattr(builtins, n.id)}
    return used & module_names


def py_deps_offenders(pkg: pathlib.Path) -> list[str]:
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        scopes = _scopes(tree)
        ensured = [(_enclosing(scopes, c)[:1], c.lineno)
                   for c in _ensure_calls(tree)]
        for name, call in _stage_calls(tree):
            where = _enclosing(scopes, call)
            site = f"{rel}:{call.lineno} {name} in {where[0] if where else None}"
            if name == "mapInPandas" and (rel, where[:1]) != (
                    "session.py", ["map_in_pandas"]):
                offenders.append(f"{site}: use session.map_in_pandas")
                continue
            if any(fn and fn[0] in where and line < call.lineno
                   for fn, line in ensured):
                continue
            key = (rel, where[0] if where else None)
            if key in ALLOWLIST and not _lambda_globals(
                    call, _module_globals(tree)):
                continue
            offenders.append(f"{site}: no earlier ensure_py_deps")
    return offenders


def test_python_stages_ship_the_package_first():
    assert py_deps_offenders(PKG) == []
    # the guard sees the stages it is meant to see
    session = ast.parse((PKG / "session.py").read_text())
    assert [fn for fn, _ in method_calls(session, "mapInPandas")] == [
        "map_in_pandas"]
    stages = {name for path in PKG.rglob("*.py")
              for name, _ in _stage_calls(ast.parse(path.read_text()))}
    assert {"mapInPandas", "applyInPandasWithState", "pandas_udf",
            "mapPartitions", "foreachPartition", "map",
            "mapPartitionsWithIndex", "register"} <= stages


def test_guard_flags_unshipped_stages(tmp_path):
    """A raw mapInPandas, an applyInPandasWithState with no guard, one
    whose ensure_py_deps comes after it, and an allowlisted site whose
    closure reads a module global are each reported."""
    pkg = tmp_path / "intake_spark"
    pkg.mkdir()
    (pkg / "session.py").write_text(textwrap.dedent("""
        def ensure_py_deps(spark):
            pass

        def map_in_pandas(df, fn, schema, **kw):
            ensure_py_deps(df.sparkSession)
            return df.mapInPandas(fn, schema, **kw)
    """))
    (pkg / "ops.py").write_text(textwrap.dedent("""
        from intake_spark.session import ensure_py_deps

        def raw(df, fn):
            ensure_py_deps(df.sparkSession)
            return df.mapInPandas(fn, "x long")

        def stateful(df, fn):
            return df.groupBy("k").applyInPandasWithState(fn, "a", "b", "append", "none")

        def late(df, fn):
            out = df.groupBy("k").applyInPandasWithState(fn, "a", "b", "append", "none")
            ensure_py_deps(df.sparkSession)
            return out

        def fine(df, fn):
            ensure_py_deps(df.sparkSession)

            def inner():
                return df.rdd.mapPartitions(fn)
            return inner()
    """))
    (pkg / "sci.py").write_text(textwrap.dedent("""
        SCALE = 2

        class MatrixMarketReader:
            def _read(self, spark, url):
                return spark.read.text(url).rdd.map(lambda t: t[0] * SCALE)
    """))
    got = py_deps_offenders(pkg)
    assert len(got) == 4, got
    assert any("ops.py" in g and "raw" in g and "map_in_pandas" in g for g in got)
    assert any("in stateful" in g for g in got)
    assert any("in late" in g for g in got)
    assert any("sci.py" in g for g in got)
    assert not any("fine" in g for g in got)


def test_repeat_ensure_py_deps_sends_no_py4j_command(spark):
    from intake_spark.session import ensure_py_deps

    ensure_py_deps(spark)
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        ensure_py_deps(spark)
    finally:
        del client.send_command
    assert sent[0] == 0


def _inline_dv_table(root: str) -> None:
    """A Delta table of ids 0..9 whose inline deletion vector drops
    positions 2 and 7."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_lakehouse import _delta_meta, _ser_roaring64, _z85_encode

    os.makedirs(f"{root}/_delta_log")
    pq.write_table(pa.table({"id": pa.array(range(10), pa.int64())}),
                   f"{root}/f0.parquet")
    bm = _ser_roaring64([2, 7])
    bm += b"\x00" * ((-len(bm)) % 4)  # z85 needs whole 4-byte groups
    dv = {"storageType": "i", "pathOrInlineDv": _z85_encode(bm),
          "sizeInBytes": len(bm), "cardinality": 2}
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(_delta_meta(schema) + "\n")
        f.write(json.dumps({"add": {
            "path": "f0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "deletionVector": dv}}) + "\n")


def test_stages_run_on_a_bare_session_outside_the_repo(tmp_path):
    """A caller-built session, started outside the repo with no
    PYTHONPATH: its Python workers can import intake_spark only through
    addPyFile. A Delta read with a deletion vector (the DV expansion
    runs in a worker) and a ``bucket(4, id)`` Iceberg write (the bucket
    hash is a pandas_udf) both run, each as its session's first
    Python-function stage, and read back. q145's kafka_wire stream runs
    too: its source runner gets no addPyFile includes, so every engine
    module it reaches must be pickled by value."""
    _inline_dv_table(str(tmp_path / "dv"))
    script = textwrap.dedent(
        f"""
        import json, sys, traceback
        sys.path.insert(0, {str(ROOT)!r})
        from pyspark.sql import SparkSession
        from intake_spark import datatypes as dt, output
        from intake_spark.lakehouse import DeltaLakeReader, IcebergTableReader

        def run(step):
            try:
                return step()
            except Exception as exc:
                return "ERROR " + "".join(traceback.format_exception_only(exc))

        def delta():
            df = DeltaLakeReader(data=dt.DeltalakeTable(
                url={str(tmp_path / "dv")!r})).read(spark=spark)
            return sorted(r.id for r in df.collect())

        def iceberg():
            url = {str(tmp_path / "ice")!r}
            output.to_iceberg(spark.range(8), url, partition_by=["bucket(4, id)"])
            back = IcebergTableReader(data=dt.IcebergDataset(url=url)).read(spark=spark)
            return sorted(r.id for r in back.collect())

        def kafka():
            from intake_spark.llm.queries import q145_kafka_stream
            return len(q145_kafka_stream(spark, {SF_MEDIUM!r}).collect())

        # a fresh session per stage: the first stage to ship the package
        # would otherwise ship it for the next
        got = {{}}
        # kafka first, so no earlier stage of this process can have made
        # the package importable for its source runner
        for name, step in (("kafka", kafka), ("delta", delta),
                           ("iceberg", iceberg)):
            spark = (SparkSession.builder.master("local[2]")
                     .config("spark.sql.shuffle.partitions", "2")
                     .config("spark.ui.enabled", "false").getOrCreate())
            spark.sparkContext.setLogLevel("ERROR")
            got[name] = run(step)
            spark.stop()
        print("RESULT " + json.dumps(got))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, cwd=str(tmp_path), env=env,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, proc.stdout[-2000:] + proc.stderr[-2000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got == {"delta": [0, 1, 3, 4, 5, 6, 8, 9],
                   "iceberg": list(range(8)), "kafka": 3}, got
