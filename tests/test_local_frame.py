"""session.local_frame: driver-local rows as an Arrow local relation,
equal to ``spark.createDataFrame(rows, schema)`` row for row, and the
guard that keeps every engine local frame on that path."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import pathlib

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from intake_spark.session import local_frame
from tests.conftest import method_calls

DDL = (
    "l long, i int, d double, f float, s string, b binary, t boolean, "
    "m decimal(10,2), dt date, ts timestamp, tn timestamp_ntz, "
    "a array<string>, st struct<x: int, y: string>, mp map<string, long>"
)

ROWS = [
    (1, 2, 1.5, 0.1, "x", b"ab", True, decimal.Decimal("1.23"),
     dt.date(2020, 1, 2), dt.datetime(2021, 3, 4, 5, 6, 7, 890),
     dt.datetime(2021, 3, 4, 5, 6, 7, 1), ["p", None], (3, "q"),
     {"k": 1, "z": None}),
    (None,) * 14,
    (-2**63, -2**31, -1e300, -0.0, "", bytearray(b""), False,
     decimal.Decimal("-99999999.99"), dt.date(1, 1, 1),
     dt.datetime(2021, 3, 4, 5, 6, 7,
                 tzinfo=dt.timezone(dt.timedelta(hours=3))),
     dt.datetime(1969, 12, 31, 23, 59, 59, 999999), [],
     Row(x=None, y="r"), {}),
]


def _same(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


@pytest.mark.parametrize("schema_kind", ["ddl", "struct"])
def test_local_frame_matches_create_dataframe(spark, schema_kind):
    schema = DDL if schema_kind == "ddl" else spark.createDataFrame([], DDL).schema
    _same(spark, ROWS, schema)
    _same(spark, [list(r) for r in ROWS], schema)
    _same(spark, [], schema)
    names = [f.name for f in spark.createDataFrame([], DDL).schema]
    _same(spark, [dict(zip(names, r)) for r in ROWS], schema)


def test_local_frame_rejects_what_create_dataframe_rejects(spark):
    for bad in ([(2**31,)], [(1.5,)], [("s",)]):
        with pytest.raises(Exception):
            spark.createDataFrame(bad, "i int").collect()
        with pytest.raises(Exception):
            local_frame(spark, bad, "i int")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "i int")
    with pytest.raises(ValueError):
        local_frame(spark, [(1,), (1, 2)], "i int, j int")
    with pytest.raises(TypeError):
        local_frame(spark, pd.DataFrame({"i": [1]}), "i int")
    strict = StructType([StructField("k", LongType(), nullable=False)])
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], strict)


def test_local_frame_named_fields(spark):
    """Dict rows are read by field name; a missing key is null."""
    schema = StructType([StructField("a", StringType()),
                         StructField("b", IntegerType())])
    got = local_frame(spark, [{"b": 1, "a": "x"}, {"a": "y"}], schema)
    assert got.collect() == [Row(a="x", b=1), Row(a="y", b=None)]


# createDataFrame calls that pass a schema and stay off local_frame:
# (file under intake_spark/, enclosing function, first argument) -> reason
CREATE_DATAFRAME_ALLOWED = {
    ("session.py", "local_frame", "table"):
        "local_frame itself: the Arrow table it has built",
    ("readers.py", "_read", "batch.to_pandas()"):
        "pandas input: DuckDB record batches, already on the Arrow path",
    ("v1source.py", "read_partition", "part"):
        "an RDD of one partition's rows, not a driver-local list",
    ("llm/queries.py", "q142_service_wire", "out"):
        "pandas input: the connector reads' collected results",
    ("llm/queries.py", "q143_kafka_wire", "out"):
        "pandas input: the connector reads' collected results",
    ("llm/queries.py", "q144_jdbc_pg_wire", "out"):
        "pandas input: the connector reads' collected results",
    ("llm/queries.py", "q145_kafka_stream", "out"):
        "pandas input: the drained stream's collected results",
}


def _schema_create_dataframe_calls(tree):
    """(enclosing function, first argument, line) of every
    ``.createDataFrame(rows, schema)`` call in a module."""
    for fn, call in method_calls(tree, "createDataFrame"):
        if len(call.args) >= 2 or any(k.arg == "schema" for k in call.keywords):
            first = ast.unparse(call.args[0]) if call.args else ""
            yield fn, first, call.lineno


def test_engine_local_frames_use_arrow():
    """Every engine createDataFrame call with a schema goes through
    local_frame, so no pickled Python RDD is planned for driver rows.
    Calls without a schema (dict rows, pandas or Arrow input) are
    unaffected."""
    root = pathlib.Path(__file__).resolve().parent.parent / "intake_spark"
    found, offenders = set(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        for fn, first, line in _schema_create_dataframe_calls(tree):
            if (rel, fn, first) in CREATE_DATAFRAME_ALLOWED:
                found.add((rel, fn, first))
            else:
                offenders.append(f"{rel}:{line} in {fn}")
    assert not offenders, f"createDataFrame with a schema: {offenders}"
    assert found == set(CREATE_DATAFRAME_ALLOWED)
