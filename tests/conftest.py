from __future__ import annotations

import ast
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from intake_spark.session import get_session

    s = get_session("intake_spark_tests", cpus=8)
    s.sparkContext.setLogLevel("WARN")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_MEDIUM}/{name}.parquet'"
        )
    yield con
    con.close()


def method_calls(tree, name):
    """(enclosing function, call node) of every ``.<name>(...)`` call in
    a parsed module; the function is None at module level."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == name):
                yield fn, child
            yield from walk(child, fn)
    return walk(tree, None)
