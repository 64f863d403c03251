"""Output checks, run outside the timed region.

Query results are compared with the query's ``oracle_sql()`` text run on
DuckDB over the same parquet files: row count, column names and every
cell (order-insensitive; floats to 1e-9 relative). A query without oracle
SQL gets a rows-only check.
"""

from __future__ import annotations

import math

import pandas as pd


def duckdb_views(tables_dir: str, names) -> "object":
    import duckdb

    con = duckdb.connect()
    for n in names:
        con.sql(f"CREATE VIEW {n} AS SELECT * FROM '{tables_dir}/{n}.parquet'")
    return con


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    for c in out.columns:
        kind = str(out[c].dtype)
        if kind.startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif kind.startswith(("int", "uint", "Int", "UInt")):
            out[c] = out[c].astype("int64")
        elif kind.startswith(("float", "Float")):
            out[c] = out[c].astype("float64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else the first difference."""
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if got.empty:
        return None
    a, b = _canonical(got), _canonical(want)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype == "float64" and b[c].dtype == "float64":
            for i, (u, v) in enumerate(zip(x, y)):
                both_nan = math.isnan(u) and math.isnan(v)
                if not both_nan and not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-12):
                    return f"column {c} row {i}: {u!r} != {v!r}"
        else:
            eq = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
            if not eq.all():
                i = int((~eq).to_numpy().argmax())
                return f"column {c} row {i}: {a[c].iloc[i]!r} != {b[c].iloc[i]!r}"
    return None


def check_query(spark_df, oracle_sql: str | None, con) -> str | None:
    """Compare one query's result with its oracle; None means it matched."""
    got = spark_df.toPandas()
    if len(got) == 0:
        return "empty result"
    if oracle_sql is None:
        return None
    return frame_mismatch(got, con.sql(oracle_sql).df())
