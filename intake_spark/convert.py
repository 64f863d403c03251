"""Conversion graph + auto_pipeline: URL → detected datatype → reader →
DataFrame, with boundary converters for the few non-DataFrame containers.

Parity with intake/readers/convert.py: the reference plans shortest paths
through a ~200-edge container graph (convert.py:1072-1157) because it spans
many backends; in the single-engine design nearly every tabular path is one
hop (datatype → DataFrame), and the graph only covers boundary containers
(pandas / Arrow / driver-side objects). ``auto_pipeline`` keeps the same
contract (convert.py:1160-1229): give a URL, get an executable pipeline.
"""

from __future__ import annotations

from typing import Any, Callable

from intake_spark.datatypes import BaseData, recommend
from intake_spark.pipeline import Pipeline
from intake_spark.utils import qname

SPARK_DF = "pyspark.sql:DataFrame"
PANDAS_DF = "pandas:DataFrame"
ARROW_TABLE = "pyarrow:Table"

# container → container boundary edges: (in, out) → function
CONVERTERS: dict[tuple[str, str], Callable] = {}


def register_converter(in_type: str, out_type: str):
    def deco(fn):
        CONVERTERS[(in_type, out_type)] = fn
        return fn

    return deco


@register_converter(SPARK_DF, PANDAS_DF)
def spark_to_pandas(df, **_):
    """The materialization edge (≡ DaskDFToPandas convert.py:223-232) —
    Arrow-accelerated collect; only sane for small/aggregated results."""
    return df.toPandas()


@register_converter(PANDAS_DF, SPARK_DF)
def pandas_to_spark(pdf, spark=None, **_):
    from intake_spark.session import get_session

    return (spark or get_session()).createDataFrame(pdf)


@register_converter(SPARK_DF, ARROW_TABLE)
def spark_to_arrow(df, **_):
    """Arrow-native boundary (Spark 4 ``toArrow``): no pandas hop, so
    timestamp/decimal/nested types survive the round trip exactly."""
    return df.toArrow()


@register_converter(ARROW_TABLE, SPARK_DF)
def arrow_to_spark(table, spark=None, **_):
    from intake_spark.session import get_session

    return (spark or get_session()).createDataFrame(table)


@register_converter(SPARK_DF, "builtins:dict")
def dataframe_to_metadata(df, **_):
    """Schema/size metadata view (≡ DataFrameToMetadata convert.py:534-558)."""
    return {
        "columns": df.columns,
        "dtypes": dict(df.dtypes),
        "schema_json": df.schema.jsonValue(),
        "is_streaming": df.isStreaming,
    }


def conversion_path(start: str, end: str, cutoff: int = 5) -> list[tuple[str, str]]:
    """Shortest edge path through the converter graph (BFS; the reference
    uses networkx all_simple_paths sorted by length, convert.py:1120-1157 —
    same result for our graph sizes, no networkx dependency)."""
    if start == end:
        return []
    frontier = [[("", start)]]
    seen = {start}
    while frontier:
        nxt = []
        for path in frontier:
            cur = path[-1][1]
            for (a, b) in CONVERTERS:
                if a == cur and b not in seen:
                    newpath = path + [(a, b)]
                    if b == end:
                        return [(x, y) for (x, y) in newpath[1:]]
                    seen.add(b)
                    if len(newpath) <= cutoff:
                        nxt.append(newpath)
        frontier = nxt
    raise ValueError(f"no conversion path {start} -> {end}")


# real classes live in implementation modules; the conversion graph keys
# on the public names — normalize detection so auto in_type reaches the
# registered edges
_QNAME_ALIASES = {
    "pyspark.sql.classic.dataframe:DataFrame": SPARK_DF,
    "pyspark.sql.connect.dataframe:DataFrame": SPARK_DF,
    "pyspark.sql.dataframe:DataFrame": SPARK_DF,
    "pandas.core.frame:DataFrame": PANDAS_DF,
    "pyarrow.lib:Table": ARROW_TABLE,
}


def convert(obj: Any, out_type: str, in_type: str | None = None, spark=None):
    if in_type is None:
        q = qname(obj)
        in_type = _QNAME_ALIASES.get(q, q)
    for a, b in conversion_path(in_type, out_type):
        obj = CONVERTERS[(a, b)](obj, spark=spark)
    return obj


def auto_pipeline(url: str, outtype: str = SPARK_DF, spark=None, **kwargs) -> Pipeline:
    """URL → ranked datatypes → first working reader → Pipeline
    (contract parity: convert.py:1160-1229). The returned pipeline is lazy;
    ``.read()`` builds the DataFrame plan."""
    candidates = recommend(url)
    if not candidates:
        raise ValueError(f"no datatype recognized for {url!r}")
    last_err: Exception | None = None
    for cls in candidates:
        try:
            data = cls(url=url)
            reader = data.to_reader(**kwargs)
            pipe = Pipeline(reader=reader, steps=[])
            if outtype != SPARK_DF:
                for a, b in conversion_path(SPARK_DF, outtype):
                    pipe = pipe.with_step(
                        ("apply", f"{{func(intake_spark.convert:{CONVERTERS[(a, b)].__name__})}}", [], {})
                    )
            return pipe
        except Exception as exc:  # noqa: BLE001 - try next candidate
            last_err = exc
    raise ValueError(f"no reader worked for {url!r}: {last_err}")


def one_shot(url: str, spark=None, **kwargs):
    """URL → DataFrame in one call."""
    return auto_pipeline(url, **kwargs).read(spark=spark)


def chunk_rows_to_numpy(df, max_bytes: int | None = 1 << 30):
    """Chunk-row DataFrame → the full N-D numpy array, assembled on the
    driver in offset order (guarded: this is the materialization edge —
    the XarrayToPandas/ToNumpy converter class of the reference's graph;
    distributed work should stay in chunk rows or go through the array
    sinks). The rows stream through ``arrays.stream_axis0``: a gap, an
    overlap or a short frame raises instead of leaving memory unset."""
    import math

    import numpy as np

    from intake_spark.arrays import stream_axis0

    shape, blocks = stream_axis0(df, "chunk_rows_to_numpy", max_bytes)
    flat = np.empty(math.prod(shape), dtype="f8")
    pos = 0
    for block in blocks:
        flat[pos : pos + block.size] = block
        pos += block.size
    return flat.reshape(shape)


def chunk_rows_to_pandas(df, max_bytes: int | None = 1 << 30, dim_names=None):
    """Chunk-row DataFrame → labeled pandas frame — the full
    XarrayToPandas pivot (reference convert.py XarrayToPandas: DataArray
    ``.to_dataframe`` yields one 'value' column under a MultiIndex of
    dimension coordinates). 1-D → (dim_0, value); N-D → MultiIndex over
    all axes. Same driver-edge guard as :func:`chunk_rows_to_numpy`."""
    import numpy as np
    import pandas as pd

    arr = chunk_rows_to_numpy(df, max_bytes=max_bytes)
    names = list(dim_names or (f"dim_{i}" for i in range(arr.ndim)))
    if len(names) != arr.ndim:
        raise ValueError(f"{len(names)} dim names for {arr.ndim}-D array")
    if arr.ndim == 1:
        return pd.DataFrame({names[0]: np.arange(arr.shape[0]), "value": arr})
    idx = pd.MultiIndex.from_product(
        [range(s) for s in arr.shape], names=names
    )
    return pd.DataFrame({"value": arr.ravel()}, index=idx)
