"""Data-layout optimization: Z-order (Morton) clustering for multi-column
range locality.

The lakehouse OPTIMIZE ... ZORDER BY pattern (Delta/Iceberg compaction):
interleave the bits of several range-query columns into one sort key, then
range-partition + sort the write on it — rows close in the multi-dimensional
box end up in the same files/row-groups, so a box predicate prunes most of
the scan. The key computation is exact integer bit math (JVM higher-order
functions; no UDF) and therefore oracle-checkable in SQL.

Scale posture: computing the key is mapper-only; laying out by it is ONE
repartitionByRange + sortWithinPartitions — the same cost as any sorted
write, with multi-column locality instead of single-column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intake_spark.session import map_in_pandas


def zorder_key_n(cols, bits: int = 16):
    """Interleave the low ``bits`` bits of N non-negative integer columns
    into one Morton key: column j's bit i lands at key bit ``i*N + j``
    (the standard OPTIMIZE..ZORDER BY multi-column form — Delta's
    typical case is 3-4 columns). Pure JVM fold over the bit positions;
    N*bits must fit a signed long."""
    n = len(cols)
    if n < 1:
        raise ValueError("zorder_key_n needs at least one column")
    if n * bits > 63:
        raise ValueError(
            f"{n} columns x {bits} bits = {n * bits} key bits; must be <= 63"
        )
    exprs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long") for c in cols]
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(exprs):
            key = key + F.shiftleft(F.shiftrightunsigned(c, i) % 2, i * n + j)
    return key.cast("long")


def zorder_key(x, y, bits: int = 16):
    """Two-column Morton key: x bit i → key bit 2i, y bit i → 2i+1
    (the j-ordering of :func:`zorder_key_n` with cols=[x, y])."""
    return zorder_key_n([x, y], bits)


def cluster_by_zorder(
    df: DataFrame,
    x_col,
    y_col: str | None = None,
    bits: int = 16,
    partitions: int | None = None,
) -> DataFrame:
    """Lay out rows in Z-order: adds ``zkey`` and returns the frame
    range-partitioned + sorted on it, ready for a parquet write whose
    row groups are N-D-local (box filters prune). Pass a list of columns
    (``cluster_by_zorder(df, ["a", "b", "c"])``) or the legacy two
    positional columns."""
    cols = list(x_col) if isinstance(x_col, (list, tuple)) else [x_col, y_col]
    if any(c is None for c in cols):
        raise ValueError("cluster_by_zorder needs columns")
    out = df.withColumn("zkey", zorder_key_n(cols, bits))
    n = partitions or out.sparkSession.sparkContext.defaultParallelism
    return out.repartitionByRange(n, F.asc("zkey")).sortWithinPartitions("zkey")


def hilbert_key_py(order: int, x: int, y: int) -> int:
    """Hilbert distance of (x, y) on a 2^order grid (pure Python — the
    forward twin of the PMTiles d→xy walk in geo.py). Hilbert beats
    Morton on locality (no long diagonal jumps), at the cost of not
    being expressible as independent per-bit math — so the distributed
    path applies it via an Arrow-batched mapper."""
    rx = ry = 0
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def with_hilbert_key(
    df: DataFrame, x_col: str, y_col: str, order: int = 16, out_col: str = "hkey"
) -> DataFrame:
    """Add the Hilbert clustering key via an Arrow-batched mapper (the
    curve's quadrant rotations are stateful per coordinate, unlike
    Morton's independent bit interleave)."""
    from pyspark.sql import types as T

    schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.LongType())])

    hi = 1 << order

    def run(batches):
        import pandas as _pd

        for pdf in batches:
            pdf = pdf.copy()
            keys = []
            for x, y in zip(pdf[x_col], pdf[y_col]):
                # explicit validation: a NULL coordinate would die in
                # int() with an opaque executor traceback, and a
                # coordinate >= 2^order has its high bits silently ignored
                # by the s-masked walk — distant rows would alias onto the
                # same key and corrupt the clustering with no error
                if x is None or y is None or _pd.isna(x) or _pd.isna(y):
                    raise ValueError(
                        f"with_hilbert_key: NULL/NaN coordinate in "
                        f"({x_col!r}, {y_col!r}) — filter or impute first"
                    )
                xi, yi = int(x), int(y)
                if not (0 <= xi < hi and 0 <= yi < hi):
                    raise ValueError(
                        f"with_hilbert_key: coordinate ({xi}, {yi}) outside "
                        f"[0, 2^{order}) — raise `order` or rescale"
                    )
                keys.append(hilbert_key_py(order, xi, yi))
            pdf[out_col] = keys
            yield pdf

    return map_in_pandas(df, run, schema=schema)
