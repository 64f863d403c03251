"""Array-as-DataFrame: the canonical encoding for ``array``-structured data
(tensors, grids, audio) keeping "one container" true (SURVEY §1.2 mapping,
§7 "what's hard": chunk rows = dim-index cols + ArrayType payload).

Encoding: an N-D array of shape (d0, d1, ..., dk) chunked on the leading
axis becomes rows ``(chunk_id, offset0, shape, values)`` where ``values``
is the flattened chunk as ``array<double>`` and ``shape`` the full array
shape. Operations:

- elementwise math → higher-order ``transform`` on values (JVM-side)
- reductions → explode + hash aggregate, or ``aggregate`` per chunk then a
  tiny final combine — map-side partial aggregation falls out naturally
- slicing on the chunk axis → filter on offset0 (partition-prunable)

This is how NumpyFile/Zarr/HDF5 data enters the engine (reference readers
readers.py:1305-1440) without a driver-side ndarray.

Python code builds chunk rows, or reads them back into an array, only
here (``output.to_zarr``'s executor-side block writes aside):

- :func:`cut_axis0` — the encoder: an in-memory block → chunk rows. Every
  reader that holds decoded arrays (MAT, DICOM, TIFF, HDF5, Zarr, DAP2,
  NPZ, compressed NRRD/MetaImage) builds its rows through it.
- :func:`byte_range_df` — the byte-range decoder: a raw array at a file
  offset → chunk rows, decoded on executors.
- :func:`stream_axis0` — the driver-side stream: chunk rows → float64
  blocks in ``offset0`` order, size-guarded and coverage-checked. Every
  single-file array sink and ``convert.chunk_rows_to_numpy`` read
  through it.
"""

from __future__ import annotations

import ast
import math
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intake_spark import datatypes as dt
from intake_spark.readers import BaseReader
from intake_spark.session import local_frame, map_in_pandas

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.LongType()),
        T.StructField("offset0", T.LongType()),
        T.StructField("shape", T.ArrayType(T.LongType())),
        T.StructField("values", T.ArrayType(T.DoubleType())),
    ]
)


def _parse_npy_header(buf: bytes) -> tuple[str, bool, tuple[int, ...], int]:
    """Parse the public .npy v1/v2 header (magic \\x93NUMPY): returns
    (dtype_str, fortran_order, shape, data_offset). Stdlib-only."""
    if buf[:6] != b"\x93NUMPY":
        raise ValueError("not an npy file")
    major = buf[6]
    if major == 1:
        (hlen,) = struct.unpack("<H", buf[8:10])
        off = 10
    else:
        (hlen,) = struct.unpack("<I", buf[8:12])
        off = 12
    header = buf[off : off + hlen].decode("latin1")
    d = ast.literal_eval(header.strip())
    if not isinstance(d, dict) or set(d) != {"descr", "fortran_order", "shape"}:
        raise ValueError("malformed npy header dict")
    return d["descr"], d["fortran_order"], tuple(d["shape"]), off + hlen


def _npy_dtype(descr: str, fortran: bool):
    """The numpy dtype of a .npy/.npz member that the chunk-row model
    decodes: C-order, numeric (bool, int, uint or float)."""
    if fortran:
        raise ValueError("fortran-order npy not supported")
    dtype = np.dtype(descr)
    if dtype.kind not in "biuf":
        raise ValueError(f"npy dtype {descr!r} is not numeric")
    return dtype


def cut_axis0(
    block, shape, offset0: int = 0, chunk_id: int = 0, rows_per_chunk: int | None = None
) -> list[dict]:
    """The one chunk-row encoder: an in-memory C-order block whose axis 0
    holds global rows ``offset0, offset0 + 1, ...`` → chunk rows of
    ``rows_per_chunk`` rows (default: the whole block in one row),
    numbered from ``chunk_id``. Every row carries the global ``shape``
    and its values as float64."""
    a = np.atleast_1d(np.asarray(block, dtype=np.float64))
    step = rows_per_chunk or len(a)
    starts = range(0, len(a), step) if rows_per_chunk else [0]
    shape = [int(s) for s in shape]
    return [
        {
            "chunk_id": int(chunk_id) + i,
            "offset0": int(offset0) + start,
            "shape": shape,
            "values": a[start : start + step].ravel().tolist(),
        }
        for i, start in enumerate(starts)
    ]


def byte_range_df(
    spark, url: str, dtype, shape: list[int], data_off: int, rows_per_chunk: int
) -> DataFrame:
    """The one byte-range decoder: a raw C-order array stored at
    ``data_off`` in ``url`` → chunk rows. The driver builds a manifest of
    ``rows_per_chunk``-row slabs; executors seek, read and decode each
    slab (``np.frombuffer`` of ``dtype``) — per-chunk parallelism, no
    payload byte on the driver. .npy, FITS, NIfTI, NetCDF-3, NRRD,
    DICOM, ASDF, MetaImage and contiguous HDF5 payloads read through it."""
    np_dtype = np.dtype(dtype)
    row_elems = math.prod(shape[1:])
    n0 = shape[0] if shape else 1
    manifest = [
        (i, start, min(start + rows_per_chunk, n0))
        for i, start in enumerate(range(0, n0, rows_per_chunk))
    ]
    mdf = local_frame(
        spark, manifest, "chunk_id long, row_start long, row_end long"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            with open(url, "rb") as f:
                for _, r in pdf.iterrows():
                    n_el = int(r.row_end - r.row_start) * row_elems
                    f.seek(data_off + int(r.row_start) * row_elems * np_dtype.itemsize)
                    vals = np.frombuffer(f.read(n_el * np_dtype.itemsize), dtype=np_dtype)
                    out += cut_axis0(vals, shape, r.row_start, r.chunk_id)
            yield pd.DataFrame(out, columns=CHUNK_SCHEMA.names)

    return map_in_pandas(mdf, decode, schema=CHUNK_SCHEMA)


def stream_axis0(
    df: DataFrame, sink: str, max_bytes: int | None, need_shape: bool = True
) -> "tuple[list[int] | None, Iterator]":
    """The one driver-side chunk-row decoder, behind every single-file
    array sink and ``convert.chunk_rows_to_numpy``. Returns ``(shape,
    blocks)``.

    The size guard runs first: the array's byte size comes free from the
    chunk-row ``shape`` (one ``first()``), and above ``max_bytes`` it
    raises naming the distributed alternative. A sink that writes no
    shape-dependent header passes ``need_shape=False``: with
    ``max_bytes=None`` it then runs no job before the stream, and
    ``shape`` is None.

    ``blocks`` streams the rows in ``offset0`` order through
    ``toLocalIterator`` (one partition in driver memory at a time) and
    yields each row's values as a float64 ndarray. It raises naming
    ``sink`` when a row does not start where the previous one ended (a
    gap or an overlap) or the element total is not ``prod(shape)``. The
    first row's ``offset0`` is the base, so ``slice_axis0`` frames, which
    keep global offsets, stream too. A frame without a ``shape`` column
    (only allowed with ``need_shape=False`` and ``max_bytes=None``) is a
    1-D stream whose ``offset0`` counts values."""
    shape = None
    if need_shape or max_bytes is not None:
        first = df.select("shape").first()
        if first is None:
            raise ValueError("empty chunk DataFrame")
        shape = [int(s) for s in first["shape"]]
        n = math.prod(shape)
        if max_bytes is not None and n * 8 > max_bytes:
            raise ValueError(
                f"{sink}: array is {n * 8} bytes (> max_bytes={max_bytes}); "
                "single-file driver-streamed sinks are for bounded artifacts — "
                "use to_zarr (distributed chunk writes) or to_parquet for data "
                "this size, or pass max_bytes=None to override deliberately"
            )
    cols = ["offset0", "values"] + (["shape"] if "shape" in df.columns else [])

    def blocks():
        declared, base, written = shape, None, 0
        for row in df.select(*cols).orderBy("offset0").toLocalIterator():
            if declared is None and "shape" in cols:
                declared = [int(s) for s in row["shape"]]
            total = math.prod(declared) if declared is not None else math.inf
            off = int(row["offset0"])
            base = off if base is None else base
            at = (off - base) * (math.prod(declared[1:]) if declared else 1)
            vals = np.asarray(row["values"], dtype=np.float64)
            if at != written or written + vals.size > total:
                raise ValueError(
                    f"{sink}: the chunk row at offset0={off} covers elements "
                    f"[{at}, {at + vals.size}) but the rows before it end at "
                    f"element {written} of {total} — a gap, an overlap or an "
                    "overrun in the chunk frame"
                )
            written += vals.size
            yield vals
        if declared is not None and written != math.prod(declared):
            raise ValueError(
                f"{sink}: streamed {written} elements but shape "
                f"{tuple(declared)} declares {math.prod(declared)} — refusing "
                "to leave a truncated file (was the chunk frame filtered?)"
            )

    return shape, blocks()


class NumpyArrayReader(BaseReader):
    """.npy → chunk-row DataFrame. The file is read once driver-side for the
    header; chunk byte-ranges decode in executors (:func:`byte_range_df`)."""

    implements = {dt.NumpyFile}

    def _read(self, spark, rows_per_chunk: int = 4096, **kwargs):
        url = self.data.url
        with open(url, "rb") as f:
            head = f.read(4096)
        descr, fortran, shape, data_off = _parse_npy_header(head)
        dtype = _npy_dtype(descr, fortran)
        return byte_range_df(spark, url, dtype, list(shape), data_off, rows_per_chunk)


class NPZ(dt.FileData):
    filepattern = r"npz$"
    magic = (b"PK\x03\x04",)
    structure = {"array"}

    def __init__(self, url, member: str = "", storage_options=None, metadata=None):
        super().__init__(url, storage_options, metadata)
        self.member = member


class NPZReader(BaseReader):
    """.npz (zip of .npy members) → chunk rows for one member (stdlib
    zipfile; parity: NPZReader readers.py:3169)."""

    implements = {NPZ}

    def _read(self, spark, **kwargs):
        import zipfile

        with zipfile.ZipFile(self.data.url) as z:
            names = [n for n in z.namelist() if n.endswith(".npy")]
            member = self.data.member or names[0].removesuffix(".npy")
            buf = z.read(member + ".npy")
        descr, fortran, shape, off = _parse_npy_header(buf)
        dtype = _npy_dtype(descr, fortran)
        vals = np.frombuffer(buf, dtype=dtype, count=math.prod(shape), offset=off)
        return local_frame(spark, cut_axis0(vals, shape), CHUNK_SCHEMA)


def elementwise(df: DataFrame, expr: str) -> DataFrame:
    """Elementwise map over chunk values, JVM-side: ``expr`` uses ``x``,
    e.g. ``"x * 2 + 1"`` → transform(values, x -> x * 2 + 1)."""
    return df.withColumn("values", F.expr(f"transform(values, x -> {expr})"))


def reduce_sum(df: DataFrame) -> DataFrame:
    """Global sum: per-chunk partial (aggregate HOF, no shuffle) + one tiny
    final combine — the canonical map-side-partial pattern."""
    partial = df.select(
        F.expr("aggregate(values, CAST(0.0 AS DOUBLE), (s, x) -> s + x)").alias("part")
    )
    return partial.agg(F.sum("part").alias("total"))


def slice_axis0(df: DataFrame, start: int, end: int) -> DataFrame:
    """Slice rows [start, end) on the chunk axis — chunk-level pruning via
    the offset0 filter, then within-chunk trim."""
    row_elems = F.expr("aggregate(slice(shape, 2, size(shape) - 1), 1L, (a, x) -> a * x)")
    df = df.withColumn("_re", row_elems)
    n0 = F.size("values") / F.col("_re")
    df = df.filter((F.col("offset0") < end) & (F.col("offset0") + n0 > start))
    lo = F.greatest(F.lit(start) - F.col("offset0"), F.lit(0))
    hi = F.least(F.lit(end) - F.col("offset0"), n0)
    return (
        df.withColumn(
            "values",
            F.slice(
                "values",
                (lo * F.col("_re") + 1).cast("int"),
                # clamp: Catalyst may push a LATER filter's substituted
                # expression below this frame's own row filter, evaluating
                # the slice on rows outside [start, end) where hi - lo is
                # negative — slice() throws on negative lengths
                F.greatest((hi - lo) * F.col("_re"), F.lit(0.0)).cast("int"),
            ),
        )
        .withColumn("offset0", F.greatest(F.col("offset0"), F.lit(start)))
        .withColumn(
            "shape",
            # keep the chunk-row invariant: shape[0] is the (global) length
            # of the sliced axis, exactly as slice_axis does for axes >= 1
            F.expr(
                f"transform(shape, (s, j) -> IF(j = 0, "
                f"least(CAST({end} AS BIGINT), s) - greatest(CAST({start} AS BIGINT), 0L), s))"
            ),
        )
        .drop("_re")
    )


def slice_axis(df: DataFrame, axis: int, start: int, end: int) -> DataFrame:
    """Slice [start, end) along ANY axis of the chunk-row model — the full
    XarraySel/isel equivalent (reference XarraySel transform.py; axis 0
    delegates to the chunk-pruning slice_axis0).

    Non-leading axes slice entirely JVM-side with the indexed filter
    higher-order function: keep flattened element i where
    ``(i div stride) mod dim`` falls in [start, end), where ``stride`` is
    the product of trailing dims — no Python, no shuffle, chunk rows stay
    independent."""
    if axis == 0:
        return slice_axis0(df, start, end)
    ax1 = axis + 1  # 1-based for element_at/slice
    stride = (
        f"aggregate(slice(shape, {ax1 + 1}, size(shape)), 1L, (a, x) -> a * x)"
    )
    dim = f"element_at(shape, {ax1})"
    keep = (
        f"filter(values, (x, i) -> pmod(CAST(i AS BIGINT) div ({stride}), {dim}) "
        f">= {start} AND pmod(CAST(i AS BIGINT) div ({stride}), {dim}) < {end})"
    )
    new_shape = (
        f"transform(shape, (s, j) -> IF(j = {axis}, {end - start}, s))"
    )
    return df.withColumn("values", F.expr(keep)).withColumn("shape", F.expr(new_shape))


class NumpyPatternReader(BaseReader):
    """Array files over a ``{field}`` path pattern → one chunk-row DataFrame
    with the pattern captures materialized as columns (≡ reference
    XArrayPatternReader, readers.py:1441-1495 — its ``{field}`` dims become
    per-chunk columns here instead of xarray coordinates).

    Each matching .npy file reads through the executor byte-range decode of
    :class:`NumpyArrayReader`; per-file frames union lazily, so N files =
    N parallel decode manifests under one plan.
    """

    implements = {dt.NumpyFile}
    priority = 5  # explicit choice: plain NumpyArrayReader wins for flat urls

    def _read(self, spark, rows_per_chunk: int = 4096, **kwargs):
        import glob as _glob

        from intake_spark.utils import pattern_to_glob, reverse_format

        pattern = self.data.url
        paths = sorted(_glob.glob(pattern_to_glob(pattern)))
        if not paths:
            raise FileNotFoundError(f"no files match pattern {pattern!r}")
        out = None
        for path in paths:
            fields = reverse_format(pattern, path)
            part = NumpyArrayReader(data=dt.NumpyFile(url=path)).read(
                spark=spark, rows_per_chunk=rows_per_chunk
            )
            for k, v in fields.items():
                part = part.withColumn(k, F.lit(v))
            out = part if out is None else out.unionByName(part)
        return out


class NumpyTextReader(BaseReader):
    """Whitespace/delimited numeric text (np.loadtxt semantics: ``#``
    comments, blank-line skip) → chunk-row DataFrame (parity: NumpyText,
    reference readers.py:1305, which calls np.loadtxt — an all-in-memory
    text format by construction).

    Row order comes from ``wholetext`` + ``posexplode`` over a JVM line
    split — exact by construction, independent of Spark's split planning
    (a monotonic-id scheme only matches file order by planner accident).
    The whole file lands in one row, so the reader enforces a documented
    ``max_bytes`` cap (np.loadtxt is an all-in-memory format anyway);
    token parsing and chunk assembly still run JVM-side. Each dim-0 slab
    groups into one chunk row, so downstream array ops see the same shape
    the .npy reader emits.
    """

    implements = {dt.NumpyFile}
    priority = 2  # only chosen for .txt-flavored urls / explicit use

    def _read(
        self,
        spark,
        delimiter: str | None = None,
        rows_per_chunk: int = 4096,
        max_bytes: int = 256 << 20,
        **kwargs,
    ):
        import glob as _glob
        import os as _os
        import re as _re

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        url = self.data.url
        matches = [p for p in _glob.glob(url) if _os.path.isfile(p)]
        if len(matches) > 1 or _os.path.isdir(url):
            # per-file row numbers would collide across files and interleave
            # chunks — a stack of text arrays is NumpyPatternReader's job
            raise ValueError(
                "NumpyTextReader reads ONE file (np.loadtxt semantics); for a "
                "stack of array files use NumpyPatternReader"
            )
        path = matches[0] if matches else url
        size = _os.path.getsize(path)
        if size > max_bytes:
            raise ValueError(
                f"{path} is {size} bytes > max_bytes={max_bytes}; NumpyText "
                "is an all-in-memory format (np.loadtxt) — convert to .npy "
                "or parquet for arrays this large"
            )
        # wholetext + posexplode: the line index is exact by construction,
        # not dependent on Spark's file-split planning order
        lines = spark.read.text(url, wholetext=True).select(
            F.posexplode(F.split("value", r"\r?\n")).alias("_mid", "value")
        )
        val = F.trim(F.regexp_replace(F.col("value"), r"#.*$", ""))
        # delimiter is a LITERAL like np.loadtxt's, not a regex
        sep = _re.escape(delimiter) if delimiter else r"\s+"
        rows = lines.filter(val != "").select(
            F.col("_mid"),
            F.split(val, sep).alias("_toks"),
        )
        # Dense row index WITHOUT a global one-task window: bucket kept
        # lines into fixed 64Ki-line blocks of the raw line index, count
        # per block, turn the counts into prefix-sum offsets (the window
        # here runs over ONE ROW PER BLOCK — ≤ a few hundred rows under
        # max_bytes, never the payload), broadcast the offsets back, and
        # rank only WITHIN a block. Every task sorts at most _IDX_BLOCK
        # lines; no task ever sees the whole file.
        _IDX_BLOCK = 65536
        rows = rows.withColumn(
            "_blk", (F.col("_mid") / _IDX_BLOCK).cast("bigint")
        )
        counts = rows.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bn"))
        woff = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
        offs = counts.select(
            "_blk", F.coalesce(F.sum("_bn").over(woff), F.lit(0)).alias("_boff")
        )
        wblk = Window.partitionBy("_blk").orderBy("_mid")
        rows = rows.join(F.broadcast(offs), "_blk").withColumn(
            "_rn", F.col("_boff") + F.row_number().over(wblk) - 1
        )
        vals = F.expr("transform(_toks, t -> try_cast(t AS DOUBLE))")
        rows = rows.select("_rn", vals.alias("_vals"), F.size("_toks").alias("_nc"))
        # eager validation (np.loadtxt raises upfront too) doubles as the
        # global-shape computation — ONE small aggregate, no unpartitioned
        # window dragging the payload through a single task
        tot = rows.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_nc").alias("wmin"),
            F.max("_nc").alias("wmax"),
            F.sum(F.expr("CAST(exists(_vals, v -> v IS NULL) AS BIGINT)")).alias("bad"),
        ).collect()[0]
        if tot.n == 0:
            return local_frame(spark, [], CHUNK_SCHEMA)
        if tot.wmin != tot.wmax:
            raise ValueError(
                f"ragged rows: widths {tot.wmin}..{tot.wmax} (np.loadtxt "
                "requires a rectangular array)"
            )
        if tot.bad:
            raise ValueError(f"{tot.bad} rows contain unparseable numeric tokens")
        return (
            rows.withColumn("chunk_id", F.expr(f"_rn div {int(rows_per_chunk)}"))
            .groupBy("chunk_id")
            .agg(
                F.min("_rn").alias("offset0"),
                F.flatten(
                    F.array_sort(F.collect_list(F.struct("_rn", "_vals"))).getField("_vals")
                ).alias("values"),
            )
            .select(
                "chunk_id",
                "offset0",
                F.array(F.lit(int(tot.n)), F.lit(int(tot.wmax))).cast("array<bigint>").alias("shape"),
                "values",
            )
        )
