"""Sinks: writes that return a datatype description of the written artifact,
so outputs are immediately re-catalogable (parity: intake/readers/
output.py:1-7 — "all return a new datatype instance").
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intake_spark import datatypes as dt
from intake_spark.session import ensure_py_deps, map_in_pandas


@contextlib.contextmanager
def _new_file(url: str):
    """``open(url, "wb")`` for the single-file array sinks: when the body
    raises (a gap or a short frame found mid-stream, a value that does
    not convert), the partial file is removed, so a failed sink leaves
    no file behind."""
    try:
        with open(url, "wb") as f:
            yield f
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(url)
        raise


def to_parquet(df: DataFrame, url: str, mode: str = "overwrite", partition_by: list[str] | None = None, **options) -> dt.Parquet:
    """df → parquet directory (parity: PandasToParquet output.py:36-45).
    ``partition_by`` yields hive-partitioned layout → partition pruning for
    downstream readers."""
    w = df.write.mode(mode).options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(url)
    return dt.Parquet(url=url)


def to_csv(df: DataFrame, url: str, mode: str = "overwrite", **options) -> dt.CSV:
    """(parity: PandasToCSV output.py:48-57)"""
    df.write.mode(mode).options(header="true", **options).csv(url)
    return dt.CSV(url=url)


def to_json(df: DataFrame, url: str, mode: str = "overwrite", **options) -> dt.JSONFile:
    df.write.mode(mode).options(**options).json(url)
    return dt.JSONFile(url=url)


def to_orc(df: DataFrame, url: str, mode: str = "overwrite", **options) -> dt.ORC:
    df.write.mode(mode).options(**options).orc(url)
    return dt.ORC(url=url)


def to_xml(df: DataFrame, url: str, row_tag: str = "row", mode: str = "overwrite", **options) -> dt.XML:
    """Native Spark 4 XML sink."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).options(**options).save(url)
    return dt.XML(url=url)


def to_delta(
    df: DataFrame,
    url: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    txn: "tuple[str, int] | None" = None,
    **options,
) -> dt.DeltalakeTable:
    """Delta Lake sink WITHOUT the delta-spark jar: data files write as
    ordinary distributed parquet through ``lakehouse.stage_parquet``
    (a staging dir, then moved in), and the driver appends ONE
    ``_delta_log`` JSON commit through ``lakehouse.delta_commit`` —
    protocol + metaData + add actions for version 0, remove+add for
    ``overwrite`` of an existing table, adds only for ``append``. The
    commit is put-if-absent: when a concurrent writer claimed the same
    version, this write's moved-in files are deleted and
    ``ConcurrentWriteError`` raises; the winner's table is untouched.
    The commit is metadata-only driver work (one small JSON line per
    data file); the bytes never touch the driver.

    Round-trips with ``DeltaLakeReader`` (same module's stdlib log
    replay), including ``version=`` time travel across appends and
    hive-layout partitioned tables. Parity: SparkDeltaLake writer
    (reference readers.py:550) minus the jar dependency; a cluster with
    delta-spark writes through ``df.write.format("delta")`` directly.

    Scale: appends are O(new files) log lines; the reader replays JSON
    commits and checkpoints. (Checkpoint COMPACTION is not produced here
    — at high version counts run a real delta writer's checkpoint, which
    interoperates on the same log.)
    """
    import hashlib
    import os
    import time
    import uuid as _uuid
    from urllib.parse import quote as _quote

    from intake_spark import lakehouse

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite/append, got {mode!r}")
    root = url.rstrip("/")
    log_dir = os.path.join(root, "_delta_log")
    part_cols = list(partition_by or [])

    # current state (for append schema checks / overwrite removes) via the
    # SHARED log replay — checkpoint-seeded, so overwriting a checkpointed
    # table whose pre-checkpoint commits were vacuumed still removes every
    # live file and continues the version sequence past the checkpoint
    prev_version = -1
    prev_adds: list[str] = []
    prev_meta = None
    if os.path.isdir(log_dir):
        state = lakehouse.delta_log_state(log_dir, df.sparkSession)
        prev_version = state["version"]
        prev_adds = sorted(state["adds"])
        prev_meta = state["meta"]
    if prev_meta is not None:
        prev_schema = prev_meta.get("schemaString")
        if mode == "append" and prev_schema != df.schema.json():
            raise ValueError(
                "append schema does not match the table's metaData schema"
            )
        if mode == "append":
            part_cols = list(prev_meta.get("partitionColumns") or [])

    staged = lakehouse.stage_parquet(df, root, part_cols, options)
    now_ms = int(time.time() * 1000)

    # one commit: protocol+metaData on create; removes on overwrite
    version = prev_version + 1
    actions: list[dict] = []
    if version == 0 or mode == "overwrite":
        if prev_meta is not None and mode == "overwrite":
            table_id = prev_meta.get("id")
        else:
            table_id = str(
                _uuid.UUID(hashlib.md5(root.encode()).hexdigest())
            )
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append(
            {
                "metaData": {
                    "id": table_id,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": part_cols,
                    "configuration": {},
                    "createdTime": now_ms,
                }
            }
        )
    if mode == "overwrite":
        for p in prev_adds:
            actions.append(
                {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": True}}
            )
    for rel, pvals, size in staged.files:
        actions.append({"add": {
            # the protocol says add.path is RFC 2396 URI-encoded;
            # readers (ours included) unquote it to the disk path. The
            # log records the LOGICAL partition value, null as None.
            "path": _quote(rel, safe="/"),
            "partitionValues": pvals,
            "size": size,
            "modificationTime": now_ms,
            "dataChange": True,
        }})
    if txn is not None:
        # protocol txn action: {appId, version} — streaming writers use
        # the per-app version ladder for idempotent batch replay
        actions.append({"txn": {"appId": str(txn[0]), "version": int(txn[1])}})
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
            }
        }
    )
    lakehouse.delta_commit(root, version, actions, staged, "to_delta")
    return dt.DeltalakeTable(url=url)


def to_table(df: DataFrame, name: str, mode: str = "overwrite", comment: str | None = None) -> str:
    """saveAsTable into the Spark catalog (parity: V2 PandasToDuck
    CREATE TABLE AS + COMMENT, convert.py:183-220)."""
    df.write.mode(mode).saveAsTable(name)
    if comment:
        ident = ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))
        # Spark default string literals treat backslash as an escape, so
        # backslashes must double BEFORE quote-doubling or a trailing '\'
        # swallows the closing quote (and crafted comments could inject
        # extra TBLPROPERTIES entries)
        lit = comment.replace("\\", "\\\\").replace("'", "''")
        df.sparkSession.sql(
            f"ALTER TABLE {ident} SET TBLPROPERTIES ('comment' = '{lit}')"
        )
    return name


def to_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 32,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
) -> str:
    """Write a hash-bucketed (optionally sorted) table. Joins/aggregations
    between tables bucketed the same way on the join key run with NO
    shuffle — the pre-partitioning is the 100 TB co-location strategy for
    repeatedly-joined fact tables. Requires a metastore table (bucket
    metadata lives in the catalog, not the files)."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)
    return name


def to_feather(df: DataFrame, url: str) -> dt.Feather2:
    """Driver-side Arrow write — Feather is a small-data interchange format
    (parity: PandasToFeather output.py:72-82). Big data belongs in parquet."""
    df.toPandas().to_feather(url)
    return dt.Feather2(url=url)


def catalog_to_yaml(catalog, path: str) -> dt.CatalogData:
    """(parity: CatalogToJson output.py:252-260)"""
    catalog.to_yaml_file(path)
    out = dt.CatalogData()
    out.metadata["path"] = path
    return out


# --- array / media sinks (parity: output.py:85-129, 268-445) ----------------


def to_zarr(df: DataFrame, url: str, compressor: str | None = "zlib") -> dt.Zarr:
    """Chunk-row DataFrame (arrays.CHUNK_SCHEMA) → zarr v2 store, written
    **distributed**: each executor task writes its chunk files directly (one
    file per leading-axis block, C-order bytes; ``compressor``: "zlib",
    "blosc-lz4" — the numcodecs ecosystem default, written as a Blosc1
    frame with byte shuffle — or None), the driver
    writes only the ``.zarray`` JSON. No zarr package needed — parity:
    XarrayToZarr/DaskArrayToZarr (reference output.py:85-114) with the write
    parallelism those get from dask.

    Chunk layout: leading-axis blocks of the engine's chunk-row model, i.e.
    chunks = [max_block_rows, *shape[1:]]; ragged final blocks are padded
    with the fill value per the zarr spec.
    """
    import json
    import os

    # the write closure imports intake_spark.compress executor-side for
    # the blosc-lz4 branch: ship the package before foreachPartition
    ensure_py_deps(df.sparkSession)

    # Block geometry via ONE aggregate row — never one driver-side row per
    # chunk (a 100 TB array has millions of chunks; a per-chunk collect is
    # a driver-memory list even when it is metadata-only). Every chunk row
    # carries the same global array shape, so first() is well-defined.
    stat = df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max(F.size("values")).alias("max_n"),
        F.sum(F.size("values").cast("long")).alias("sum_n"),
        F.first("shape").alias("shape"),
    ).collect()[0]
    if stat["cnt"] == 0:
        raise ValueError("empty chunk DataFrame")
    shape = list(stat["shape"])
    row_elems = 1
    for s in shape[1:]:
        row_elems *= s
    # coverage guard, free inside the same aggregate: the chunk rows must
    # tile shape exactly — missing blocks (a filtered/sliced frame) would
    # otherwise write a silently fill-valued region
    total_elems = row_elems
    for s in shape[:1]:
        total_elems *= s
    if int(stat["sum_n"]) != total_elems:
        raise ValueError(
            f"to_zarr: chunk rows carry {stat['sum_n']} elements but shape "
            f"{shape} needs exactly {total_elems} — the frame does not tile "
            "the array (sliced/filtered chunk frames must be re-chunked to "
            "a full block grid first, or written via to_npy/to_netcdf)"
        )
    block_rows = stat["max_n"] // row_elems
    chunks = [block_rows, *shape[1:]]
    os.makedirs(url, exist_ok=True)
    meta = {
        "zarr_format": 2,
        "shape": shape,
        "chunks": chunks,
        "dtype": "<f8",
        "compressor": (
            {"id": "zlib", "level": 6}
            if compressor == "zlib"
            else {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1}
            if compressor == "blosc-lz4"
            else None
        ),
        "fill_value": 0.0,
        "order": "C",
        "filters": None,
    }
    with open(f"{url}/.zarray", "w") as f:
        json.dump(meta, f)
    n_trailing = 1
    for s, c in zip(shape[1:], chunks[1:]):
        n_trailing *= -(-s // c)  # == 1: trailing dims are unchunked
    pad_to = block_rows * row_elems
    n_rows0 = shape[0]

    def write_partition(rows_iter):
        import zlib

        import numpy as np

        for r in rows_iter:
            vals = np.asarray(r["values"], dtype="<f8")
            # per-row alignment guard, executor-side at zero extra passes
            # (the driver aggregate above checks total coverage): offset0
            # must sit on the block grid and only the FINAL block may be
            # ragged — sliced frames (slice_axis0 keeps absolute offsets)
            # would otherwise land at wrong chunk indices with padding in
            # the wrong rows, a silently corrupt array
            off = int(r["offset0"])
            n0 = vals.size // row_elems
            if (
                off % block_rows != 0
                or off + n0 > n_rows0  # rebased slices: offset past shape
                or (n0 != block_rows and off + n0 != n_rows0)
            ):
                raise ValueError(
                    f"to_zarr: chunk at offset0={off} ({n0} rows) is not "
                    f"aligned to the {block_rows}-row chunk grid; re-chunk "
                    "to block-aligned offsets first, or write via "
                    "to_npy/to_netcdf which stream offset-ordered"
                )
            if vals.size < pad_to:
                vals = np.pad(vals, (0, pad_to - vals.size))
            raw = vals.tobytes()
            if compressor == "zlib":
                raw = zlib.compress(raw)
            elif compressor == "blosc-lz4":
                from intake_spark.compress import blosc_compress

                raw = blosc_compress(raw, typesize=8, shuffle=True, cname="lz4")
            i0 = int(r["offset0"]) // block_rows
            name = ".".join([str(i0)] + ["0"] * (len(shape) - 1))
            with open(f"{url}/{name}", "wb") as f:
                f.write(raw)

    df.select("offset0", "values").foreachPartition(write_partition)
    return dt.Zarr(url=url)


def to_npy(df: DataFrame, url: str, max_bytes: int | None = 1 << 30) -> dt.NumpyFile:
    """Chunk-row DataFrame → .npy (v1 header + C-order float64 data),
    streamed through the driver in offset order (``toLocalIterator`` — one
    partition in memory at a time, parity: NumpyToNumpyFile output.py:117).
    ``max_bytes`` guards against silently bottlenecking a huge array
    through the driver."""
    import struct as _struct

    from intake_spark.arrays import stream_axis0

    shape, blocks = stream_axis0(df, "to_npy", max_bytes)
    header = "{'descr': '<f8', 'fortran_order': False, 'shape': %s, }" % (str(tuple(shape)),)
    pad = (64 - (10 + len(header) + 1) % 64) % 64
    header = header + " " * pad + "\n"
    with _new_file(url) as f:
        f.write(b"\x93NUMPY\x01\x00" + _struct.pack("<H", len(header)) + header.encode())
        for block in blocks:
            f.write(block.astype("<f8").tobytes())
    return dt.NumpyFile(url=url)


def _png_bytes(arr_2d, bit_depth: int = 8) -> bytes:
    """Encode a 2-D grayscale array as PNG with the stdlib only (zlib +
    struct CRC): signature, IHDR, IDAT (filter-0 scanlines), IEND.
    ``bit_depth`` 8 or 16 (16-bit samples big-endian per the PNG
    spec)."""
    import struct as _struct
    import zlib

    if bit_depth not in (8, 16):
        raise ValueError("PNG grayscale bit depth must be 8 or 16")
    h = len(arr_2d)
    w = len(arr_2d[0]) if h else 0

    def chunk(tag: bytes, payload: bytes) -> bytes:
        body = tag + payload
        return _struct.pack(">I", len(payload)) + body + _struct.pack(">I", zlib.crc32(body))

    ihdr = _struct.pack(">IIBBBBB", w, h, bit_depth, 0, 0, 0, 0)  # grayscale
    if bit_depth == 16:
        raw = b"".join(
            b"\x00" + b"".join(
                (int(v) & 0xFFFF).to_bytes(2, "big") for v in row
            )
            for row in arr_2d
        )
    else:
        raw = b"".join(
            b"\x00" + bytes(int(v) & 0xFF for v in row) for row in arr_2d
        )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def to_png(df: DataFrame, url: str, max_bytes: int | None = 1 << 30) -> dt.PNG:
    """All chunk rows, streamed in offset order, rendered as one grayscale
    PNG (2-D arrays; values clipped to uint8). Stdlib encoder — parity:
    NumpyToPNG output.py:268+, which needs PIL. Media are driver-edge
    artifacts (thumbnails, QA), so a driver-side write is the right cost
    model; like to_npy, only one partition is in driver memory at a time."""
    from intake_spark.arrays import stream_axis0

    shape, blocks = stream_axis0(df, "to_png", max_bytes)
    if len(shape) != 2:
        raise ValueError(f"to_png needs a 2-D array, got shape {shape}")
    w = shape[1]
    arr = []
    for block in blocks:
        vals = [max(0, min(255, int(v))) for v in block.tolist()]
        arr.extend(vals[i * w : (i + 1) * w] for i in range(len(vals) // w))
    with _new_file(url) as f:
        f.write(_png_bytes(arr))
    return dt.PNG(url=url)


def to_wav(df: DataFrame, url: str, rate: int = 16000, max_bytes: int | None = 1 << 30) -> dt.WAV:
    """Chunk rows → 16-bit mono WAV via the stdlib ``wave`` module (parity:
    NumpyToWAV output.py:300-ish). Values expected in [-1, 1] (scaled by
    32767, clipped to int16). Rows stream in offset order through
    ``arrays.stream_axis0``: a gap, an overlap or a short frame raises
    and leaves no file. The header needs no shape, so with
    ``max_bytes=None`` no Spark job runs before the stream, an empty frame
    writes an empty WAV, and a frame without a ``shape`` column is read as
    1-D samples whose ``offset0`` counts samples."""
    import struct as _struct
    import wave

    from intake_spark.arrays import stream_axis0

    _, blocks = stream_axis0(df, "to_wav", max_bytes, need_shape=False)
    with _new_file(url) as f, wave.open(f, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        for block in blocks:
            samples = [max(-32768, min(32767, int(v * 32767.0))) for v in block.tolist()]
            w.writeframes(_struct.pack(f"<{len(samples)}h", *samples))
    return dt.WAV(url=url)


def to_ogg(df: DataFrame, url: str, rate: int = 16000,
           max_bytes: int | None = 1 << 30) -> "dt.OGG":
    """Chunk rows → OGG/Vorbis via the native encoder (llm/vorbis.py):
    a real lossy encode (MDCT + flat floor-1 + lattice-VQ residue) that
    round-trips through :func:`intake_spark.llm.vorbis.decode_vorbis`.
    Values expected in [-1, 1]. Rows stream in offset order through
    ``arrays.stream_axis0`` (a gap, an overlap or a short frame raises),
    and the whole signal is gathered on the driver before the one encode
    and write, so a failed sink leaves no file. ``max_bytes=None``
    behaves as in :func:`to_wav`: no job before the stream, an empty frame
    writes an empty stream, a frame without ``shape`` is 1-D samples. For
    corpus-scale audio keep blobs in a binary column instead of
    driver-side single files."""
    import numpy as np

    from intake_spark.arrays import stream_axis0
    from intake_spark.llm.vorbis import encode_vorbis

    _, blocks = stream_axis0(df, "to_ogg", max_bytes, need_shape=False)
    chunks = list(blocks)
    samples = np.concatenate(chunks) if chunks else np.zeros(0)
    with _new_file(url) as f:
        f.write(encode_vorbis(samples, rate))
    return dt.OGG(url=url)


def to_netcdf(df: DataFrame, url: str, variable: str = "data", max_bytes: int | None = 1 << 30) -> "dt.BaseData":
    """Chunk-row DataFrame → classic netCDF (CDF-1) file with one float64
    variable (parity: XarrayToNetCDF output.py:85-98, which needs xarray —
    this writes the spec layout with stdlib struct). Streamed through the
    driver in offset order like to_npy; round-trips with sci.NetCDF3Reader.
    ``max_bytes`` guards against driver-bottlenecking a large variable —
    use to_zarr's distributed chunk writes above the guard."""
    import struct as st

    from intake_spark.arrays import stream_axis0
    from intake_spark.sci import NetCDF3

    shape, blocks = stream_axis0(df, "to_netcdf", max_bytes)

    def name(s: str) -> bytes:
        b = s.encode()
        return st.pack(">I", len(b)) + b + b"\x00" * ((4 - len(b) % 4) % 4)

    n_elems = 1
    for s in shape:
        n_elems *= s
    dims = b"".join(name(f"dim{i}") + st.pack(">I", n) for i, n in enumerate(shape))
    dim_list = st.pack(">II", 0x0A, len(shape)) + dims
    gatts = st.pack(">II", 0, 0)
    var_entry = (
        name(variable)
        + st.pack(">I", len(shape))
        + b"".join(st.pack(">I", i) for i in range(len(shape)))
        + st.pack(">II", 0, 0)
        + st.pack(">II", 6, n_elems * 8)  # NC_DOUBLE
    )
    header = (
        b"CDF\x01" + st.pack(">I", 0) + dim_list + gatts
        + st.pack(">II", 0x0B, 1) + var_entry
    )
    begin = len(header) + 4
    with _new_file(url) as f:
        f.write(header + st.pack(">I", begin))
        for block in blocks:
            f.write(block.astype(">f8").tobytes())
    return NetCDF3(url=url, variable=variable)


def to_hdf5(
    df: DataFrame,
    url: str,
    dataset: str = "data",
    max_bytes: int | None = 1 << 30,
) -> "dt.HDF5":
    """Chunk-row DataFrame → HDF5 file with one contiguous float64 dataset
    (parity: PandasToHDF5, reference output.py:60-69, which delegates to
    h5py — this writes the classic file layout with stdlib struct: v0
    superblock, v1 object headers, one-leaf B-tree/SNOD/local-heap root
    group). Streamed through the driver in offset order like to_npy, with
    the same ``max_bytes`` guard; round-trips with hdf5.HDF5Reader."""
    import struct as st

    from intake_spark.arrays import stream_axis0

    shape, blocks = stream_axis0(df, "to_hdf5", max_bytes)
    nbytes = 8
    for s in shape:
        nbytes *= s
    UNDEF = b"\xff" * 8

    def pad8(b: bytes) -> bytes:
        return b + b"\x00" * ((8 - len(b) % 8) % 8)

    def msg(mtype: int, data: bytes) -> bytes:
        data = pad8(data)
        return st.pack("<HHB3x", mtype, len(data), 0) + data

    def oh_v1(msgs: list[bytes]) -> bytes:
        body = b"".join(msgs)
        return st.pack("<BBHII4x", 1, 0, len(msgs), 1, len(body)) + body

    name = dataset.encode()
    root_addr = 96
    root_oh = oh_v1([msg(0x11, st.pack("<QQ", 0, 0))])  # sized placeholder
    btree_addr = root_addr + len(root_oh)
    btree_size = 24 + 8 + 8 + 8
    heap_addr = btree_addr + btree_size
    heap_data_addr = heap_addr + 32
    heap_data = b"\x00" * 8 + pad8(name + b"\x00")
    snod_addr = heap_data_addr + len(heap_data)
    snod_size = 8 + 40
    ds_addr = snod_addr + snod_size
    space = msg(
        0x01,
        st.pack("<BBB5x", 1, len(shape), 0)
        + b"".join(st.pack("<Q", s) for s in shape),
    )
    # IEEE little-endian float64 (class 1 v1; implied-MSB normalization)
    dtype_msg = msg(
        0x03,
        st.pack("<BBBBI", 0x11, 0x20, 63, 0, 8)
        + st.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023),
    )
    ds_oh_size = len(oh_v1([space, dtype_msg, msg(0x08, st.pack("<BBQQ", 3, 1, 0, 0))]))
    data_addr = ds_addr + ds_oh_size
    eof = data_addr + nbytes

    head = b"\x89HDF\r\n\x1a\n" + bytes([0, 0, 0, 0, 0, 8, 8, 0])
    head += st.pack("<HHI", 4, 16, 0)
    head += st.pack("<Q", 0) + UNDEF + st.pack("<Q", eof) + UNDEF
    head += st.pack("<QQII", 0, root_addr, 0, 0) + b"\x00" * 16
    layout = msg(0x08, st.pack("<BBQQ", 3, 1, data_addr, nbytes))
    with _new_file(url) as f:
        f.write(head)
        f.write(oh_v1([msg(0x11, st.pack("<QQ", btree_addr, heap_addr))]))
        f.write(
            b"TREE" + bytes([0, 0]) + st.pack("<H", 1) + UNDEF + UNDEF
            + st.pack("<QQQ", 0, snod_addr, 8)
        )
        f.write(b"HEAP" + bytes(4) + st.pack("<QQQ", len(heap_data), 0, heap_data_addr))
        f.write(heap_data)
        f.write(b"SNOD" + bytes([1, 0]) + st.pack("<H", 1))
        f.write(st.pack("<QQII", 8, ds_addr, 0, 0) + b"\x00" * 16)
        f.write(oh_v1([space, dtype_msg, layout]))
        for block in blocks:
            f.write(block.astype("<f8").tobytes())
    return dt.HDF5(url=url)


def to_tiff(df: DataFrame, url: str, max_bytes: int | None = 1 << 30) -> "dt.TIFF":
    """Chunk rows → single-strip uncompressed grayscale 8-bit TIFF
    (2-D arrays; values clipped to uint8). Stdlib encoder, round-trips
    with sci.TIFFReader — parity: NumpyToTIFF (reference output.py), which
    needs PIL. Driver-edge artifact sink, same cost model as to_png."""
    import struct as _struct

    from intake_spark.arrays import stream_axis0

    shape, blocks = stream_axis0(df, "to_tiff", max_bytes)
    if len(shape) != 2:
        raise ValueError(f"to_tiff needs a 2-D array, got shape {shape}")
    h, w = shape
    data = bytearray()
    for block in blocks:
        data.extend(max(0, min(255, int(v))) for v in block.tolist())
    # layout: 8-byte header | IFD | strip data
    tags = [
        (256, 3, 1, w),        # ImageWidth
        (257, 3, 1, h),        # ImageLength
        (258, 3, 1, 8),        # BitsPerSample
        (259, 3, 1, 1),        # Compression: none
        (262, 3, 1, 1),        # Photometric: BlackIsZero
        (273, 4, 1, 0),        # StripOffsets (patched below)
        (277, 3, 1, 1),        # SamplesPerPixel
        (278, 3, 1, h),        # RowsPerStrip
        (279, 4, 1, h * w),    # StripByteCounts
    ]
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * len(tags) + 4
    out = bytearray(b"II*\x00" + _struct.pack("<I", ifd_off))
    out += _struct.pack("<H", len(tags))
    for tag, typ, cnt, val in tags:
        if tag == 273:
            val = data_off
        out += _struct.pack("<HHI", tag, typ, cnt) + _struct.pack("<I", val)
    out += _struct.pack("<I", 0)  # next IFD
    out += bytes(data)
    with _new_file(url) as f:
        f.write(out)
    return dt.TIFF(url=url)


def to_jpeg2000(
    df: DataFrame,
    url: str,
    levels: int = 3,
    irreversible: bool = False,
    max_bytes: int | None = 1 << 30,
) -> "dt.JPEG2000":
    """Chunk rows → JPEG 2000 codestream (2-D arrays; non-negative ints,
    any precision to 16 bits). Lossless 5/3 by default — round-trips
    bit-exactly with llm.jpeg2000.decode_jpeg2000; ``irreversible=True``
    writes the 9/7 lossy form. Stdlib encoder — parity: the reference's
    PIL/glymur delegation. Driver-edge artifact sink, same cost model as
    to_png/to_tiff."""
    import numpy as np

    from intake_spark.arrays import stream_axis0
    from intake_spark.llm.jpeg2000 import encode_jpeg2000

    shape, blocks = stream_axis0(df, "to_jpeg2000", max_bytes)
    if len(shape) != 2:
        raise ValueError(f"to_jpeg2000 needs a 2-D array, got shape {shape}")
    h, w = shape
    flat: list[int] = []
    for block in blocks:
        flat.extend(max(0, min(65535, int(v))) for v in block.tolist())
    arr = np.asarray(flat, dtype=np.int64).reshape(h, w)
    with _new_file(url) as f:
        f.write(encode_jpeg2000(arr, levels=levels, irreversible=irreversible))
    return dt.JPEG2000(url=url)


def to_webp(
    df: DataFrame,
    url: str,
    max_bytes: int | None = 1 << 30,
) -> "dt.WEBP":
    """Chunk rows → LOSSLESS WebP (VP8L, 2-D grayscale arrays, values
    clipped to uint8): per-channel canonical-Huffman literal coding via
    llm.webp.encode_webp — round-trips bit-exactly with decode_webp.
    Parity: the reference's PIL writers can emit WebP (output.py:268+).
    Driver-edge artifact sink, same cost model as to_png."""
    import numpy as np

    from intake_spark.arrays import stream_axis0
    from intake_spark.llm.webp import encode_webp

    shape, blocks = stream_axis0(df, "to_webp", max_bytes)
    if len(shape) != 2:
        raise ValueError(f"to_webp needs a 2-D array, got shape {shape}")
    h, w = shape
    flat: list[int] = []
    for block in blocks:
        flat.extend(max(0, min(255, int(v))) for v in block.tolist())
    arr = np.asarray(flat, dtype=np.uint8).reshape(h, w)
    with _new_file(url) as f:
        f.write(encode_webp(arr))
    return dt.WEBP(url=url)


def to_nrrd(df: DataFrame, url: str, max_bytes: int | None = 1 << 30) -> "dt.BaseData":
    """Chunk rows → NRRD (raw little-endian float64, any rank). Sizes are
    written fastest-axis-first per the NRRD spec (reverse of the C-order
    shape), so the file round-trips with sci.NRRDReader — parity:
    SimpleITKToNRRD (reference output.py), which needs SimpleITK."""
    from intake_spark import sci as _sci
    from intake_spark.arrays import stream_axis0

    shape, blocks = stream_axis0(df, "to_nrrd", max_bytes)
    header = (
        "NRRD0004\n"
        "type: double\n"
        f"dimension: {len(shape)}\n"
        f"sizes: {' '.join(str(s) for s in shape[::-1])}\n"
        "endian: little\n"
        "encoding: raw\n"
        "\n"
    )
    with _new_file(url) as f:
        f.write(header.encode())
        for block in blocks:
            f.write(block.astype("<f8").tobytes())
    return _sci.NRRD(url=url)


def to_metaimage(df: DataFrame, url: str, max_bytes: int | None = 1 << 30) -> "dt.BaseData":
    """Chunk rows → combined MetaImage .mha (MET_DOUBLE, ElementDataFile =
    LOCAL). DimSize is fastest-axis-first (reverse of C-order shape);
    round-trips with sci.MetaImageReader — parity: SimpleITKToMetaImage
    (reference output.py)."""
    from intake_spark import sci as _sci
    from intake_spark.arrays import stream_axis0

    shape, blocks = stream_axis0(df, "to_metaimage", max_bytes)
    header = (
        "ObjectType = Image\n"
        f"NDims = {len(shape)}\n"
        "BinaryData = True\n"
        "BinaryDataByteOrderMSB = False\n"
        f"DimSize = {' '.join(str(s) for s in shape[::-1])}\n"
        "ElementType = MET_DOUBLE\n"
        "ElementDataFile = LOCAL\n"
    )
    with _new_file(url) as f:
        f.write(header.encode())
        for block in blocks:
            f.write(block.astype("<f8").tobytes())
    return _sci.MetaImage(url=url)


_AVRO_TYPES = {
    "long": "long", "int": "int", "integer": "int", "bigint": "long",
    "double": "double", "float": "float", "string": "string",
    "boolean": "boolean", "binary": "bytes",
}


# single zigzag-varint implementation and OCF writer, shared with the
# generic Avro encoder (lakehouse does not import this module — no cycle)
from intake_spark.lakehouse import _avro_zz as _avro_zigzag  # noqa: E402
from intake_spark.lakehouse import write_avro_ocf  # noqa: E402


def _spark_to_avro_nested(dt_, name: str, used: set | None = None):
    """Spark nested type → Avro schema (primitive leaves only; every
    nullable level becomes a ["null", X] union). Record names derive
    from the column path, sanitized to Avro's [A-Za-z_][A-Za-z0-9_]*
    rule and de-duplicated via ``used`` — underscore-joined paths can
    collide ('a'.'b_c' vs 'a_b'.'c') and raw column names may carry
    characters fastavro/Java reject."""
    import re as _re

    from pyspark.sql import types as T

    used = used if used is not None else set()
    simple = dt_.simpleString()
    if simple in _AVRO_TYPES:
        return _AVRO_TYPES[simple]
    if isinstance(dt_, T.ArrayType):
        elem = _spark_to_avro_nested(dt_.elementType, f"{name}_item", used)
        return {
            "type": "array",
            "items": ["null", elem] if dt_.containsNull else elem,
        }
    if isinstance(dt_, T.MapType):
        if not isinstance(dt_.keyType, T.StringType):
            raise ValueError(
                f"to_avro: map column {name!r} needs string keys (Avro maps)"
            )
        val = _spark_to_avro_nested(dt_.valueType, f"{name}_value", used)
        return {
            "type": "map",
            "values": ["null", val] if dt_.valueContainsNull else val,
        }
    if isinstance(dt_, T.StructType):
        base = "r_" + _re.sub(r"[^A-Za-z0-9_]", "_", name)
        if base[0].isdigit():
            base = "_" + base
        rec_name = base
        k = 2
        while rec_name in used:
            rec_name = f"{base}_{k}"
            k += 1
        used.add(rec_name)
        return {
            "type": "record",
            "name": rec_name,
            "fields": [
                {
                    "name": f.name,
                    "type": [
                        "null",
                        _spark_to_avro_nested(f.dataType, f"{name}_{f.name}", used),
                    ],
                }
                for f in dt_.fields
            ],
        }
    raise ValueError(
        f"to_avro: unsupported nested type {simple!r} in column {name!r}"
    )


def _norm_nested(v, sch):
    """pandas/Arrow value shapes → the plain Python shapes the generic
    Avro encoder consumes (ndarray→list, map tuple-list→dict, Row→dict),
    recursively per schema."""
    import pandas as pd_

    if v is None or v is pd_.NaT:
        return None
    if isinstance(v, float) and v != v:
        # NaN: pandas can't distinguish element NULL from a genuine NaN
        # double, so nullable slots null it (matching the top-level
        # column convention); NON-nullable float slots keep NaN (a legal
        # Avro double value — None would crash struct.pack downstream)
        base = sch
        if isinstance(sch, list):
            if "null" in sch:
                return None
            base = next(s for s in sch if s != "null")
        bt = base if isinstance(base, str) else base.get("type")
        if bt in ("double", "float"):
            return v
        return None
    if isinstance(sch, list):
        inner = next(s for s in sch if s != "null")
        return _norm_nested(v, inner)
    if isinstance(sch, str):
        if isinstance(v, (bytearray, memoryview)):
            return bytes(v)
        item = getattr(v, "item", None)  # numpy scalar → python scalar
        return item() if item is not None and getattr(v, "ndim", 1) == 0 else v
    t = sch["type"]
    if t == "array":
        items = v.tolist() if hasattr(v, "tolist") else list(v)
        return [_norm_nested(x, sch["items"]) for x in items]
    if t == "map":
        kv = v if isinstance(v, dict) else dict(v)
        return {str(k): _norm_nested(x, sch["values"]) for k, x in kv.items()}
    if t == "record":
        d = v.asDict() if hasattr(v, "asDict") else dict(v)
        return {
            f["name"]: _norm_nested(d.get(f["name"]), f["type"])
            for f in sch["fields"]
        }
    return v


def _avro_encode_cell(v, kind) -> bytes:
    import math as _math
    import struct as _struct

    if isinstance(kind, tuple) and kind[0] == "nested":
        from intake_spark.lakehouse import _avro_encode_datum

        out = bytearray()
        _avro_encode_datum(kind[1], _norm_nested(v, kind[1]), out, {})
        return bytes(out)
    if isinstance(kind, tuple) and kind[0] == "dec":
        # Avro decimal logical type: big-endian two's-complement of the
        # EXACT unscaled integer (shared digit-arithmetic conversion —
        # Decimal.scaleb rounds to the 28-digit context default)
        import decimal as _decimal

        from intake_spark.lakehouse import _dec_to_unscaled

        unscaled = _dec_to_unscaled(_decimal.Decimal(v), kind[1])
        nb = max(1, (unscaled.bit_length() + 8) // 8)
        b = unscaled.to_bytes(nb, "big", signed=True)
        return _avro_zigzag(len(b)) + b
    if kind in ("long", "int"):
        return _avro_zigzag(int(v))
    if kind == "double":
        return _struct.pack("<d", float(v))
    if kind == "float":
        return _struct.pack("<f", float(v))
    if kind == "boolean":
        return b"\x01" if v else b"\x00"
    if kind == "bytes":
        b = bytes(v)
        return _avro_zigzag(len(b)) + b
    e = str(v).encode("utf-8")
    return _avro_zigzag(len(e)) + e


def clean_stale_parts(url: str, prefix: str, suffix: str) -> None:
    """Spark overwrite semantics for the distributed one-file-per-partition
    sinks: create the target directory and remove part files left by a
    previous write — a re-run with fewer partitions must not leave stale
    parts for readers to silently merge."""
    import os as _os

    _os.makedirs(url, exist_ok=True)
    for f in _os.listdir(url):
        if f.startswith(prefix) and f.endswith(suffix):
            _os.remove(_os.path.join(url, f))


def to_avro(df: DataFrame, url: str, codec: str = "deflate") -> "dt.AVRO":
    """DataFrame → directory of Avro object container part files, written
    DISTRIBUTED (one OCF per partition, encoded executor-side with the
    stdlib — parity: the spark-avro jar's write path, without the jar;
    round-trips with lakehouse.AvroOCFReader). Every column becomes a
    ["null", T] union (Spark columns are nullable); long/int/double/
    float/string/boolean/binary plus the Avro logical types date /
    timestamp (timestamp-micros) / timestamp_ntz (local-timestamp-
    micros) / decimal supported; ``codec``: "deflate", "snappy" or
    "null".

    Temporal columns are projected to epoch integers ENGINE-side
    (unix_micros / datediff / NTZ timestampdiff) before the Arrow hop —
    exact and timezone-proof, where naive datetimes through pandas would
    shift under non-UTC sessions."""
    from pyspark.sql import functions as F_
    from pyspark.sql import types as T  # noqa: F401

    if codec not in ("deflate", "snappy", "null"):
        raise ValueError("codec must be 'deflate', 'snappy' or 'null'")
    kinds = []
    avro_fields = []
    proj = []
    used_names: set[str] = set()
    # POSITIONAL rename before any by-name projection: F.col/df[...]
    # parse dots as struct access, so a column literally named "user.id"
    # (which the previous positional write path handled fine) would fail
    # to resolve — _c<i> temporaries sidestep name parsing entirely; the
    # Avro schema keeps the original names
    safe_names = [f"_c{i}" for i in range(len(df.schema.fields))]
    sdf = df.toDF(*safe_names)
    for i, f_ in enumerate(df.schema.fields):
        simple = f_.dataType.simpleString()
        n = f_.name
        sn = safe_names[i]
        c = F_.col(sn)
        if simple in _AVRO_TYPES:
            kinds.append(_AVRO_TYPES[simple])
            avro_fields.append({"name": n, "type": ["null", _AVRO_TYPES[simple]]})
            proj.append(c)
        elif simple == "date":
            kinds.append("int")
            avro_fields.append(
                {"name": n, "type": ["null", {"type": "int", "logicalType": "date"}]}
            )
            proj.append(F_.datediff(c, F_.lit("1970-01-01").cast("date")).alias(sn))
        elif simple == "timestamp":
            kinds.append("long")
            avro_fields.append(
                {"name": n,
                 "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]}
            )
            proj.append(F_.unix_micros(c).alias(sn))
        elif simple == "timestamp_ntz":
            kinds.append("long")
            avro_fields.append(
                {"name": n,
                 "type": ["null",
                          {"type": "long", "logicalType": "local-timestamp-micros"}]}
            )
            from intake_spark.session import ntz_epoch_micros

            # field-extract form, NOT timestampdiff: the latter coerces
            # through the session zone and shifts DST-gap wall clocks
            proj.append(ntz_epoch_micros(sn).alias(sn))
        elif isinstance(f_.dataType, T.DecimalType):
            kinds.append(("dec", f_.dataType.scale))
            avro_fields.append(
                {"name": n,
                 "type": ["null", {"type": "bytes", "logicalType": "decimal",
                                   "precision": f_.dataType.precision,
                                   "scale": f_.dataType.scale}]}
            )
            proj.append(c)
        elif simple.startswith(("array<", "map<", "struct<")):
            nested = _spark_to_avro_nested(f_.dataType, n, used_names)
            kinds.append(("nested", nested))
            avro_fields.append({"name": n, "type": ["null", nested]})
            proj.append(c)
        else:
            raise ValueError(
                f"to_avro: unsupported column type {simple!r} for {n!r} "
                "(project to primitive/date/timestamp/decimal/array/map/"
                "struct columns first)"
            )
    df = sdf.select(*proj)
    avro_schema = {"type": "record", "name": "spark_row", "fields": avro_fields}
    clean_stale_parts(url, "part-", ".avro")

    def write_part(batches):
        import hashlib as _hashlib
        import os

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        rows_bytes = bytearray()
        n_rows = 0
        for pdf in batches:
            for rec in pdf.itertuples(index=False):
                for v, kind in zip(rec, kinds):
                    if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
                        rows_bytes += b"\x00"  # union branch 0: null
                    else:
                        rows_bytes += b"\x02" + _avro_encode_cell(v, kind)
                n_rows += 1
        if n_rows:
            write_avro_ocf(
                os.path.join(url, f"part-{pid:05d}.avro"),
                avro_schema,
                n_rows,
                bytes(rows_bytes),
                _hashlib.md5(f"spark-graft-{pid}".encode()).digest(),
                codec,
            )
        yield pd.DataFrame({"rows": [n_rows]})

    written = map_in_pandas(df, write_part, schema="rows long")
    total = written.agg(F.sum("rows")).first()[0]
    out = dt.AVRO(url=url)
    out.metadata["rows_written"] = int(total or 0)
    return out


def to_msgpack(df: DataFrame, url: str) -> "object":
    """DataFrame → directory of MessagePack part files (stream of map
    objects, one per row), encoded DISTRIBUTED executor-side — round-trips
    with documents.MessagePackReader. Nested/complex columns must be
    projected to scalars first (msgpack cells are written as long/double/
    bool/str/bytes/nil)."""
    import os as _os

    clean_stale_parts(url, "part-", ".msgpack")
    names = [f_.name for f_ in df.schema.fields]

    def mp_cell(v):
        import struct as _struct

        if v is not None and type(v).__module__ == "numpy":
            # numpy scalars are NOT instances of bool/int/float — unbox,
            # or a non-null bool/int column silently encodes as strings
            v = v.item()
        if v is None or (isinstance(v, float) and v != v):
            return b"\xc0"
        if isinstance(v, bool):
            return b"\xc3" if v else b"\xc2"
        if isinstance(v, int):
            if 0 <= v <= 0x7F:
                return bytes([v])
            if -32 <= v < 0:
                return bytes([v & 0xFF])
            return b"\xd3" + v.to_bytes(8, "big", signed=True)
        if isinstance(v, float):
            return b"\xcb" + _struct.pack(">d", v)
        if isinstance(v, (bytes, bytearray)):
            b = bytes(v)
            return b"\xc6" + len(b).to_bytes(4, "big") + b
        e = str(v).encode("utf-8")
        if len(e) <= 31:
            return bytes([0xA0 | len(e)]) + e
        return b"\xdb" + len(e).to_bytes(4, "big") + e

    def write_part(batches):
        import os

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        out = bytearray()
        n = 0
        for pdf in batches:
            for rec in pdf.itertuples(index=False):
                if len(names) <= 15:
                    out.append(0x80 | len(names))
                else:
                    out += b"\xde" + len(names).to_bytes(2, "big")
                for name, v in zip(names, rec):
                    out += mp_cell(name) + mp_cell(v)
                n += 1
        if n:
            with open(os.path.join(url, f"part-{pid:05d}.msgpack"), "wb") as f:
                f.write(bytes(out))
        yield pd.DataFrame({"rows": [n]})

    written = map_in_pandas(df, write_part, schema="rows long")
    total = written.agg(F.sum("rows")).first()[0]
    from intake_spark.documents import MessagePack

    out = MessagePack(url=url)
    out.metadata["rows_written"] = int(total or 0)
    return out


def to_flatgeobuf(
    df: DataFrame,
    url: str,
    columns: list[tuple[str, int]] | None = None,
    layer_name: str = "layer",
    max_bytes: int | None = 1 << 30,
) -> "object":
    """Canonical geometry rows (``geometry`` GeoJSON text + ``properties``
    JSON text — the shape every geo reader here emits) → one FlatGeobuf
    file, written with the package's own flatbuffers builder
    (:class:`intake_spark.geo.FBBuilder`; no flatbuffers runtime, no
    GDAL). Round-trips through :class:`intake_spark.geo.FlatGeobufReader`.

    Column schema is inferred from a bounded sample when not given
    (bool→Bool, int→Long, float→Double, str→String). Single-file vector
    artifacts are a driver-edge cost model like ``to_png``/``to_npy`` —
    features stream through ``toLocalIterator`` (one partition in driver
    memory at a time) with a ``max_bytes`` guard; datasets at scale
    belong in GeoParquet (``to_parquet`` on the same rows)."""
    import json as _json

    from intake_spark.geo import FGB_MAGIC, FlatGeobuf, fgb_feature, fgb_header

    _PY_COL = {bool: 2, int: 7, float: 10, str: 11}
    if columns is None:
        # full-corpus distributed inference (a bounded sample would
        # silently DROP keys that first appear later); conflicting types
        # resolve upward to String (11) = lossless JSON text
        def infer(batches):
            import json as _j

            import pandas as _pd

            seen: dict[str, int] = {}
            for pdf in batches:
                for p in pdf["properties"]:
                    for k, v in _j.loads(p or "{}").items():
                        if v is None:
                            continue
                        t = _PY_COL.get(type(v), 11)
                        seen[k] = max(seen.get(k, 0), t)
            yield _pd.DataFrame(
                {"k": list(seen), "t": list(seen.values())}
            )

        rows = (
            map_in_pandas(df.select("properties"), infer, "k string, t int")
            .groupBy("k")
            .agg(F.max("t").alias("t"))
            .collect()
        )
        columns = sorted((r["k"], int(r["t"])) for r in rows)

    # single evaluation: stream features to a temp side file while
    # counting, then stamp the header with the ACTUAL count. A separate
    # df.count() can disagree with the streamed rows on nondeterministic
    # frames (sample/limit/shuffle-ordering) and external FGB readers
    # trust the header count.
    import os as _os

    tmp = url + ".features.tmp"
    count = 0
    feat_bytes = 0
    try:
        with open(tmp, "wb") as tf:
            for row in df.select("geometry", "properties").toLocalIterator():
                doc = _json.loads(row["geometry"]) if row["geometry"] else None
                props = _json.loads(row["properties"] or "{}")
                feat = fgb_feature(doc, props, columns)
                feat_bytes += 4 + len(feat)
                if max_bytes is not None and feat_bytes > max_bytes:
                    raise ValueError(
                        f"to_flatgeobuf: output exceeds max_bytes={max_bytes}; "
                        "single-file FGB is a driver-edge artifact — write "
                        "GeoParquet for datasets of this size, or pass "
                        "max_bytes=None to override deliberately"
                    )
                tf.write(len(feat).to_bytes(4, "little"))
                tf.write(feat)
                count += 1
        header = fgb_header(columns, count, name=layer_name)
        if max_bytes is not None and 8 + 4 + len(header) + feat_bytes > max_bytes:
            raise ValueError(
                f"to_flatgeobuf: output exceeds max_bytes={max_bytes}"
            )
        with open(url, "wb") as f, open(tmp, "rb") as tf:
            f.write(FGB_MAGIC)
            f.write(len(header).to_bytes(4, "little"))
            f.write(header)
            while True:
                chunk = tf.read(1 << 20)
                if not chunk:
                    break
                f.write(chunk)
    finally:
        if _os.path.exists(tmp):
            _os.remove(tmp)
    out = FlatGeobuf(url=url)
    out.metadata["rows_written"] = int(count)
    return out


def to_geoparquet(
    df: DataFrame,
    url: str,
    geometry_col: str = "geometry",
    primary_name: str = "geometry",
) -> "object":
    """Canonical geometry rows → GeoParquet: WKB-encode the GeoJSON
    geometry column executor-side, write one parquet part per partition
    via pyarrow WITH the spec's ``geo`` footer metadata (version,
    primary_column, per-column encoding) — the piece a plain Spark
    parquet write cannot attach. Fully distributed: no driver data path;
    the ``geo`` footer is stamped into every part so any reader's
    first-footer peek (including :class:`intake_spark.geo.
    GeoParquetReader`) resolves the geometry column.

    Parity: reference GeoPandasToParquet (output.py) via
    geopandas.to_parquet; attribute columns stay native parquet columns
    with pushdown intact on the way back in."""
    import json as _json
    import os as _os

    clean_stale_parts(url, "part-", ".parquet")
    others = [c for c in df.columns if c != geometry_col]
    geo_meta = _json.dumps(
        {
            "version": "1.0.0",
            "primary_column": primary_name,
            "columns": {
                primary_name: {"encoding": "WKB", "geometry_types": []}
            },
        }
    )

    # one EXPLICIT arrow schema for every part: without it, a partition
    # whose batch happens to contain a null in an int column infers
    # float64 (NaN) while null-free partitions infer int64 — a directory
    # of conflicting parquet types that readers refuse to merge
    import pyarrow as _pa_drv
    from pyspark.sql import types as _T

    _pa_map = {
        _T.BooleanType: _pa_drv.bool_(),
        _T.ByteType: _pa_drv.int8(),
        _T.ShortType: _pa_drv.int16(),
        _T.IntegerType: _pa_drv.int32(),
        _T.LongType: _pa_drv.int64(),
        _T.FloatType: _pa_drv.float32(),
        _T.DoubleType: _pa_drv.float64(),
        _T.StringType: _pa_drv.string(),
        _T.BinaryType: _pa_drv.binary(),
        _T.DateType: _pa_drv.date32(),
    }
    spark_types = {f_.name: type(f_.dataType) for f_ in df.schema.fields}
    if all(spark_types.get(c) in _pa_map for c in others):
        part_schema = _pa_drv.schema(
            [(c, _pa_map[spark_types[c]]) for c in others]
            + [(primary_name, _pa_drv.binary())]
        )
    else:  # exotic column types: fall back to per-part inference
        part_schema = None

    def write_part(batches):
        import json as _j

        import pandas as _pd
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        from intake_spark.geo import geojson_to_wkb

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pdfs = []
        for pdf in batches:
            wkb = [
                geojson_to_wkb(_j.loads(g)) if g else None
                for g in pdf[geometry_col]
            ]
            out = pdf[others].copy()
            out[primary_name] = _pd.Series(wkb, dtype=object, index=out.index)
            pdfs.append(out)
        n = 0
        if pdfs:
            allp = _pd.concat(pdfs, ignore_index=True)
            n = len(allp)
            if n:
                table = _pa.Table.from_pandas(
                    allp, schema=part_schema, preserve_index=False
                )
                table = table.replace_schema_metadata(
                    {**(table.schema.metadata or {}), b"geo": geo_meta.encode()}
                )
                _pq.write_table(
                    table, _os.path.join(url, f"part-{pid:05d}.parquet")
                )
        yield _pd.DataFrame({"rows": [n]})

    written = map_in_pandas(df, write_part, schema="rows long")
    total = written.agg(F.sum("rows")).first()[0]
    from intake_spark.geo import GeoParquet

    out = GeoParquet(url=url)
    out.metadata["rows_written"] = int(total or 0)
    return out


_ICEBERG_TYPES = {
    "boolean": "boolean", "tinyint": "int", "smallint": "int", "int": "int",
    "bigint": "long", "float": "float", "double": "double", "string": "string",
    "binary": "binary", "date": "date", "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
}


def _iceberg_schema_fields(schema) -> list[dict]:
    """Spark schema → Iceberg v1 schema fields with stable field ids
    (1-based, declaration order — the id assignment pyiceberg/Java use
    for a fresh table)."""
    out = []
    for i, f in enumerate(schema.fields, start=1):
        simple = f.dataType.simpleString()
        it = _ICEBERG_TYPES.get(simple)
        if it is None and simple.startswith("decimal("):
            # Iceberg spells it "decimal(P, S)" with a space after the comma
            it = simple.replace(",", ", ")
        if it is None:
            raise ValueError(
                f"to_iceberg: unsupported column type {simple!r} for "
                f"{f.name!r} (project to primitive columns first)"
            )
        out.append(
            {"id": i, "name": f.name, "required": False, "type": it}
        )
    return out


_ICEBERG_DATAFILE = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition",
         "type": {"type": "record", "name": "r102", "fields": []},
         "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "block_size_in_bytes", "type": "long", "field-id": 105},
    ],
}

_ICEBERG_MANIFEST_ENTRY = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        {"name": "data_file", "type": _ICEBERG_DATAFILE, "field-id": 2},
    ],
}

_ICEBERG_MANIFEST_FILE = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "added_snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 503},
        {"name": "added_data_files_count", "type": ["null", "int"],
         "default": None, "field-id": 504},
        {"name": "existing_data_files_count", "type": ["null", "int"],
         "default": None, "field-id": 505},
        {"name": "deleted_data_files_count", "type": ["null", "int"],
         "default": None, "field-id": 506},
        {"name": "added_rows_count", "type": ["null", "long"],
         "default": None, "field-id": 512},
        {"name": "existing_rows_count", "type": ["null", "long"],
         "default": None, "field-id": 513},
        {"name": "deleted_rows_count", "type": ["null", "long"],
         "default": None, "field-id": 514},
    ],
}


_IPART_RE = None


def _parse_partition_spec(pcols: list, by_name: dict) -> list[dict]:
    """``partition_by`` entries -> uniform spec dicts. Accepted forms:
    bare column (identity), ``day|month|year|hour(col)`` (``days(col)``
    etc. also accepted), ``bucket(N, col)``, ``truncate(W, col)``.
    Returns [{name, transform, source, param, avro}] where ``name`` is
    the Iceberg-conventional spec field name (col, col_day, col_bucket,
    col_trunc) and ``avro`` the partition-tuple Avro type."""
    import re as _re

    global _IPART_RE
    if _IPART_RE is None:
        _IPART_RE = {
            "time": _re.compile(r"^(day|month|year|hour)s?\(\s*(\w+)\s*\)$"),
            "arg": _re.compile(r"^(bucket|truncate)\(\s*(\d+)\s*,\s*(\w+)\s*\)$"),
        }
    amap = {"string": "string", "int": "int", "long": "long",
            "date": {"type": "int", "logicalType": "date"}}
    _ID_OK = set(amap)
    _TIME_OK = {"day": {"date", "timestamp", "timestamptz"},
                "month": {"date", "timestamp", "timestamptz"},
                "year": {"date", "timestamp", "timestamptz"},
                "hour": {"timestamp", "timestamptz"}}
    _BUCKET_OK = {"int", "long", "string", "date", "timestamp", "timestamptz"}
    _TRUNC_OK = {"string", "int", "long"}

    def styp(col: str) -> str:
        if col not in by_name:
            raise ValueError(
                f"to_iceberg: partition source column {col!r} not in schema"
            )
        t = by_name[col]["type"]
        return t if isinstance(t, str) else "<nested>"

    out = []
    for raw in pcols:
        m = _IPART_RE["time"].fullmatch(raw)
        if m:
            tr, col = m.group(1), m.group(2)
            t = styp(col)
            if t not in _TIME_OK[tr]:
                raise ValueError(
                    f"to_iceberg: {tr}() needs a date/timestamp column, "
                    f"{col!r} is {t!r}"
                )
            out.append({"name": f"{col}_{tr}", "transform": tr,
                        "source": col, "param": None,
                        "avro": {"type": "int", "logicalType": "date"}
                        if tr == "day" else "int"})
            continue
        m = _IPART_RE["arg"].fullmatch(raw)
        if m:
            tr, param, col = m.group(1), int(m.group(2)), m.group(3)
            t = styp(col)
            if param <= 0:
                raise ValueError(f"to_iceberg: {tr} width/count must be > 0")
            if tr == "bucket":
                if t not in _BUCKET_OK:
                    raise ValueError(
                        f"to_iceberg: bucket() does not support {t!r}"
                    )
                out.append({"name": f"{col}_bucket", "transform": f"bucket[{param}]",
                            "source": col, "param": param, "avro": "int"})
            else:
                if t not in _TRUNC_OK:
                    raise ValueError(
                        f"to_iceberg: truncate() supports string/int/long, "
                        f"{col!r} is {t!r}"
                    )
                out.append({"name": f"{col}_trunc",
                            "transform": f"truncate[{param}]",
                            "source": col, "param": param, "avro": amap[t]})
            continue
        if "(" in raw:
            raise ValueError(
                f"to_iceberg: unknown partition transform {raw!r} "
                "(identity, day/month/year/hour(col), bucket(N, col), "
                "truncate(W, col))"
            )
        t = styp(raw)
        if t not in _ID_OK:
            raise ValueError(
                f"to_iceberg: partition column {raw!r} has type {t!r} "
                "(identity partitions support string/int/long/date)"
            )
        out.append({"name": raw, "transform": "identity", "source": raw,
                    "param": None, "avro": amap[t]})
    return out


def _ipart_expr(spark, spec: dict, itype: str):
    """Spark Column computing one partition-transform value (identity /
    day / month / year / hour / bucket[N] / truncate[W]) per Iceberg
    semantics: time transforms count units since epoch (UTC for
    instant timestamps, wall-clock for NTZ/date); truncate is floor-mod
    for ints, prefix for strings; bucket is the spec's murmur3 (the
    only Python-side hop — an Arrow-batched pandas_udf)."""
    from pyspark.sql import functions as F

    c = F.col(spec["source"])
    tr = spec["transform"]
    if tr == "identity":
        return c
    if tr in ("day", "month", "year", "hour"):
        if itype == "timestamptz":  # instant: UTC arithmetic via micros
            if tr == "hour":
                return F.floor(F.unix_micros(c) / F.lit(3_600_000_000)).cast("int")
            d = F.date_from_unix_date(
                F.floor(F.unix_micros(c) / F.lit(86_400_000_000)).cast("int")
            )
        else:  # date / NTZ: the wall-clock value IS the answer
            d = F.to_date(c)
            if tr == "hour":
                return (
                    F.datediff(d, F.lit("1970-01-01").cast("date")) * 24
                    + F.hour(c)
                ).cast("int")
        if tr == "day":
            return F.datediff(d, F.lit("1970-01-01").cast("date"))
        if tr == "month":
            return ((F.year(d) - 1970) * 12 + F.month(d) - 1).cast("int")
        return (F.year(d) - 1970).cast("int")
    if tr.startswith("truncate["):
        w = spec["param"]
        if itype == "string":
            return F.substring(c, 1, w)
        return (c - ((c % w + w) % w)).cast("long" if itype == "long" else "int")
    if tr.startswith("bucket["):
        import pandas as pd

        from intake_spark.utils import iceberg_bucket
        from pyspark.sql.functions import pandas_udf

        n, kind = spec["param"], itype
        # hash input normalized JVM-side: dates -> epoch days, instant
        # timestamps -> UTC epoch micros (unix_micros — a pandas_udf
        # would see session-LOCAL wall clock and hash wrong under any
        # non-UTC session), NTZ -> wall-clock micros. All three hash as
        # 8-byte LE longs per the spec, identical to their native rule.
        if itype == "timestamptz":
            c, kind = F.unix_micros(c), "long"
        elif itype == "timestamp":  # Iceberg 'timestamp' = NTZ
            from intake_spark.session import ntz_epoch_micros

            c, kind = ntz_epoch_micros(spec["source"]), "long"
        elif itype == "date":
            c = F.datediff(c, F.lit("1970-01-01").cast("date")).cast("long")
            kind = "long"

        def _bucket(s):
            return s.map(lambda v: iceberg_bucket(v, n, kind))

        # real type objects, not strings: `from __future__ import
        # annotations` stringifies inline hints and pandas_udf cannot
        # resolve 'pd.Series' against this module's globals
        _bucket.__annotations__ = {"s": pd.Series, "return": pd.Series}
        # _bucket calls intake_spark.utils on the executors
        ensure_py_deps(spark)
        return pandas_udf(_bucket, "int")(c)
    raise ValueError(f"unknown transform {tr!r}")


def _iceberg_manifest_schema(pspecs: list, by_name: dict) -> dict:
    """Manifest-entry Avro schema with a TYPED partition record for the
    table's partition fields (empty record when unpartitioned — the
    static _ICEBERG_MANIFEST_ENTRY shape). ``pspecs`` entries are either
    parsed spec dicts ({name, avro}) or bare identity column names."""
    import copy as _copy

    sch = _copy.deepcopy(_ICEBERG_MANIFEST_ENTRY)
    if pspecs:
        amap = {"string": "string", "int": "int", "long": "long",
                "date": {"type": "int", "logicalType": "date"}}
        norm = [
            p if isinstance(p, dict)
            else {"name": p, "avro": amap[by_name[p]["type"]]}
            for p in pspecs
        ]
        part = {
            "type": "record",
            "name": "r102",
            "fields": [
                {"name": p["name"], "type": ["null", p["avro"]],
                 "field-id": 1000 + i}
                for i, p in enumerate(norm)
            ],
        }
        for f in sch["fields"]:
            if f["name"] == "data_file":
                for df_f in f["type"]["fields"]:
                    if df_f["name"] == "partition":
                        df_f["type"] = part
    return sch


def to_iceberg(
    df: DataFrame,
    url: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> "dt.IcebergDataset":
    """Iceberg v1 table sink WITHOUT the iceberg-spark jar (the write
    twin of ``IcebergTableReader``): data files write as ordinary
    distributed parquet through ``lakehouse.stage_parquet``; the driver
    then writes one manifest (Avro, spec field-ids) and one manifest
    list, and commits the next ``vN.metadata.json`` put-if-absent
    through ``lakehouse.iceberg_commit``, which then updates
    ``version-hint.text``. The current table comes from
    ``lakehouse.iceberg_metadata`` (the reader's load), so a table
    without a hint is appended to, not replaced. A concurrent writer
    that claimed vN first keeps its file: this write's data files and
    manifests are deleted and ``ConcurrentWriteError`` raises.
    Primitive column types (same restriction as
    ``to_avro``); ``mode``: "overwrite" (new snapshot references only
    the new files — prior snapshots stay readable via ``snapshot_id=``
    time travel) or "append" (the new manifest list re-references the
    prior snapshot's manifests).

    ``partition_by`` accepts identity columns (string/int/long/date)
    and the spec's transforms: ``day(col)``/``month``/``year``/``hour``
    on date/timestamp columns, ``bucket(N, col)`` (spec murmur3 — the
    published Appendix B test vectors are pinned in tests), and
    ``truncate(W, col)``. All-identity specs write the migrated-table
    convention (partition columns dropped from the data files, filled
    back from the manifest tuples by readers); any spec containing a
    transform writes the standard-writer convention instead — data
    files keep every source column, the hive dirs hold the DERIVED
    transform values. Appends must keep the table's partitioning
    (names + transforms).

    Per-file ``record_count`` comes from the parquet footers (pyarrow,
    driver-side metadata reads — O(files), the bytes never move).
    Commit metadata is O(files) driver work, like ``to_delta``.
    """
    import json as _json
    import os
    import time as _time
    import uuid as _uuid

    from intake_spark import lakehouse
    from intake_spark.lakehouse import decode_avro_file

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite/append, got {mode!r}")
    fields = _iceberg_schema_fields(df.schema)
    root = url.rstrip("/")
    mdir = os.path.join(root, "metadata")

    prev_version, _path, prev_meta = lakehouse.iceberg_metadata(root)
    if prev_meta is not None:
        prev_fields = None
        if "schemas" in prev_meta:
            sid = prev_meta.get("current-schema-id", 0)
            for s in prev_meta["schemas"]:
                if s.get("schema-id") == sid:
                    prev_fields = s["fields"]
        else:
            prev_fields = prev_meta["schema"]["fields"]
        if mode == "append" and prev_fields is not None:
            if [(f["name"], f["type"]) for f in prev_fields] != [
                (f["name"], f["type"]) for f in fields
            ]:
                raise ValueError(
                    "append schema does not match the table schema"
                )
            fields = prev_fields  # keep the table's field ids

    by_name = {f["name"]: f for f in fields}
    pspecs = _parse_partition_spec(list(partition_by or []), by_name)
    pcols = [p["name"] for p in pspecs]
    has_transforms = any(p["transform"] != "identity" for p in pspecs)
    if prev_meta is not None and mode == "append":
        prev_specs = prev_meta.get("partition-specs") or []
        prev_spec = next(
            (
                sp
                for sp in prev_specs
                if sp.get("spec-id") == prev_meta.get("default-spec-id", 0)
            ),
            None,
        )
        prev_sig = [
            (f["name"], f.get("transform", "identity"))
            for f in (prev_spec or {}).get("fields", [])
        ]
        sig = [(p["name"], p["transform"]) for p in pspecs]
        if prev_sig != sig:
            raise ValueError(
                f"append partitioning {sig} does not match the table's "
                f"{prev_sig}"
            )

    # 1. distributed parquet write, moved under data/
    commit_uuid = _uuid.uuid4().hex
    if has_transforms:
        # transform partitioning (standard-writer convention): partition
        # by DERIVED columns so every source column stays in the data
        # files; identity entries in a transform spec get a derived copy
        # for the same reason. Spark drops only the derived dir columns,
        # whose __ipart__ prefix the move strips from the dir names.
        wdf = df
        for p in pspecs:
            wdf = wdf.withColumn(
                f"__ipart__{p['name']}",
                _ipart_expr(df.sparkSession, p, by_name[p["source"]]["type"]),
            )
        wcols = [f"__ipart__{p['name']}" for p in pspecs]
    else:
        # all-identity spec: hive layout with the source columns dropped
        # from the files (the migrated-table convention; the reader
        # fills them from the manifest tuples)
        wdf, wcols = df, pcols
    staged = lakehouse.stage_parquet(
        wdf, root, wcols, options, dest="data/",
        file_prefix=f"{commit_uuid[:8]}-", key_prefix="__ipart__",
    )
    def _ptuple(pvals: dict) -> dict:
        # hive dir strings -> typed Iceberg partition values
        import datetime as _dtm

        out_t = {}
        for p in pspecs:
            c = p["name"]
            v = pvals.get(c)
            tr = p["transform"]
            if v is None:
                out_t[c] = None
            elif tr != "identity" and not tr.startswith("truncate["):
                # day/month/year/hour/bucket values are plain ints
                out_t[c] = int(v)
            else:
                t = by_name[p["source"]]["type"]
                if t in ("int", "long"):
                    out_t[c] = int(v)
                elif t == "date":
                    out_t[c] = (
                        _dtm.date.fromisoformat(v) - _dtm.date(1970, 1, 1)
                    ).days
                else:
                    out_t[c] = v
        return out_t

    # 2. per-file record counts from the parquet footers
    import pyarrow.parquet as _pq

    snap_id = int(_uuid.uuid4().int % (1 << 62))
    now_ms = int(_time.time() * 1000)
    entries = []
    added_rows = 0
    for rel, pvals, size in staged.files:
        p = os.path.join(root, rel)
        n = _pq.ParquetFile(p).metadata.num_rows
        added_rows += n
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "data_file": {
                    "file_path": p,
                    "file_format": "PARQUET",
                    "partition": _ptuple(pvals),
                    "record_count": n,
                    "file_size_in_bytes": size,
                    "block_size_in_bytes": 1 << 26,
                },
            }
        )

    os.makedirs(mdir, exist_ok=True)
    man_schema = _iceberg_manifest_schema(pspecs, by_name)
    # schema history: prior schemas are RETAINED with their schema-ids so
    # old snapshots stay readable after a schema-changing overwrite (a
    # schemas list holding only the new schema would make time travel
    # silently read old files through the wrong schema). A matching
    # schema reuses its id (and field ids); a new one gets the next id
    # with field ids allocated past the table's historical maximum
    # (Iceberg never reuses a field id).
    prev_schemas: list[dict] = []
    if prev_meta is not None:
        prev_schemas = list(prev_meta.get("schemas") or [])
        if not prev_schemas and "schema" in prev_meta:
            s0 = dict(prev_meta["schema"])
            s0.setdefault("schema-id", 0)
            prev_schemas = [s0]
    sig = [(f["name"], f["type"]) for f in fields]
    match = next(
        (
            s
            for s in prev_schemas
            if [(f["name"], f["type"]) for f in s["fields"]] == sig
        ),
        None,
    )
    if match is not None:
        schema_id = match.get("schema-id", 0)
        fields = match["fields"]
        schemas = prev_schemas
    else:
        schema_id = (
            max((s.get("schema-id", 0) for s in prev_schemas), default=-1) + 1
        )
        if prev_schemas:
            base = max(
                f["id"] for s in prev_schemas for f in s["fields"]
            )
            fields = [dict(f, id=base + i) for i, f in enumerate(fields, 1)]
        schemas = None  # filled after schema_obj exists
    schema_obj = {"type": "struct", "schema-id": schema_id, "fields": fields}
    if schemas is None:
        schemas = prev_schemas + [schema_obj]
    # field ids may have been remapped by the schema-history logic above:
    # partition-spec source-ids must reference the FINAL ids
    by_name = {f["name"]: f for f in fields}
    written: list[str] = []  # manifests + manifest lists of this commit

    def write_manifest(path: str, entries: list) -> None:
        lakehouse.write_avro_records(path, man_schema, entries, meta={
            "schema": _json.dumps(schema_obj), "partition-spec": "[]",
            "format-version": "1", "content": "data",
        })
        written.append(path)

    def write_manifest_list(path: str, rows: list, snapshot_id) -> None:
        lakehouse.write_avro_records(path, _ICEBERG_MANIFEST_FILE, rows, meta={
            "format-version": "1", "snapshot-id": str(snapshot_id),
        })
        written.append(path)

    man_path = os.path.join(mdir, f"{commit_uuid}-m0.avro")
    write_manifest(man_path, entries)
    manifests = [
        {
            "manifest_path": man_path,
            "manifest_length": os.path.getsize(man_path),
            "partition_spec_id": 0,
            "added_snapshot_id": snap_id,
            "added_data_files_count": len(entries),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": added_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    if mode == "append" and prev_meta is not None:
        prev_snap_id = prev_meta.get("current-snapshot-id")
        prev_snap = next(
            (s for s in prev_meta.get("snapshots", [])
             if s["snapshot-id"] == prev_snap_id),
            None,
        )
        if prev_snap is not None:
            rebase = lakehouse.iceberg_rebase(root, prev_meta)
            # re-manifest the prior snapshot's live files as EXISTING
            # entries under the CURRENT root, instead of re-referencing
            # the old manifest files verbatim: verbatim references embed
            # the OLD location's absolute paths, which break the moment a
            # relocated table is appended to (the reader's rewrite only
            # matches the new location). Stats columns a foreign writer
            # recorded are dropped in the rewrite (documented: this
            # writer's v1 manifest schema carries counts+sizes only).
            old_entries = []
            old_rows = 0
            for mf in decode_avro_file(rebase(prev_snap["manifest-list"])):
                for e in decode_avro_file(rebase(mf["manifest_path"])):
                    if e.get("status") == 2:  # DELETED
                        continue
                    d = dict(e["data_file"])
                    d["file_path"] = rebase(d["file_path"])
                    d.setdefault("block_size_in_bytes", 1 << 26)
                    old_rows += int(d.get("record_count") or 0)
                    old_entries.append(
                        {
                            "status": 0,  # EXISTING
                            "snapshot_id": e.get("snapshot_id") or prev_snap_id,
                            "data_file": {
                                "file_path": d.get("file_path"),
                                "file_format": d.get("file_format", "PARQUET"),
                                "partition": d.get("partition") or {},
                                "record_count": d.get("record_count"),
                                "file_size_in_bytes": d.get("file_size_in_bytes"),
                                "block_size_in_bytes": d.get(
                                    "block_size_in_bytes", 1 << 26
                                ),
                            },
                        }
                    )
            if old_entries:
                man2 = os.path.join(mdir, f"{commit_uuid}-m1.avro")
                write_manifest(man2, old_entries)
                manifests.append(
                    {
                        "manifest_path": man2,
                        "manifest_length": os.path.getsize(man2),
                        "partition_spec_id": 0,
                        "added_snapshot_id": snap_id,
                        "added_data_files_count": 0,
                        "existing_data_files_count": len(old_entries),
                        "deleted_data_files_count": 0,
                        "added_rows_count": 0,
                        "existing_rows_count": old_rows,
                        "deleted_rows_count": 0,
                    }
                )
    ml_path = os.path.join(mdir, f"snap-{snap_id}-1-{commit_uuid}.avro")
    write_manifest_list(ml_path, manifests, snap_id)

    snapshots = []
    if prev_meta is not None:
        rebase = lakehouse.iceberg_rebase(root, prev_meta)
        for s in prev_meta.get("snapshots") or []:
            s = dict(s)
            mlp = lakehouse._norm_file_uri(s["manifest-list"])
            if rebase(mlp) != mlp:
                # the table was RELOCATED since this snapshot was written:
                # its manifest-list/manifest/data paths are absolute under
                # the old location, and this commit records location=root,
                # so the reader's location-prefix rewrite would no longer
                # reach them — rewrite the snapshot's metadata chain under
                # the new root (O(metadata), once per move; data files are
                # rebased in place, never copied)
                new_rows = []
                for k, mf in enumerate(decode_avro_file(rebase(mlp))):
                    entries = []
                    for e in decode_avro_file(rebase(mf["manifest_path"])):
                        d = e.get("data_file") or {}
                        entries.append(
                            {
                                "status": e.get("status", 1),
                                "snapshot_id": e.get("snapshot_id"),
                                "data_file": {
                                    "file_path": rebase(d.get("file_path", "")),
                                    "file_format": d.get("file_format", "PARQUET"),
                                    "partition": d.get("partition") or {},
                                    "record_count": int(d.get("record_count") or 0),
                                    "file_size_in_bytes": int(
                                        d.get("file_size_in_bytes") or 0
                                    ),
                                    "block_size_in_bytes": int(
                                        d.get("block_size_in_bytes") or (1 << 26)
                                    ),
                                },
                            }
                        )
                    new_mp = os.path.join(
                        mdir, f"{commit_uuid}-rb{s['snapshot-id']}-m{k}.avro"
                    )
                    write_manifest(new_mp, entries)
                    new_rows.append(
                        {
                            "manifest_path": new_mp,
                            "manifest_length": os.path.getsize(new_mp),
                            "partition_spec_id": 0,
                            "added_snapshot_id": mf.get("added_snapshot_id"),
                            "added_data_files_count": mf.get(
                                "added_data_files_count"
                            ),
                            "existing_data_files_count": mf.get(
                                "existing_data_files_count"
                            ),
                            "deleted_data_files_count": mf.get(
                                "deleted_data_files_count"
                            ),
                            "added_rows_count": mf.get("added_rows_count"),
                            "existing_rows_count": mf.get("existing_rows_count"),
                            "deleted_rows_count": mf.get("deleted_rows_count"),
                        }
                    )
                new_ml = os.path.join(
                    mdir, f"{commit_uuid}-rb{s['snapshot-id']}-list.avro"
                )
                write_manifest_list(new_ml, new_rows, s["snapshot-id"])
                s["manifest-list"] = new_ml
            snapshots.append(s)
    snapshots.append(
        {
            "snapshot-id": snap_id,
            "timestamp-ms": now_ms,
            "summary": {
                "operation": "append" if mode == "append" else "overwrite"
            },
            "manifest-list": ml_path,
            "schema-id": schema_id,
        }
    )
    meta = {
        "format-version": 1,
        "table-uuid": (prev_meta or {}).get("table-uuid") or str(_uuid.uuid4()),
        "location": root,
        "last-updated-ms": now_ms,
        "last-column-id": max(f["id"] for s in schemas for f in s["fields"]),
        "schema": schema_obj,
        "schemas": schemas,
        "current-schema-id": schema_id,
        "partition-spec": [
            {"name": p["name"], "transform": p["transform"],
             "source-id": by_name[p["source"]]["id"], "field-id": 1000 + i}
            for i, p in enumerate(pspecs)
        ],
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": p["name"], "transform": p["transform"],
                     "source-id": by_name[p["source"]]["id"],
                     "field-id": 1000 + i}
                    for i, p in enumerate(pspecs)
                ],
            }
        ],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(pcols),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        # name mapping: the parquet data files carry no Iceberg field-id
        # annotations (plain Spark write), so spec readers (pyiceberg,
        # Java) resolve columns through this mapping instead of failing
        # or returning nulls on id-less files
        "properties": {
            "schema.name-mapping.default": _json.dumps(
                [
                    {"field-id": f["id"], "names": [f["name"]]}
                    for f in fields
                ]
            )
        },
        "current-snapshot-id": snap_id,
        "snapshots": snapshots,
        "snapshot-log": [
            {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
            for s in snapshots
        ],
        "metadata-log": [],
    }
    version = prev_version + 1
    lakehouse.iceberg_commit(root, version, meta, staged, written)
    out = dt.IcebergDataset(url=root)
    out.metadata.update(
        {"snapshot_id": snap_id, "version": version, "n_files": len(staged.files)}
    )
    return out


def to_token_shards(
    df: DataFrame,
    url: str,
    target_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    shards_hint: int = 8,
    mode: str = "overwrite",
    order_by: "list[str] | None" = None,
) -> dict:
    """Write a finished corpus as TOKEN-BUDGETED shards: hive-partitioned
    parquet (``shard_id=N``) where each shard holds consecutive documents
    (ascending ``id_col``, or the ``order_by`` columns) totalling
    ~``target_tokens`` tokens, plus a ``_manifest.json`` of per-shard
    document/token counts — the standard final step of a training-data
    build (downstream loaders want equal-work shards and a manifest, not
    row-count-balanced files).

    A document is never split: it belongs to the shard where its
    EXCLUSIVE cumulative token count lands, so every shard except
    possibly the last spans at least ``target_tokens`` minus one
    document. Token counts come from ``tokens_col`` if given, else a
    whitespace count of ``text_col``.

    ``order_by`` (column NAMES present in ``df``, ascending, ``id_col``
    appended as the unique tie-break) makes the shard sequence a
    CURRICULUM: e.g. ``order_by=["difficulty"]`` puts the easiest
    ~target_tokens in shard 0 — pair with
    ``assembly.global_row_number`` when the order needs inspecting
    before the write.

    Scale: the global document order never runs through one task — the
    shard map is computed on a SKINNY (id, n_tokens) projection via
    ``assembly.global_prefix_sum`` (range partitions on the id, in-shard
    window sums, cross-shard offsets from a shards-sized aggregate; only
    the 2-column projection is checkpointed, never the text), joined
    back on the id, then ONE hive-partitioned write; the manifest
    aggregate is shards-sized. Deterministic under any input
    partitioning.
    """
    import json
    import os

    if target_tokens <= 0:
        raise ValueError("target_tokens must be positive")
    if mode not in ("overwrite", "error", "errorifexists"):
        # append would restart shard_id at 0 and merge new rows into the
        # existing shard directories (double-budget shards), then rewrite
        # the manifest to describe only the new batch — refuse it
        raise ValueError(
            f"to_token_shards mode={mode!r} not supported: shard ids and "
            "the manifest are computed per call, so 'append' would corrupt "
            "existing shard budgets; write to a new url instead"
        )
    if "shard_id" in df.columns:
        raise ValueError(
            "input already has a 'shard_id' column; rename it before "
            "to_token_shards (it is the hive partition key of the output)"
        )
    if "n_tokens" in df.columns and tokens_col != "n_tokens":
        raise ValueError(
            "input already has an 'n_tokens' column; pass "
            "tokens_col='n_tokens' to shard on it, or rename it (the "
            "output reserves 'n_tokens' for the per-document token count)"
        )
    if tokens_col is None:
        toks = F.size(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                lambda x: F.length(x) > 0,
            )
        ).cast("long")
    else:
        toks = F.col(tokens_col).cast("long")

    from intake_spark.llm.assembly import global_prefix_sum

    order_by = list(order_by or [])
    for c in order_by:
        if not isinstance(c, str):
            # a Column object would make `c not in df.columns` blow up
            # with PySpark's opaque "Cannot convert column into bool"
            raise ValueError(
                "order_by takes column NAMES (ascending); got "
                f"{type(c).__name__}"
            )
        if c not in df.columns:
            raise ValueError(
                f"order_by column {c!r} not in the input frame"
            )
    skinny = df.select(
        F.col(id_col).alias("_tts_id"),
        toks.alias("_tts_nt"),
        *[F.col(c).alias(f"_tts_o{i}") for i, c in enumerate(order_by)],
    )
    order_exprs = [
        F.asc(f"_tts_o{i}") for i in range(len(order_by))
    ] + [F.asc("_tts_id")]
    skinny = global_prefix_sum(
        skinny, "_tts_nt", order_exprs, shards_hint, out_col="_tts_cum"
    )
    # the shard map is id-keyed: a duplicated id would multiply rows
    # through the join below and silently inflate shard budgets — refuse
    # it loudly (one aggregate job over the already-pinned skinny frame;
    # duplicate ids also make the "consecutive ascending id" order
    # ill-defined in the first place)
    chk = skinny.agg(
        F.count(F.lit(1)).alias("_n"),
        F.countDistinct("_tts_id").alias("_d"),
        F.count(F.when(F.col("_tts_id").isNull(), F.lit(1))).alias("_nulls"),
    ).collect()[0]
    if int(chk["_nulls"]):
        # a NULL id has no position in the ascending-id order and would
        # silently vanish through the equi-join below
        raise ValueError(
            f"to_token_shards requires non-NULL {id_col!r} values: "
            f"{int(chk['_nulls'])} rows have NULL ids"
        )
    if int(chk["_n"]) != int(chk["_d"]):
        raise ValueError(
            f"to_token_shards requires unique {id_col!r} values: got "
            f"{int(chk['_n'])} rows but {int(chk['_d'])} distinct ids"
        )
    shard_map = skinny.select(
        "_tts_id",
        "_tts_nt",
        F.floor(
            (F.col("_tts_cum") - F.col("_tts_nt")) / F.lit(int(target_tokens))
        )
        .cast("int")
        .alias("shard_id"),
    )
    out = df.join(shard_map, df[id_col] == shard_map["_tts_id"], "inner").drop(
        "_tts_id"
    )
    if "n_tokens" in df.columns:
        out = out.drop("_tts_nt")  # tokens_col == 'n_tokens': already there
    else:
        out = out.withColumnRenamed("_tts_nt", "n_tokens")
    # one task (and so one file) per shard, rows in the shard order — the
    # layout shard loaders expect; each task holds ~target_tokens of
    # data. The sort leads with shard_id: the partitioned write REQUIRES
    # ordering by its partition column and would otherwise insert its own
    # shard_id-only SortExec, whose spill-merge interleaves equal-key rows
    # and silently destroys the order this sort promises
    out = out.repartition(F.col("shard_id")).sortWithinPartitions(
        F.asc("shard_id"),
        *[F.asc(c) for c in order_by],
        F.asc(id_col),
    )
    out.write.mode(mode).partitionBy("shard_id").parquet(url)
    # the manifest aggregates the pinned shard map (id, n_tokens,
    # shard_id), NOT `out` — re-aggregating `out` would re-run the fat
    # join + shuffle a second time and could desync from the written
    # files if the source frame changed between the two actions
    manifest_rows = (
        shard_map.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tts_nt").alias("n_tokens"),
        )
        .orderBy("shard_id")
        .collect()
    )
    manifest = {
        "target_tokens": int(target_tokens),
        "shards": [
            {
                "shard_id": int(r["shard_id"]),
                "n_docs": int(r["n_docs"]),
                "n_tokens": int(r["n_tokens"]),
            }
            for r in manifest_rows
        ],
    }
    with open(os.path.join(url, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
