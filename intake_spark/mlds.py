"""ML dataset formats: TFRecord (stdlib wire-format parser) and the
sklearn example datasets (import-gated).

Parity: TFRecordReader readers.py:905 (reference needs tensorflow),
SKLearnExampleReader readers.py:569. TFRecord framing and the tf.train
.Example protobuf are both simple fixed encodings, so records parse with
struct + a ~60-line protobuf wire-format walk — no tensorflow/protobuf
dependency, and the per-file parse runs distributed via binaryFile +
Arrow-batched mapInPandas.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import types as T

from intake_spark import datatypes as dt
from intake_spark.compress import crc32c, read_uvarint, uvarint
from intake_spark.readers import BaseReader


class TFRecord(dt.FileData):
    filepattern = r"tfrecords?$"
    structure = {"sequence", "nested"}


def _fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Walk protobuf wire format: yields (field_no, wire_type, payload)."""
    i = 0
    while i < len(buf):
        key, i = read_uvarint(buf, i)
        field, wt = key >> 3, key & 7
        if wt == 0:  # varint
            val, i = read_uvarint(buf, i)
            yield field, wt, val
        elif wt == 1:  # 64-bit
            yield field, wt, buf[i : i + 8]
            i += 8
        elif wt == 2:  # length-delimited
            ln, i = read_uvarint(buf, i)
            yield field, wt, buf[i : i + ln]
            i += ln
        elif wt == 5:  # 32-bit
            yield field, wt, buf[i : i + 4]
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")


def _to_signed_i64(v: int) -> int:
    # int64 varints are two's-complement (10-byte encoding when negative)
    return v - (1 << 64) if v >= (1 << 63) else v


def _parse_feature(buf: bytes) -> tuple[list[bytes], list[float], list[int]]:
    """tf.train.Feature: bytes_list=1 / float_list=2 / int64_list=3."""
    bvals: list[bytes] = []
    fvals: list[float] = []
    ivals: list[int] = []
    for field, wt, payload in _fields(buf):
        if field == 1:  # BytesList{repeated bytes value = 1}
            bvals.extend(p for f2, _, p in _fields(payload) if f2 == 1)
        elif field == 2:  # FloatList{repeated float value = 1 [packed]}
            for f2, wt2, p in _fields(payload):
                if f2 != 1:
                    continue
                if wt2 == 2:  # packed
                    fvals.extend(struct.unpack(f"<{len(p) // 4}f", p))
                else:
                    fvals.append(struct.unpack("<f", p)[0])
        elif field == 3:  # Int64List{repeated int64 value = 1 [packed]}
            for f2, wt2, p in _fields(payload):
                if f2 != 1:
                    continue
                if wt2 == 2:
                    i = 0
                    while i < len(p):
                        v, i = read_uvarint(p, i)
                        ivals.append(_to_signed_i64(v))
                else:
                    ivals.append(_to_signed_i64(p))
    return bvals, fvals, ivals


def _parse_example(buf: bytes) -> dict[str, tuple]:
    """tf.train.Example{Features features=1}; Features{map feature=1}."""
    out: dict[str, tuple] = {}
    for field, _, payload in _fields(buf):
        if field != 1:
            continue
        for f2, _, entry in _fields(payload):
            if f2 != 1:
                continue
            key, feat = "", b""
            for f3, _, p in _fields(entry):
                if f3 == 1:
                    key = p.decode("utf-8", errors="replace")
                elif f3 == 2:
                    feat = p
            out[key] = _parse_feature(feat)
    return out


def _tfrecord_frames_fh(fh) -> Iterator[bytes]:
    """TFRecord framing over an open file handle: u64 length + u32 crc +
    payload + u32 crc (crc32c masked; parsed by lengths, CRCs verified
    separately by :func:`tfrecord_verify_frames`). Reads one record at a
    time, so shard size never bounds memory."""
    while True:
        hdr = fh.read(12)
        if len(hdr) < 12:
            return
        (ln,) = struct.unpack("<Q", hdr[:8])
        payload = fh.read(ln)
        if len(payload) < ln:
            return
        fh.read(4)  # trailing payload crc
        yield payload


def _executor_local_path(path: str) -> str:
    """Spark file-listing URI → a path `open()` accepts on the executor.
    Local/shared-filesystem paths only; remote schemes raise a named gate
    (the streaming readers exist to sidestep binaryFile's 2 GB content
    cap, which matters exactly for the multi-GB shards where buffering
    the whole blob is also wrong)."""
    if path.startswith("file:"):
        return path.removeprefix("file:")
    if "://" in path:
        raise NotImplementedError(
            f"streaming shard read supports local/shared filesystems only; "
            f"got {path!r} (mount the store locally or re-shard under 2 GB "
            "and use a binaryFile-based reader)"
        )
    return path


_TFRECORD_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("record_idx", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("bytes_vals", T.ArrayType(T.BinaryType())),
        T.StructField("float_vals", T.ArrayType(T.DoubleType())),
        T.StructField("int64_vals", T.ArrayType(T.LongType())),
    ]
)


class TFRecordReader(BaseReader):
    """TFRecord of tf.train.Example → long-format typed rows
    (path, record_idx, key, bytes_vals, float_vals, int64_vals) — pivot to
    wide with groupBy(record_idx).pivot(key) downstream if wanted."""

    implements = {TFRecord}

    def _read(self, spark, glob: str = "*.tfrecord*", **kwargs):
        from intake_spark.session import ensure_py_deps

        ensure_py_deps(spark)
        files = (
            spark.read.format("binaryFile").load(self.data.url)
            if "*" in self.data.url
            else spark.read.format("binaryFile").option("pathGlobFilter", glob).load(self.data.url)
        )

        cols = ["path", "record_idx", "key", "bytes_vals", "float_vals", "int64_vals"]

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # path-manifest + executor-side streaming open, NOT binaryFile
            # content: binaryFile hard-fails past 2 GB (Int.MaxValue) and
            # buffers the whole shard; real WebDataset/TFRecord shards run
            # 1-5 GB. Rows flush every few thousand records so one shard
            # never has to fit in memory either.
            for pdf in batches:
                rows = []
                for path in pdf["path"]:
                    with open(_executor_local_path(path), "rb") as fh:
                        for idx, frame in enumerate(_tfrecord_frames_fh(fh)):
                            for key, (bv, fv, iv) in _parse_example(frame).items():
                                rows.append(
                                    {
                                        "path": path,
                                        "record_idx": idx,
                                        "key": key,
                                        "bytes_vals": bv,
                                        "float_vals": [float(x) for x in fv],
                                        "int64_vals": iv,
                                    }
                                )
                            if len(rows) >= 4096:
                                yield pd.DataFrame(rows, columns=cols)
                                rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

        return files.select("path").mapInPandas(parse, schema=_TFRECORD_SCHEMA)


class SKLearnExample(dt.BaseData):
    """Named sklearn example dataset (parity: datatypes side of
    SKLearnExampleReader readers.py:569)."""

    structure = {"table"}

    def __init__(self, name: str = "iris", metadata=None):
        super().__init__(metadata)
        self.name = name


class SKLearnExampleReader(BaseReader):
    """sklearn.datasets.load_<name>() → DataFrame — import-gated on
    scikit-learn (absent in this container)."""

    implements = {SKLearnExample}
    imports = {"sklearn"}
    lazy = False

    def _read(self, spark, **kwargs):
        import sklearn.datasets as skd

        bunch = getattr(skd, f"load_{self.data.name}")()
        pdf = pd.DataFrame(bunch.data, columns=list(bunch.feature_names))
        pdf["target"] = bunch.target
        return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# Torch / TensorFlow dataset catalogs (parity: TorchDatasetsCatalog /
# TensorFlowDatasetsCatalog, reference catalogs.py:581-665). Discovery is
# an importable-registry enumeration — injectable here (the same
# mock-tested/live-gated split as the HuggingFace hub catalog), because
# neither torch nor tensorflow_datasets ships in this container. READING a
# dataset needs the real library and raises a named gate; the catalog
# surface (discovery, entry metadata, rehydration) is live and tested.
# ---------------------------------------------------------------------------


class TorchDatasetSpec(dt.BaseData):
    """One named torchvision/torchaudio/torchtext example dataset."""

    structure = {"sequence"}

    def __init__(self, section: str = "vision", name: str = "", rootdir: str = "", metadata=None):
        super().__init__(metadata)
        self.section = section
        self.name = name
        self.rootdir = rootdir


class TorchDatasetReader(BaseReader):
    """torch<section>.datasets.<Name>(root=...) → rows via the library's
    iterator (import-gated: torch stacks are absent here). The catalog
    entry stays fully serializable without the import."""

    implements = {TorchDatasetSpec}
    imports = {"torch"}
    lazy = False

    def _read(self, spark, limit: int | None = None, **kwargs):
        import importlib

        mod = importlib.import_module(f"torch{self.data.section}")
        cls = getattr(mod.datasets, self.data.name)
        ds = cls(root=self.data.rootdir, **kwargs)
        rows = []
        for i, item in enumerate(ds):
            if limit is not None and i >= limit:
                break
            rows.append({"idx": i, "item": repr(item)})
        return spark.createDataFrame(rows)


def torch_datasets_catalog(rootdir: str, importer=None):
    """Enumerate the torchvision/torchaudio/torchtext example registries
    into a Catalog of ``TorchDatasetReader`` entries (first docstring line
    as the description, section recorded). ``importer(modname)`` is
    injectable so the listing mock-tests without torch; a section whose
    import raises ``ImportError`` is skipped like the reference, any other
    error propagates."""
    import importlib

    from intake_spark.catalog import Catalog

    importer = importer or importlib.import_module
    cat = Catalog(metadata={"rootdir": rootdir})
    for section in ("vision", "audio", "text"):
        try:
            mod = importer(f"torch{section}")
        except ImportError:
            continue
        for name in getattr(mod.datasets, "__all__", []):
            f = getattr(mod.datasets, name, None)
            meta = {"section": section}
            doc = getattr(f, "__doc__", None)
            if doc:
                meta["description"] = doc.split("\n", 1)[0]
            cat.add_entry(
                TorchDatasetReader(
                    data=TorchDatasetSpec(
                        section=section, name=name, rootdir=rootdir, metadata=meta
                    )
                ),
                name=name,
            )
    return cat


class TFPublicDatasetSpec(dt.BaseData):
    """One named tensorflow_datasets registry entry."""

    structure = {"sequence"}

    def __init__(self, name: str = "", metadata=None):
        super().__init__(metadata)
        self.name = name


class TFDSReader(BaseReader):
    """tfds.load(name) → rows (import-gated on tensorflow_datasets)."""

    implements = {TFPublicDatasetSpec}
    imports = {"tensorflow_datasets"}
    lazy = False

    def _read(self, spark, split: str = "train", limit: int | None = None, **kwargs):
        import tensorflow_datasets as tfds

        ds = tfds.load(self.data.name, split=split, **kwargs)
        rows = []
        for i, item in enumerate(tfds.as_numpy(ds)):
            if limit is not None and i >= limit:
                break
            rows.append({"idx": i, "item": repr(item)})
        return spark.createDataFrame(rows)


def tfds_catalog(lister=None):
    """The tensorflow_datasets public registry as a Catalog of
    ``TFDSReader`` entries. ``lister()`` (→ iterable of names) is
    injectable for the no-tensorflow mock test; the live path reads the
    community registry like the reference."""
    from intake_spark.catalog import Catalog

    if lister is None:
        def lister():
            from tensorflow_datasets.core import community

            return community.registry.registered._DATASET_REGISTRY

    cat = Catalog()
    for name in lister():
        cat.add_entry(TFDSReader(data=TFPublicDatasetSpec(name=name)), name=name)
    return cat


# ---------------------------------------------------------------------------
# TFRecord WRITE + CRC verification — the training-pipeline sink twin of
# TFRecordReader. CRC-32C is compress.crc32c; framing masks per the
# TFRecord spec: masked = ((crc >> 15) | (crc << 17)) + 0xa282ead8.
# ---------------------------------------------------------------------------


def _masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def _field(out: bytearray, field_no: int, payload: bytes) -> None:
    """One length-delimited protobuf field."""
    out += uvarint((field_no << 3) | 2) + uvarint(len(payload)) + payload


def _encode_feature(bvals, fvals, ivals) -> bytes:
    """Inverse of :func:`_parse_feature` (tf.train.Feature)."""
    body = bytearray()
    if bvals:
        lst = bytearray()
        for b in bvals:
            _field(lst, 1, bytes(b))
        _field(body, 1, bytes(lst))
    if fvals:
        lst = bytearray()
        _field(lst, 1, struct.pack(f"<{len(fvals)}f", *fvals))  # packed
        _field(body, 2, bytes(lst))
    if ivals:
        packed = bytearray()
        for v in ivals:
            packed += uvarint(v & 0xFFFFFFFFFFFFFFFF)
        lst = bytearray()
        _field(lst, 1, bytes(packed))
        _field(body, 3, bytes(lst))
    return bytes(body)


def _encode_example(features: dict) -> bytes:
    """Inverse of :func:`_parse_example`: {key: (bytes_vals, float_vals,
    int64_vals)} → serialized tf.train.Example."""
    feats = bytearray()
    for key in features:
        bv, fv, iv = features[key]
        entry = bytearray()
        _field(entry, 1, key.encode("utf-8"))
        _field(entry, 2, _encode_feature(bv, fv, iv))
        _field(feats, 1, bytes(entry))
    out = bytearray()
    _field(out, 1, bytes(feats))
    return bytes(out)


def _frame_record(payload: bytes) -> bytes:
    ln = struct.pack("<Q", len(payload))
    return (
        ln
        + struct.pack("<I", _masked_crc(ln))
        + payload
        + struct.pack("<I", _masked_crc(payload))
    )


def tfrecord_verify_frames(content: bytes) -> int:
    """Walk TFRecord framing VERIFYING both masked CRCs; returns the
    record count, raises ValueError on the first mismatch — including
    truncation ANYWHERE (a verifier that returns success on a file cut
    mid-frame is not a verifier)."""
    i = 0
    n = 0
    while i < len(content):
        if i + 12 > len(content):
            raise ValueError(
                f"TFRecord truncated at offset {i}: "
                f"{len(content) - i} trailing bytes, header needs 12"
            )
        ln_bytes = content[i : i + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (len_crc,) = struct.unpack("<I", content[i + 8 : i + 12])
        if _masked_crc(ln_bytes) != len_crc:
            raise ValueError(f"TFRecord length CRC mismatch at offset {i}")
        if i + 16 + ln > len(content):
            raise ValueError(
                f"TFRecord truncated at offset {i}: frame of {ln} payload "
                f"bytes overruns the file"
            )
        payload = content[i + 12 : i + 12 + ln]
        (data_crc,) = struct.unpack("<I", content[i + 12 + ln : i + 16 + ln])
        if _masked_crc(payload) != data_crc:
            raise ValueError(f"TFRecord data CRC mismatch at offset {i}")
        i += 16 + ln
        n += 1
    return n


def to_tfrecord(df, url: str) -> TFRecord:
    """DataFrame → directory of TFRecord part files of tf.train.Example,
    encoded DISTRIBUTED executor-side (one file per partition, spec
    framing with masked CRC-32C) — round-trips with TFRecordReader.
    Column → feature mapping by Spark type: binary → bytes_list, string
    → bytes_list (utf-8), float/double (+ arrays) → float_list,
    int/long/bool (+ arrays) → int64_list. The training-format sink the
    reference reads but cannot write (reference readers.py:905 is
    read-only via tensorflow)."""
    import os as _os

    from pyspark.sql import types as T_

    from intake_spark.session import ensure_py_deps

    from intake_spark.output import clean_stale_parts

    clean_stale_parts(url, "part-", ".tfrecord")
    ensure_py_deps(df.sparkSession)

    kinds = {}
    for f_ in df.schema.fields:
        t = f_.dataType
        elem = t.elementType if isinstance(t, T_.ArrayType) else t
        if isinstance(elem, T_.BinaryType):
            kinds[f_.name] = "b"
        elif isinstance(elem, T_.StringType):
            kinds[f_.name] = "s"
        elif isinstance(elem, (T_.FloatType, T_.DoubleType)):
            # DecimalType deliberately NOT mapped: float_list is 32-bit,
            # which silently destroys the precision decimals guarantee
            kinds[f_.name] = "f"
        elif isinstance(elem, (T_.BooleanType, T_.ByteType, T_.ShortType,
                               T_.IntegerType, T_.LongType)):
            kinds[f_.name] = "i"
        else:
            raise ValueError(
                f"column {f_.name}: {t.simpleString()} has no tf.train.Feature "
                "mapping (project to scalar/array of binary/string/float/int first)"
            )
    names = list(kinds)

    # integer columns travel as STRINGS through the Arrow→pandas hop: a
    # long column with any null in a batch becomes float64 in pandas
    # (pandas has no null int64 by default), silently rounding values
    # above 2^53 — int('9007199254740993') is exact where
    # int(9007199254740992.0) is corrupt. Bools go via long first
    # (int('true') would raise).
    from pyspark.sql import functions as F_

    proj = []
    for f_ in df.schema.fields:
        if kinds[f_.name] == "i":
            if isinstance(f_.dataType, T_.ArrayType):
                proj.append(
                    F_.col(f_.name)
                    .cast("array<long>")
                    .cast("array<string>")
                    .alias(f_.name)
                )
            else:
                proj.append(
                    F_.col(f_.name).cast("long").cast("string").alias(f_.name)
                )
        else:
            proj.append(F_.col(f_.name))
    df = df.select(*proj)

    def write_part(batches):
        import os

        import pandas as pd_
        from pyspark import TaskContext

        from intake_spark.mlds import _encode_example, _frame_record

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        n = 0
        f = None
        try:
            for pdf in batches:
                for rec in pdf[names].itertuples(index=False):
                    features = {}
                    for name, v in zip(names, rec):
                        kind = kinds[name]
                        vals = (
                            [] if v is None or (isinstance(v, float) and v != v)
                            else list(v) if isinstance(v, (list, tuple))
                            else v.tolist() if hasattr(v, "tolist") and getattr(v, "ndim", 0)
                            else [v]
                        )
                        # tf.train.Feature has no null element: reject it
                        # loudly (str(None) would write the literal b'None'
                        # into a bytes_list — silent corruption). NaN stays
                        # legal inside float lists.
                        if any(x is None for x in vals):
                            raise ValueError(
                                f"to_tfrecord: column {name!r} has a null "
                                "element inside an array value; filter or "
                                "impute before writing"
                            )
                        if kind == "b":
                            features[name] = ([bytes(x) for x in vals], [], [])
                        elif kind == "s":
                            features[name] = (
                                [str(x).encode("utf-8") for x in vals], [], [])
                        elif kind == "f":
                            features[name] = ([], [float(x) for x in vals], [])
                        else:
                            features[name] = ([], [], [int(x) for x in vals])
                    if f is None:
                        # lazy open + per-record write: a 10 GB partition
                        # must not buffer 10 GB before the first byte lands
                        f = open(os.path.join(url, f"part-{pid:05d}.tfrecord"), "wb")
                    f.write(_frame_record(_encode_example(features)))
                    n += 1
        finally:
            if f is not None:
                f.close()
        yield pd_.DataFrame({"rows": [n]})

    total = (
        df.mapInPandas(write_part, schema="rows long").agg(F_.sum("rows")).first()[0]
    )
    out_dt = TFRecord(url=url)
    out_dt.metadata["rows_written"] = int(total or 0)
    return out_dt


# ---------------------------------------------------------------------------
# WebDataset — tar shards of per-sample files (the standard multimodal
# training-data layout: sample key = basename up to the FIRST dot, the
# rest is the extension; a sample's files sit adjacent in the tar).
# Stdlib tarfile both ways; shards read and write one-per-task.
# ---------------------------------------------------------------------------


class WebDatasetShards(dt.FileData):
    """A directory (or glob) of WebDataset .tar shards."""

    filepattern = r"tar$"
    structure = {"sequence", "nested"}


_WDS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("ext", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("size", T.LongType()),
    ]
)


class WebDatasetReader(BaseReader):
    """WebDataset tar shards → (shard, key, ext, content, size) rows, one
    per member file; pivot by ext for wide samples
    (``groupBy('shard','key').pivot('ext')``). Shards parallelize
    one-per-task from a path manifest, each STREAMED member-by-member on
    the executor (binaryFile's whole-blob read caps at 2 GB and real
    shards run 1-5 GB) — the shard is the format's unit of parallelism by
    design, which is exactly Spark's; at 100 TB the shard count, not the
    file size, sets the task grid. No counterpart surface in the
    reference (its ML-format readers are TFRecord/HF/Torch,
    readers.py:905-1000) — part of the beyond-reference training-data
    layer."""

    implements = {WebDatasetShards}

    def _read(self, spark, glob: str = "*.tar", **kwargs):
        from intake_spark.session import ensure_py_deps

        ensure_py_deps(spark)
        files = (
            spark.read.format("binaryFile").load(self.data.url)
            if "*" in self.data.url
            else spark.read.format("binaryFile")
            .option("pathGlobFilter", glob)
            .load(self.data.url)
        )

        cols = ["shard", "key", "ext", "content", "size"]

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import tarfile

            # stream each shard from its path (see TFRecordReader.parse:
            # binaryFile caps content at 2 GB and buffers the whole shard;
            # tar members read one at a time bound memory per member)
            for pdf in batches:
                rows = []
                for path in pdf["path"]:
                    with tarfile.open(_executor_local_path(path), "r") as tf:
                        for m in tf:
                            if not m.isfile():
                                continue
                            # webdataset base_plus_ext: the key keeps the
                            # directory prefix ('train/0001' and 'val/0001'
                            # are DIFFERENT samples), only the basename
                            # splits at its first dot
                            d, _, base = m.name.rpartition("/")
                            stem, _, ext = base.partition(".")
                            key = f"{d}/{stem}" if d else stem
                            rows.append(
                                {
                                    "shard": path,
                                    "key": key,
                                    "ext": ext,
                                    "content": tf.extractfile(m).read(),
                                    "size": m.size,
                                }
                            )
                            if len(rows) >= 1024:
                                yield pd.DataFrame(rows, columns=cols)
                                rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

        return files.select("path").mapInPandas(parse, schema=_WDS_SCHEMA)


def to_webdataset(
    df,
    url: str,
    key_col: str = "key",
    ext_col: str = "ext",
    content_col: str = "content",
) -> WebDatasetShards:
    """(key, ext, content) rows → directory of WebDataset .tar shards,
    one per partition, written DISTRIBUTED executor-side. Rows are
    grouped by key within each shard (a sample's files must be adjacent
    in the tar — the format's contract); repartition by key first if a
    sample's rows may straddle partitions
    (``df.repartition(n, 'key')``). Round-trips with WebDatasetReader."""
    import os as _os

    from intake_spark.session import ensure_py_deps

    from intake_spark.output import clean_stale_parts

    clean_stale_parts(url, "shard-", ".tar")
    ensure_py_deps(df.sparkSession)

    def write_part(batches):
        import io
        import os
        import tarfile

        import pandas as pd_
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        samples = []  # (key, ext, bytes) collected, then grouped by key
        for pdf in batches:
            for k, e, c in zip(pdf[key_col], pdf[ext_col], pdf[content_col]):
                k = str(k)
                base = k.rsplit("/", 1)[-1]
                if "." in base:
                    # a dot in the key's basename would be re-split as part
                    # of the extension on read — the round trip silently
                    # merges distinct samples
                    raise ValueError(
                        f"webdataset key {k!r} contains '.' in its basename; "
                        "the first dot separates key from extension"
                    )
                e = str(e)
                if not e or "/" in e:
                    # 'k' + '.' + 'a/b' would tar as 'k.a/b' and re-split
                    # on read as key='k.a/b', ext='' — reject like dotted
                    # keys instead of mangling the sample identity
                    raise ValueError(
                        f"webdataset ext {e!r} for key {k!r} must be "
                        "non-empty and contain no '/'"
                    )
                samples.append((k, e, bytes(c)))
        if samples:
            samples.sort(key=lambda t: (t[0], t[1]))  # adjacency per key
            path = os.path.join(url, f"shard-{pid:05d}.tar")
            with tarfile.open(path, "w") as tf:
                for k, e, c in samples:
                    info = tarfile.TarInfo(name=f"{k}.{e}")
                    info.size = len(c)
                    info.mtime = 0  # deterministic bytes
                    tf.addfile(info, io.BytesIO(c))
        yield pd_.DataFrame({"rows": [len(samples)]})

    from pyspark.sql import functions as F_

    total = (
        df.select(key_col, ext_col, content_col)
        .mapInPandas(write_part, schema="rows long")
        .agg(F_.sum("rows"))
        .first()[0]
    )
    out_dt = WebDatasetShards(url=url)
    out_dt.metadata["rows_written"] = int(total or 0)
    return out_dt
