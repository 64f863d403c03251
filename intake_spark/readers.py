"""Readers: lazy prescriptions for loading a datatype into a DataFrame.

Parity with the reference's reader layer (intake/readers/readers.py:23-130):
a reader holds ``data`` + kwargs and does nothing until ``.read()``;
``discover()`` returns a sample (≡ reference SparkDataFrame.discover =
``.read().limit(10)``, readers.py:525-526). Where the reference dispatches
to ~164 backend readers, every reader here produces a **Spark DataFrame**
— format dispatch replaces backend dispatch (SURVEY §7 design stance).
"""

from __future__ import annotations

from typing import Any

from intake_spark import datatypes as dt
from intake_spark.pipeline import PipelineMixin
from intake_spark.session import get_session, local_frame, manifest_rows, map_in_pandas
from intake_spark.utils import Tokenizable, import_name, qname, subclasses


def binary_files(spark, url: str, glob: str | None = None, **options):
    """binaryFile rows (path, modificationTime, length, content) for a URL
    that is a glob, a single file or a directory: the engine's one
    binaryFile listing, behind every per-file reader.

    ``glob`` is a datatype's file glob (None: no filter); it narrows a
    directory listing through Spark's ``pathGlobFilter``, with its letters
    matched in either case (``*.kml`` lists ``PLACES.KML``, as the
    datatypes accept it). A URL that contains ``*`` is read as given,
    since the caller's pattern already names the files and the datatype
    may accept more extensions than its glob (``notes.markdown`` against
    ``*.md``). ``options`` are DataFrameReader options, applied as given;
    a caller's own ``pathGlobFilter`` among them narrows a wildcard URL
    too, case-sensitively. A URL that names an existing file is read
    whatever its name: neither filter applies."""
    import os

    if os.path.isfile(url):
        options.pop("pathGlobFilter", None)
    elif glob and "*" not in url:
        options.setdefault("pathGlobFilter", _either_case(glob))
    return spark.read.format("binaryFile").options(**options).load(url)


def _either_case(glob: str) -> str:
    """``glob`` with each ASCII letter outside a ``[...]`` class or an
    escape turned into a two-case class: ``*.{yaml,yml}`` becomes
    ``*.{[yY][aA][mM][lL],[yY][mM][lL]}``."""
    import re

    return re.sub(
        r"\\.|\[[^\]]*\]|[A-Za-z]",
        lambda m: m[0] if len(m[0]) > 1 else f"[{m[0].lower()}{m[0].upper()}]",
        glob,
    )


class BaseReader(PipelineMixin, Tokenizable):
    implements: set[type] = set()
    output_instance = "pyspark.sql:DataFrame"
    # extra python packages needed beyond pyspark (import-gated)
    imports: set[str] = set()
    # selection preference: lower wins; streaming/specialty readers set
    # higher values so auto-selection picks batch readers by default
    priority: int = 0
    # False = the reader parses the dataset driver-side (createDataFrame of
    # fully-materialized rows); inspect_dataset's max_bytes guard skips
    # these on large inputs (reference full-read tier guard, inspect.py:653)
    lazy: bool = True

    def __init__(self, data: dt.BaseData | None = None, **kwargs):
        self.data = data
        self.kwargs = kwargs

    @classmethod
    def check_importable(cls) -> bool:
        import importlib

        for mod in cls.imports:
            try:
                importlib.import_module(mod)
            except ImportError:
                return False
        return True

    def _spark(self, spark=None):
        return spark or get_session()

    def read(self, spark=None, **kwargs):
        """Build the lazy DataFrame (no action is triggered)."""
        return self._read(self._spark(spark), **{**self.kwargs, **kwargs})

    def _read(self, spark, **kwargs):  # pragma: no cover - abstract
        raise NotImplementedError

    def discover(self, spark=None):
        """Schema/sample discovery — ``limit(10)``, still lazy until shown."""
        return self.read(spark=spark).limit(10)

    # -- serialization ------------------------------------------------------

    def to_dict(self) -> dict:
        data = None
        if self.data is not None:
            data = {
                "cls": qname(self.data),
                "kwargs": {
                    k: v for k, v in self.data.__dict__.items() if not k.startswith("_")
                },
            }
        return {"cls": qname(self), "data": data, "kwargs": dict(self.kwargs)}

    @classmethod
    def from_dict(cls, d: dict) -> "BaseReader":
        return reader_from_dict(d)


def reader_from_dict(d: dict) -> BaseReader:
    rcls = import_name(d["cls"])
    data = None
    if d.get("data"):
        dcls = import_name(d["data"]["cls"])
        data = dcls.__new__(dcls)
        data.__dict__.update(d["data"]["kwargs"])
    return rcls(data=data, **d.get("kwargs", {}))


class FileReader(BaseReader):
    """Readers over FileData: url + storage_options → spark.read options."""

    spark_format: str | None = None

    def _options(self) -> dict:
        opts = dict(getattr(self.data, "storage_options", {}) or {})
        opts.update(self.kwargs)
        return opts

    def _read(self, spark, **kwargs):
        fmt = self.spark_format or type(self.data).spark_format
        if not fmt:
            raise ValueError(f"no spark format for {type(self.data).__name__}")
        opts = {**self._options(), **kwargs}
        return spark.read.format(fmt).options(**opts).load(self.data.url)


class SparkParquet(FileReader):
    """≡ reference SparkParquet (readers.py:536) — native columnar scan with
    predicate/column pushdown under Catalyst."""

    implements = {dt.Parquet}
    spark_format = "parquet"


class SparkCSV(FileReader):
    """≡ reference SparkCSV (readers.py:529); header+inferSchema default on
    like the pandas-family CSV readers the reference prefers."""

    implements = {dt.CSV}
    spark_format = "csv"

    def _read(self, spark, **kwargs):
        opts = {"header": "true", "inferSchema": "true", **self._options(), **kwargs}
        return spark.read.format("csv").options(**opts).load(self.data.url)


class SparkJSON(FileReader):
    """NDJSON + multiline JSON (≡ Dask/Polars/Duck JSON readers,
    readers.py:374-503)."""

    implements = {dt.JSONFile}
    spark_format = "json"


class SparkORC(FileReader):
    implements = {dt.ORC}
    spark_format = "orc"


class SparkAvro(FileReader):
    """Needs the spark-avro package on the classpath; import-gated at
    plan-build time with a clear error."""

    implements = {dt.AVRO}
    spark_format = "avro"


class SparkText(FileReader):
    """≡ reference SparkText (readers.py:543) — DataFrame[value: string]."""

    implements = {dt.Text}
    spark_format = "text"


class SparkXML(FileReader):
    implements = {dt.XML}
    spark_format = "xml"


class SparkDeltaLake(FileReader):
    """≡ reference SparkDeltaLake (readers.py:550); Delta gives partition
    pruning under Catalyst — subsumes the reference's DeltaQueryToDask
    file-pruning converter (convert.py:390-413)."""

    implements = {dt.DeltalakeTable}
    spark_format = "delta"


class SparkIceberg(FileReader):
    implements = {dt.IcebergDataset}
    spark_format = "iceberg"


class SparkBinary(FileReader):
    """binaryFile rows (path, modificationTime, length, content) — the
    ingestion layer for multimodal/opaque formats (SURVEY §2.1 media rows)."""

    implements = {dt.PNG, dt.JPEG, dt.GIF, dt.TIFF, dt.BMP, dt.WAV, dt.FLAC, dt.MP3, dt.OGG, dt.MP4, dt.AVI, dt.WebM, dt.WEBP, dt.PDF, dt.GGUF, dt.NumpyFile, dt.HDF5}
    spark_format = "binaryFile"

    def _read(self, spark, **kwargs):
        return binary_files(spark, self.data.url, **kwargs)


class AVIFrameReader(BaseReader):
    """AVI video → one row per sampled frame (frame_idx, fps, codec,
    frame_bytes) via the stdlib RIFF walk in llm/video.py; MJPG frame
    payloads decode with the package JPEG decoder (parity:
    DecordVideoReader/ImageIOVideoReader, reference readers.py:2208,3644 —
    both delegate to codec libraries; only the MJPEG codec is stdlib-
    decodable here, and other codecs raise at decode time, not ingest)."""

    implements = {dt.AVI}
    priority = 2

    def _read(self, spark, every_n: int = 30, **kwargs):
        from intake_spark.llm.video import sample_video_frames

        binary = binary_files(spark, self.data.url, "*.avi")
        return sample_video_frames(
            binary.select("path", "content"), every_n=every_n
        )


class SparkImage(FileReader):
    """Spark's image source: decodes into struct(origin,height,width,
    nChannels,mode,data) — the built-in decode path when JVM codecs apply."""

    implements = {dt.PNG, dt.JPEG}
    spark_format = "image"


class PandasExcel(BaseReader):
    """Excel is small-data: read driver-side with pandas, distribute via
    createDataFrame (≡ reference PandasExcel, readers.py:319)."""

    implements = {dt.Excel}
    imports = {"openpyxl"}

    def _read(self, spark, **kwargs):
        import pandas as pd

        pdf = pd.read_excel(self.data.url, **kwargs)
        return spark.createDataFrame(pdf)


class PandasFeather(BaseReader):
    """Arrow IPC/Feather via the Arrow bridge (no native Spark IPC reader;
    ≡ reference PandasFeather/PyArrowIPC, readers.py:305,1829)."""

    implements = {dt.Feather2}

    def _read(self, spark, **kwargs):
        import pandas as pd

        return spark.createDataFrame(pd.read_feather(self.data.url, **kwargs))


class SparkJDBC(BaseReader):
    """SQLQuery → partitioned JDBC read. ``partition_column`` ≡ the
    reference DaskSQL's required index_col (readers.py:392-394): without a
    split column the whole query lands on one executor.

    When the JDBC driver jar is absent and the URL is PostgreSQL-flavored,
    falls back to the stdlib PG v3 wire client
    (:class:`intake_spark.wire.PostgresWireClient` — SCRAM-SHA-256/MD5
    auth, simple-query protocol): a LIMIT-0 probe resolves the schema
    from pg_type oids, then either one driver-side query (bounded by
    ``max_rows``, guard naming the jar) or — with ``partition_column``
    + bounds — the SAME stride predicates Spark's JDBC source generates,
    each range fetched ON an executor via mapInPandas with its own
    connection. No TLS; sslmode=require deployments need the jar."""

    implements = {dt.SQLQuery}

    def _read(
        self,
        spark,
        partition_column: str | None = None,
        num_partitions: int = 8,
        lower_bound=None,
        upper_bound=None,
        max_rows: int = 100_000,
        **kwargs,
    ):
        if partition_column and (lower_bound is None or upper_bound is None):
            # str(None) would reach the JDBC source as the literal
            # 'None' and fail with a NumberFormatException at load()
            raise ValueError(
                "partition_column requires lower_bound and upper_bound "
                "(e.g. the column's MIN/MAX)"
            )
        try:
            reader = (
                spark.read.format("jdbc")
                .option("url", self.data.url)
                .option("query", self.data.query)
            )
            if partition_column:
                reader = (
                    reader.option("partitionColumn", partition_column)
                    .option("numPartitions", str(num_partitions))
                    .option("lowerBound", str(lower_bound))
                    .option("upperBound", str(upper_bound))
                )
            for k, v in {**self.data.options, **kwargs}.items():
                reader = reader.option(k, v)
            return reader.load()
        except Exception as exc:
            msg = str(exc)
            scheme = self.data.url.removeprefix("jdbc:").split("://", 1)[0]
            dialect = ("postgres" if "postgres" in scheme
                       else "mysql" if scheme in ("mysql", "mariadb")
                       else None)
            # fall back ONLY on connector-ABSENT signatures. A broad match
            # (e.g. any message containing "JDBC") would catch genuine
            # failures with the jar installed — auth errors, SQL errors,
            # sslmode=require — and silently retry them over a PLAINTEXT
            # socket, re-sending credentials unencrypted and masking the
            # real error.
            if dialect is None or not (
                "Failed to find" in msg or "DATA_SOURCE_NOT_FOUND" in msg
                or "ClassNotFound" in msg or "No suitable driver" in msg
            ):
                raise
        unsupported = {**self.data.options, **kwargs}
        if unsupported:
            raise ValueError(
                f"SparkJDBC {dialect} wire fallback cannot honor JDBC "
                f"options {sorted(unsupported)}; install the JDBC driver "
                f"jar (silently dropping them would change query "
                f"semantics)"
            )
        return self._read_db_wire(
            spark, dialect, partition_column, num_partitions, lower_bound,
            upper_bound, max_rows,
        )

    # -- stdlib PostgreSQL fallback ------------------------------------

    def _pg_predicates(self, column, lower, upper, n):
        """Spark JDBC's stride partitioning (JDBCRelation.columnPartition
        semantics): first range open below + IS NULL, last open above."""
        lower, upper = int(lower), int(upper)
        n = max(1, min(n, max(1, upper - lower)))
        stride = (upper - lower) // n
        preds, lo = [], lower
        for i in range(n):
            hi = lo + stride
            if i == 0 and n > 1:
                preds.append(f"{column} < {hi} OR {column} IS NULL")
            elif i == 0:
                preds.append("1=1")  # single partition: everything
            elif i == n - 1:
                preds.append(f"{column} >= {lo}")
            else:
                preds.append(f"{column} >= {lo} AND {column} < {hi}")
            lo = hi
        return preds

    def _read_db_wire(self, spark, dialect, partition_column,
                      num_partitions, lower_bound, upper_bound, max_rows):
        from intake_spark.wire import MySQLWireClient, PostgresWireClient

        cli_cls = (PostgresWireClient if dialect == "postgres"
                   else MySQLWireClient)
        url, query = self.data.url, self.data.query
        probe = cli_cls.from_url(url)
        try:
            cols, _ = probe.query(
                f"SELECT * FROM ({query}) AS sparkq WHERE 1=0"
            )
            # unpartitioned: reuse the probe connection for the data
            # query — a second connect would pay the SCRAM PBKDF2
            # handshake twice for nothing
            rows = None
            if not partition_column:
                _, rows = probe.query(
                    f"SELECT * FROM ({query}) AS sparkq LIMIT {max_rows + 1}"
                )
        finally:
            probe.close()
        schema = ", ".join(
            f"`{col[0]}` {cli_cls.spark_type(col)}" for col in cols
        )
        names = [col[0] for col in cols]

        if not partition_column:
            if len(rows) > max_rows:
                raise ValueError(
                    f"SparkJDBC {dialect} wire path: result exceeds "
                    f"max_rows={max_rows}; pass partition_column/"
                    f"lower_bound/upper_bound for a distributed read, or "
                    f"install the JDBC driver jar"
                )
            return local_frame(
                spark, [tuple(r) for r in rows], schema
            )

        # distributed: one range predicate per task, executed on executors
        preds = self._pg_predicates(
            partition_column, lower_bound, upper_bound, num_partitions
        )

        cli_name = cli_cls.__name__  # ship a string, not the class

        def fetch_ranges(frames):
            import pandas as pd

            from intake_spark import wire as _wire

            _Cli = getattr(_wire, cli_name)
            for pdf in frames:
                for (pred,) in pdf.itertuples(index=False):
                    cli = _Cli.from_url(url)
                    try:
                        _, rows = cli.query(
                            f"SELECT * FROM ({query}) AS sparkq "
                            f"WHERE {pred}"
                        )
                    finally:
                        cli.close()
                    yield pd.DataFrame(
                        dict(zip(names, zip(*rows)))
                        if rows else {n: [] for n in names},
                        columns=names,
                    )

        tasks = local_frame(
            spark, [(p,) for p in preds], "pred string"
        ).repartition(len(preds))
        return map_in_pandas(tasks, fetch_ranges, schema)


class SparkKafkaBatch(BaseReader):
    """Batch peek at a Kafka topic (≡ reference KafkaReader's poll-N,
    readers.py:3192-3235) — bounded offsets read; streaming variant lives in
    intake_spark.streaming.

    When the Spark Kafka connector jar is absent, falls back to the
    stdlib wire client (:mod:`intake_spark.wire`): Metadata + ListOffsets
    run driver-side (partition-count-sized), then the Fetch loops run ON
    EXECUTORS via mapInPandas — one socket per task against each
    partition's leader, the same per-partition parallelism the connector
    uses, with the connector's exact output schema. PLAINTEXT only;
    SASL/TLS needs the connector."""

    implements = {dt.KafkaTopic}

    def _read(self, spark, starting_offsets="earliest",
              ending_offsets="latest", **kwargs):
        try:
            return (
                spark.read.format("kafka")
                .option("kafka.bootstrap.servers", self.data.url)
                .option("subscribe", self.data.topic)
                .option("startingOffsets", starting_offsets)
                .option("endingOffsets", ending_offsets)
                .options(**kwargs)
                .load()
            )
        except Exception as exc:
            msg = str(exc)
            if not ("Failed to find" in msg or "DATA_SOURCE_NOT_FOUND" in msg
                    or "ClassNotFound" in msg):
                raise
        return self._read_wire(spark, starting_offsets, ending_offsets,
                               **kwargs)

    def _read_wire(self, spark, starting_offsets, ending_offsets,
                   max_bytes_per_fetch: int = 1 << 20, **kwargs):
        from intake_spark.kafka_source import register_kafka_wire

        register_kafka_wire(spark)
        return (
            spark.read.format("kafka_wire")
            .option("kafka.bootstrap.servers", self.data.url)
            .option("subscribe", self.data.topic)
            .option("startingOffsets", starting_offsets)
            .option("endingOffsets", ending_offsets)
            .option("maxBytesPerFetch", str(max_bytes_per_fetch))
            # forwarded so the source can REJECT connector-only options
            # (failOnDataLoss, kafka.security.*) instead of this wrapper
            # silently dropping them
            .options(**kwargs)
            .load()
        )


class LiteralReader(BaseReader):
    """Literal rows → createDataFrame (≡ reference Literal handling,
    datatypes.py:923)."""

    implements = {dt.Literal}

    def _read(self, spark, **kwargs):
        return spark.createDataFrame(self.data.data, **kwargs)


class PatternCSV(BaseReader):
    """CSV over a ``{field}`` path pattern: glob-read + materialize the
    pattern captures as columns from ``input_file_name()``
    (≡ reference DaskCSVPattern, readers.py:1067-1094, Spark-first:
    one jobless glob scan, regexp_extract per capture)."""

    implements = {dt.CSV}

    def _read(self, spark, **kwargs):
        from pyspark.sql import functions as F

        from intake_spark.utils import pattern_capture_regex, pattern_to_glob

        pattern = self.data.url
        glob_url = pattern_to_glob(pattern)
        df = (
            spark.read.format("csv")
            .options(header="true", inferSchema="true", **kwargs)
            .load(glob_url)
        ).withColumn("_path", F.input_file_name())
        names, rx = pattern_capture_regex(pattern)
        for i, name in enumerate(names):
            df = df.withColumn(name, F.regexp_extract("_path", rx, i + 1))
        return df.drop("_path")


class ZarrReader(BaseReader):
    """Zarr v2 array → chunk-row DataFrame (arrays.CHUNK_SCHEMA), **no zarr
    package needed**: the format is JSON metadata (``.zarray``) plus raw
    binary chunk files, so the manifest is parsed driver-side with stdlib
    json and chunks decode on executors with numpy inside mapInPandas
    (parity: NumpyZarr/DaskZarr, reference readers.py:413-428).

    The chunk grid maps onto the engine's leading-axis chunk-row model: each
    output row is one leading-axis block, stitched in the decode task from
    every zarr chunk covering it (C-order concatenation along trailing
    axes), edge chunks trimmed, missing chunks filled with ``fill_value``.
    Supported: order='C', compressor null/zlib/gzip/blosc (the blosc
    codecs of ``compress.BLOSC_CODES``; any other is rejected by name).
    """

    implements = {dt.Zarr}

    def _read(self, spark, **kwargs):
        import itertools
        import json as _json
        import os as _os

        from intake_spark.arrays import CHUNK_SCHEMA, cut_axis0
        from intake_spark.compress import blosc_code

        root = self.data.url.rstrip("/")
        if _os.path.exists(f"{root}/zarr.json"):
            # zarr v3: single JSON doc, named dtypes, codec pipeline,
            # "c/"-prefixed chunk keys (spec: zarr v3 core)
            import numpy as _np

            with open(f"{root}/zarr.json") as f:
                meta = _json.load(f)
            if meta.get("zarr_format") != 3 or meta.get("node_type") != "array":
                raise ValueError("zarr.json is not a v3 array node")
            shape = list(meta["shape"])
            grid_cfg = meta.get("chunk_grid", {})
            if grid_cfg.get("name") != "regular":
                raise ValueError("only regular chunk grids supported")
            chunks = list(grid_cfg["configuration"]["chunk_shape"])
            def _chain(codec_list, allow_shard):
                ce, cc, sh, tr = "<", None, None, None
                for codec in codec_list:
                    cname = codec.get("name")
                    if cname == "transpose":
                        tr = list(
                            (codec.get("configuration") or {})["order"]
                        )
                    elif cname == "bytes":
                        if (codec.get("configuration") or {}).get(
                            "endian"
                        ) == "big":
                            ce = ">"
                    elif cname == "gzip":
                        cc = "gzip"
                    elif cname == "blosc":
                        bcfg = codec.get("configuration") or {}
                        blosc_code(bcfg.get("cname", "lz4"))  # raises if not decodable
                        if bcfg.get("shuffle") == "bitshuffle":
                            raise ValueError(
                                "blosc bit-shuffle needs the bitshuffle "
                                "kernel"
                            )
                        cc = "blosc"
                    elif cname == "sharding_indexed" and allow_shard:
                        sh = codec.get("configuration") or {}
                    else:
                        raise ValueError(
                            f"zarr v3 codec {cname!r} not supported "
                            "(bytes/gzip/blosc/sharding_indexed natively; "
                            "zstd needs numcodecs)"
                        )
                return ce, cc, sh, tr

            endian, comp, shard_cfg, transpose = _chain(
                meta.get("codecs", []), True
            )
            if shard_cfg is not None and (transpose is not None or comp):
                # an outer transpose/compressor around sharding_indexed
                # changes what the shard bytes MEAN; silently ignoring
                # either would return wrong data, so refuse loudly
                raise ValueError(
                    "zarr v3: transpose or a compressor combined with "
                    "sharding_indexed in the outer codec chain is not "
                    "supported — put them in the shard's inner chain"
                )
            inner_chunks = None
            inner_comp = None
            idx_dt = "<u8"
            idx_crc = False
            idx_loc = "end"
            if shard_cfg is not None:
                # sharding_indexed (zarr v3 sharding codec spec): each
                # chunk-grid file is a SHARD of inner chunks plus an
                # index of (offset, nbytes) uint64 pairs in C order,
                # optionally crc32c-protected; missing inner chunks are
                # flagged with offset == 2^64 - 1
                inner_chunks = list(shard_cfg["chunk_shape"])
                if len(inner_chunks) != len(chunks) or any(
                    c % ic for c, ic in zip(chunks, inner_chunks)
                ):
                    raise ValueError(
                        f"shard inner chunk shape {inner_chunks} does not "
                        f"divide the shard shape {chunks}"
                    )
                endian, inner_comp, nested, transpose = _chain(
                    shard_cfg.get("codecs", []), False
                )
                del nested
                ie = "<"
                for codec in shard_cfg.get("index_codecs", []):
                    cname = codec.get("name")
                    if cname == "bytes":
                        if (codec.get("configuration") or {}).get(
                            "endian"
                        ) == "big":
                            ie = ">"
                    elif cname == "crc32c":
                        idx_crc = True
                    else:
                        raise ValueError(
                            f"shard index codec {cname!r} not supported"
                        )
                idx_dt = ie + "u8"
                idx_loc = shard_cfg.get("index_location", "end")
                if idx_loc not in ("start", "end"):
                    raise ValueError(f"shard index_location {idx_loc!r}")
            dtype = _np.dtype(meta["data_type"]).newbyteorder(endian).str
            fill = meta.get("fill_value")
            if isinstance(fill, str):  # v3 JSON spells specials as strings
                fill = {"NaN": float("nan"), "Infinity": float("inf"),
                        "-Infinity": float("-inf")}.get(fill, 0)
            if fill is None:
                fill = 0
            key_cfg = meta.get("chunk_key_encoding", {"name": "default"})
            cfg_sep = (key_cfg.get("configuration") or {}).get("separator")
            if key_cfg.get("name") == "default":
                sep = cfg_sep or "/"  # v3 spec: 'default' encoding defaults to '/'
                prefix = "c" + sep
            elif key_cfg.get("name") == "v2":
                sep = cfg_sep or "."  # v3 spec: 'v2' encoding defaults to '.'
                prefix = ""
            else:
                raise ValueError(f"unknown chunk key encoding {key_cfg.get('name')!r}")
            v2_filters = []
        else:
            with open(f"{root}/.zarray") as f:
                meta = _json.load(f)
            if meta.get("zarr_format") != 2:
                raise ValueError(f"only zarr v2/v3 supported, got {meta.get('zarr_format')}")
            if meta.get("order", "C") != "C":
                raise ValueError("fortran-order zarr not supported")
            comp = (meta.get("compressor") or {}).get("id") if meta.get("compressor") else None
            if comp == "blosc":
                cfg = meta.get("compressor") or {}
                blosc_code(cfg.get("cname", "lz4"))  # raises if not decodable
                if cfg.get("shuffle") == 2:
                    raise ValueError("blosc bit-shuffle needs the bitshuffle kernel")
            elif comp not in (None, "zlib", "gzip"):
                raise ValueError(
                    f"compressor {comp!r} needs numcodecs; supported: "
                    "null/zlib/gzip/blosc"
                )
            v2_filters = meta.get("filters") or []
            for flt in v2_filters:
                if (flt or {}).get("id") not in _V2_FILTERS:
                    raise ValueError(
                        f"zarr v2 filter {(flt or {}).get('id')!r} not "
                        f"supported ({'/'.join(sorted(_V2_FILTERS))} "
                        "decode natively)"
                    )
            shape = list(meta["shape"])
            chunks = list(meta["chunks"])
            dtype = meta["dtype"]
            fill = meta.get("fill_value")
            if fill is None:
                fill = 0
            sep = meta.get("dimension_separator", ".")
            prefix = ""
            inner_chunks = inner_comp = transpose = None
            idx_dt, idx_crc, idx_loc = "<u8", False, "end"
        if not shape:
            # 0-d (scalar) arrays are legal zarr; the chunk-row model is
            # rank >= 1 — name the gate instead of IndexError on grid[0]
            raise ValueError(
                "0-dimensional (scalar) zarr arrays are not supported by the "
                "chunk-row model; reshape to rank 1 on write"
            )
        grid = [-(-s // c) for s, c in zip(shape, chunks)]  # ceil-div per dim
        trailing_grid = [range(g) for g in grid[1:]]

        manifest = []
        for i0 in range(grid[0]):
            names = [
                prefix + sep.join(str(i) for i in (i0, *rest))
                for rest in itertools.product(*trailing_grid)
            ]
            manifest.append((i0, names))

        def decode(r, _fh):
            import zlib

            import numpy as np

            def _unt(flat, inner=False):
                # zarr v3 'transpose' codec: stored bytes are the array
                # laid out in the permuted axis order — reshape to the
                # permuted shape and invert the permutation
                shp = inner_chunks if inner else chunks
                if transpose is None:
                    return flat.reshape(shp)
                perm_shape = [shp[a] for a in transpose]
                inv = np.argsort(np.asarray(transpose))
                return flat.reshape(perm_shape).transpose(inv)

            def _read_shard(blob: bytes):
                # sharding_indexed: trailing/leading index of
                # (offset, nbytes) uint64 pairs over the inner-chunk
                # grid in C order; offsets are absolute in the shard
                inner_grid = [c // ic for c, ic in zip(chunks, inner_chunks)]
                n_inner = 1
                for g in inner_grid:
                    n_inner *= g
                isize = n_inner * 16 + (4 if idx_crc else 0)
                if len(blob) < isize:
                    raise ValueError("zarr shard smaller than its index")
                idx = blob[-isize:] if idx_loc == "end" else blob[:isize]
                body = idx[: n_inner * 16]
                if idx_crc:
                    from intake_spark.compress import crc32c

                    want = int.from_bytes(idx[n_inner * 16 :], "little")
                    if crc32c(body) != want:
                        raise ValueError(
                            "zarr shard index crc32c mismatch — refusing "
                            "to decode a corrupt shard"
                        )
                pairs = np.frombuffer(body, dtype=idx_dt).reshape(-1, 2)
                shard = np.full(chunks, fill, dtype=np.dtype(dtype))
                for k in range(n_inner):
                    off, nb = int(pairs[k, 0]), int(pairs[k, 1])
                    if off == 2**64 - 1:
                        continue  # missing inner chunk -> fill value
                    raw = blob[off : off + nb]
                    if inner_comp == "gzip":
                        raw = zlib.decompress(raw, 47)
                    elif inner_comp == "blosc":
                        from intake_spark.compress import blosc_decompress

                        raw = blosc_decompress(raw)
                    ich = _unt(
                        np.frombuffer(raw, dtype=np.dtype(dtype)),
                        inner=True,
                    )
                    coords = np.unravel_index(k, inner_grid)
                    sl = tuple(
                        slice(c * ic, c * ic + ic)
                        for c, ic in zip(coords, inner_chunks)
                    )
                    shard[sl] = ich
                return shard

            i0 = r.chunk_id
            parts = {}
            for name in r.chunk_files:
                key = name[len(prefix):] if prefix else name
                coords = tuple(int(x) for x in key.split(sep))
                path = f"{root}/{name}"
                if _os.path.exists(path) and inner_chunks is not None:
                    with open(path, "rb") as f:
                        blob = f.read()
                    arr = _read_shard(blob)
                elif _os.path.exists(path):
                    with open(path, "rb") as f:
                        raw = f.read()
                    if comp in ("zlib", "gzip"):
                        raw = zlib.decompress(raw, 47)  # auto-detect zlib/gzip
                    elif comp == "blosc":
                        from intake_spark.compress import blosc_decompress

                        raw = blosc_decompress(raw)
                    if v2_filters:
                        flat_ = decode_zarr_v2_filters(
                            raw, v2_filters, dtype
                        )
                    else:
                        flat_ = np.frombuffer(
                            raw, dtype=np.dtype(dtype)
                        )
                    arr = _unt(flat_)
                else:
                    arr = np.full(chunks, fill, dtype=np.dtype(dtype))
                # trim edge chunks to the valid extent in every dim
                slices = tuple(
                    slice(0, min(c, s - ci * c))
                    for ci, c, s in zip(coords, chunks, shape)
                )
                parts[coords[1:]] = arr[slices]
            # stitch trailing axes in C order: concatenate innermost first
            def stitch(axis: int, prefix: tuple) -> "np.ndarray":
                if axis > len(shape) - 1:
                    return parts[prefix]
                blocks = [
                    stitch(axis + 1, (*prefix, i)) for i in range(grid[axis])
                ]
                return np.concatenate(blocks, axis=axis)

            block = parts[()] if len(shape) == 1 else stitch(1, ())
            yield cut_axis0(block, shape, i0 * chunks[0], i0)

        return manifest_rows(
            spark, manifest, "chunk_id long, chunk_files array<string>", CHUNK_SCHEMA, decode
        )


_V2_FILTERS = {"delta", "shuffle", "fixedscaleoffset", "astype", "quantize"}


def decode_zarr_v2_filters(raw: bytes, filters: list, arr_dtype) -> "object":
    """Invert a zarr v2 (numcodecs) filter chain on one decompressed
    chunk: filters apply first-to-last on encode, so decode walks them
    LAST to first, passing byte buffers between stages exactly like
    numcodecs (each decode views the buffer as the filter's ``astype``
    wire type and emits its ``dtype``):

    - ``delta``: cumsum accumulated in ``dtype`` (first value verbatim);
    - ``shuffle``: inverse byte-plane shuffle at ``elementsize``;
    - ``fixedscaleoffset``: x = enc / scale + offset;
    - ``astype``: view ``encode_dtype`` -> cast ``decode_dtype``;
    - ``quantize``: precision was dropped at encode; decode is the cast.

    Pure function (unit-testable without Spark); runs inside the
    ZarrReader executor decode."""
    import numpy as np

    data = raw
    for f in reversed(list(filters)):
        f = f or {}
        fid = f.get("id")
        if fid == "shuffle":
            es = int(f.get("elementsize", 4))
            b = np.frombuffer(data, dtype=np.uint8)
            if es > 1:
                if b.size % es:
                    raise ValueError(
                        f"shuffle filter: {b.size} bytes not a multiple "
                        f"of elementsize {es}"
                    )
                b = np.ascontiguousarray(b.reshape(es, -1).T).reshape(-1)
            data = b.tobytes()
            continue
        if fid == "astype":
            enc = np.dtype(f["encode_dtype"])
            dec = np.dtype(f["decode_dtype"])
            data = np.frombuffer(data, enc).astype(dec).tobytes()
            continue
        dt = np.dtype(f.get("dtype") or arr_dtype)
        at = np.dtype(f.get("astype") or dt)
        vals = np.frombuffer(data, at)
        if fid == "delta":
            out = np.empty(vals.shape, dtype=dt)
            np.cumsum(vals, out=out)
        elif fid == "fixedscaleoffset":
            out = (vals / f["scale"] + f["offset"]).astype(dt)
        elif fid == "quantize":
            out = vals.astype(dt)
        else:
            raise ValueError(f"zarr v2 filter {fid!r} not supported")
        data = out.tobytes()
    return np.frombuffer(data, dtype=np.dtype(arr_dtype))


def zarr_group_catalog(url: str, component: str | None = None):
    """Walk a zarr GROUP (v2 ``.zgroup`` dirs or v3 ``zarr.json`` group
    nodes) into a Catalog: array members become ``ZarrReader`` entries,
    subgroup members become nested ``ZarrGroupCatalogReader`` entries, and
    the group's attributes (``.zattrs`` / v3 ``attributes``) land in the
    catalog metadata (parity: ZarrGroupCatalog, reference
    catalog/zarr.py:5-38, which delegates the walk to the zarr package).
    ``component`` selects a subgroup path before walking."""
    import json as _json
    import os as _os

    from intake_spark.catalog import Catalog

    root = url.rstrip("/")
    if component:
        root = f"{root}/{component.strip('/')}"

    meta: dict = {}
    v3_doc = None
    if _os.path.exists(f"{root}/zarr.json"):
        with open(f"{root}/zarr.json") as f:
            v3_doc = _json.load(f)
        if v3_doc.get("node_type") != "group":
            raise ValueError(f"{root}/zarr.json is not a v3 group node")
        meta.update(v3_doc.get("attributes") or {})
    elif _os.path.exists(f"{root}/.zgroup"):
        if _os.path.exists(f"{root}/.zattrs"):
            with open(f"{root}/.zattrs") as f:
                meta.update(_json.load(f))
    else:
        raise ValueError(f"{root} is not a zarr group (no .zgroup or zarr.json)")

    cat = Catalog(metadata=meta)
    for name in sorted(_os.listdir(root)):
        child = f"{root}/{name}"
        if not _os.path.isdir(child):
            continue
        if _os.path.exists(f"{child}/zarr.json"):
            with open(f"{child}/zarr.json") as f:
                node = _json.load(f).get("node_type")
            is_array = node == "array"
        elif _os.path.exists(f"{child}/.zarray"):
            is_array = True
        elif _os.path.exists(f"{child}/.zgroup"):
            is_array = False
        else:
            continue  # chunk dirs of nested-separator arrays etc.
        if is_array:
            cat.add_entry(ZarrReader(data=dt.Zarr(url=child)), name=name)
        else:
            cat.add_entry(ZarrGroupCatalogReader(data=dt.Zarr(url=child)), name=name)
    return cat


class ZarrGroupCatalogReader(BaseReader):
    """Zarr group hierarchy → Catalog of array readers / nested group
    catalogs. Driver-side JSON walk only; the arrays themselves still read
    distributed through ``ZarrReader``."""

    implements = {dt.Zarr}
    output_instance = "intake_spark.catalog:Catalog"

    def read(self, spark=None, **kwargs):
        merged = {**self.kwargs, **kwargs}
        return zarr_group_catalog(self.data.url, component=merged.get("component"))


class HuggingfaceDataset(dt.Service):
    """HF dataset coordinates (parity: datatypes.py:996-1004)."""

    structure = {"table", "nested"}

    def __init__(self, name: str, split: str = "train", options=None, metadata=None):
        super().__init__(name, options, metadata)
        self.split = split


def _hf_parquet_urls(name: str, split: str) -> list[str]:
    """Resolve a HF dataset's parquet shard URLs via the public
    datasets-server API (network-gated)."""
    import json
    import urllib.request

    api = f"https://datasets-server.huggingface.co/parquet?dataset={name}"
    with urllib.request.urlopen(api, timeout=60) as resp:
        payload = json.load(resp)
    return [
        f["url"] for f in payload.get("parquet_files", []) if f.get("split") == split
    ]


class HuggingfaceReader(BaseReader):
    """HF dataset → DataFrame via the dataset's *parquet export*, scanned
    natively by Spark (parity: readers.py:559-566 — but distributed: the
    reference materializes via ``datasets``; collecting an entire dataset on
    the driver is the anti-pattern at scale).

    Shard URLs come from ``resolver`` (default: the datasets-server API;
    injectable for tests/offline). Local paths are scanned in place; https
    shards are streamed to ``cache_dir`` once (constant driver memory),
    then scanned — on a real cluster point ``resolver`` at an s3a/gs mirror
    and the scan is fully distributed with no driver hop."""

    implements = {HuggingfaceDataset}

    def _read(self, spark, resolver=None, cache_dir: str | None = None, max_workers: int = 8, **kwargs):
        import hashlib
        import os
        import shutil
        import tempfile
        import urllib.request
        from concurrent.futures import ThreadPoolExecutor

        resolver = resolver or _hf_parquet_urls
        urls = resolver(self.data.url, self.data.split)
        if not urls:
            raise ValueError(
                f"no parquet shards for dataset {self.data.url!r} "
                f"split {self.data.split!r}"
            )
        # ONLY http(s) needs the driver-side fetch; any other scheme
        # (s3a://, gs://, hdfs://...) passes straight through to
        # spark.read.parquet for a fully distributed scan — urllib would
        # raise "unknown url type" on them
        remote = [u for u in urls if u.startswith(("http://", "https://"))]
        if remote and cache_dir is None:
            cache_dir = tempfile.mkdtemp(prefix="hf_parquet_")
        elif remote:
            os.makedirs(cache_dir, exist_ok=True)

        def fetch(u: str) -> str:
            # cache key = url digest + basename: distinct shards with the
            # same basename (different configs/revisions) cannot collide,
            # and a re-read of a cached dataset skips the network entirely
            key = hashlib.md5(u.encode()).hexdigest()[:12]
            dest = f"{cache_dir}/{key}_{u.rsplit('/', 1)[-1]}"
            if not os.path.exists(dest):
                tmp = dest + ".part"
                with urllib.request.urlopen(u, timeout=300) as resp, open(tmp, "wb") as f:
                    shutil.copyfileobj(resp, f)  # streamed: constant memory
                os.replace(tmp, dest)
            return dest

        fetched = {}
        if remote:
            with ThreadPoolExecutor(max_workers=max_workers) as pool:
                fetched = dict(zip(remote, pool.map(fetch, remote)))
        local = [fetched.get(u, u) for u in urls]
        return spark.read.parquet(*local)


class HandleToUrlReader(BaseReader):
    """Resolve a hdl.handle.net indirection to its target URL, then
    auto-detect and read the target (parity: readers.py:980-1015)."""

    implements = {dt.Service}

    def _read(self, spark, **kwargs):
        import json
        import urllib.request

        handle = self.data.url.split("hdl.handle.net/")[-1]
        with urllib.request.urlopen(
            f"https://hdl.handle.net/api/handles/{handle}", timeout=30
        ) as resp:
            payload = json.load(resp)
        urls = [v["data"]["value"] for v in payload["values"] if v["type"] == "URL"]
        if not urls:
            raise ValueError(f"handle {handle} resolves to no URL")
        from intake_spark.convert import one_shot

        return one_shot(urls[0], spark=spark, **kwargs)


# --- registry / recommendation --------------------------------------------


def all_readers() -> list[type[BaseReader]]:
    """Every reader class, after importing every module that declares
    one, so the answer does not depend on what the process imported."""
    dt.register_all()
    return sorted(subclasses(BaseReader), key=lambda c: c.__name__)


def readers_for(datatype: type[dt.BaseData]) -> list[type[BaseReader]]:
    """Reader classes claiming support for a datatype, importable first
    (≡ reference recommend(), readers.py:1799-1820)."""
    out = [r for r in all_readers() if datatype in r.implements]
    return sorted(out, key=lambda r: (not r.check_importable(), r.priority, r.__name__))


def recommend(data: dt.BaseData) -> dict[str, list[type[BaseReader]]]:
    cands = [r for r in all_readers() if type(data) in r.implements]
    return {
        "importable": [r for r in cands if r.check_importable()],
        "not_importable": [r for r in cands if not r.check_importable()],
    }


def reader_from_call(call: str) -> BaseReader:
    """Parse a ``spark.read.<fmt>('url')``-style call string back into a
    reader description (≡ reference reader_from_call, readers.py:3669-3740
    for pandas/dask calls)."""
    import re as _re

    m = _re.match(r"spark\.read\.(\w+)\(\s*['\"]([^'\"]+)['\"]\s*\)", call.strip())
    if not m:
        raise ValueError(f"cannot parse reader call: {call!r}")
    fmt, url = m.groups()
    fmt_map = {
        "parquet": (dt.Parquet, SparkParquet),
        "csv": (dt.CSV, SparkCSV),
        "json": (dt.JSONFile, SparkJSON),
        "orc": (dt.ORC, SparkORC),
        "text": (dt.Text, SparkText),
    }
    if fmt not in fmt_map:
        raise ValueError(f"unsupported format in call: {fmt}")
    dcls, rcls = fmt_map[fmt]
    return rcls(data=dcls(url=url))


# ---------------------------------------------------------------------------
# SQLite — stdlib sqlite3 table reads + database catalog (parity: the
# SQL-reader family and SQLAlchemyCatalog, /root/reference/intake/readers/
# readers.py DuckSQL/PandasSQLAlchemy and catalogs.py SQLAlchemyCatalog,
# whose own test database is sqlite; server databases remain the
# jar-gated SparkJDBC path).
# ---------------------------------------------------------------------------


class SQLiteDB(dt.FileData):
    filepattern = r"(sqlite|sqlite3|db3)$"  # bare .db is MBTiles-adjacent; magic decides
    magic = (b"SQLite format 3\x00",)
    structure = {"table"}


def _sqlite_affinity(decltype: str) -> str:
    """SQLite column affinity rules (public spec) → Spark type name."""
    t = (decltype or "").upper()
    if "INT" in t:
        return "long"
    if any(k in t for k in ("REAL", "FLOA", "DOUB")):
        return "double"
    if "BLOB" in t or t == "":
        return "binary"
    return "string"


class SQLiteReader(BaseReader):
    """SQLite table → DataFrame with typed columns (declared-type
    affinity), rowid-range pages decoded on EXECUTORS so table bytes
    never pass through the driver — the same partitioned-read shape as
    SparkJDBC's partitionColumn, with sqlite3 in place of a JDBC jar.
    ``table=None`` picks the first user table; WITHOUT ROWID tables and
    ad-hoc ``query=`` strings fall back to a driver-paged read (documented
    small-result path)."""

    implements = {SQLiteDB}

    def _read(
        self,
        spark,
        table: str | None = None,
        query: str | None = None,
        rows_per_task: int = 50_000,
        **kwargs,
    ):
        import sqlite3

        from pyspark.sql import types as T

        url = self.data.url
        con = sqlite3.connect(f"file:{url}?mode=ro", uri=True)
        try:
            tables = [
                r[0]
                for r in con.execute(
                    "SELECT name FROM sqlite_master WHERE type = 'table' "
                    "AND name NOT LIKE 'sqlite_%' ORDER BY name"
                )
            ]
            self.data.metadata["tables"] = tables
            if query is not None:
                cur = con.execute(query)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                pdf_rows = [dict(zip(cols, r)) for r in rows]
                return spark.createDataFrame(pdf_rows) if pdf_rows else local_frame(
                    spark, [], T.StructType([T.StructField(c, T.StringType()) for c in cols])
                )
            if table is None:
                if not tables:
                    raise ValueError(f"no user tables in {url}")
                table = tables[0]
            if table not in tables:
                raise KeyError(f"table {table!r} not in {tables}")
            qtable = table.replace('"', '""')
            info = list(con.execute(f'PRAGMA table_info("{qtable}")'))
            names = [r[1] for r in info]
            kinds = [_sqlite_affinity(r[2]) for r in info]
            try:
                lo_hi = con.execute(
                    f'SELECT MIN(rowid), MAX(rowid) FROM "{qtable}"'
                ).fetchone()
            except sqlite3.OperationalError:  # WITHOUT ROWID
                lo_hi = None
        finally:
            con.close()

        spark_t = {
            "long": T.LongType(),
            "double": T.DoubleType(),
            "binary": T.BinaryType(),
            "string": T.StringType(),
        }
        schema = T.StructType([T.StructField(n, spark_t[k]) for n, k in zip(names, kinds)])
        sel = ", ".join('"{}"'.format(n.replace('"', '""')) for n in names)

        def coerce_cell(v, kind):
            if v is None:
                return None
            try:
                if kind == "long":
                    return int(v)
                if kind == "double":
                    return float(v)
                if kind == "binary":
                    return bytes(v) if not isinstance(v, bytes) else v
                return v if isinstance(v, str) else str(v)
            except (TypeError, ValueError):  # sqlite cells may defy affinity
                return None

        if lo_hi is None or lo_hi[0] is None:
            # WITHOUT ROWID or empty: driver read (small-table path)
            con = sqlite3.connect(f"file:{url}?mode=ro", uri=True)
            try:
                recs = [
                    tuple(coerce_cell(v, k) for v, k in zip(r, kinds))
                    for r in con.execute(f'SELECT {sel} FROM "{qtable}"')
                ]
            finally:
                con.close()
            return local_frame(spark, recs, schema)

        lo, hi = lo_hi
        # size the range count by the ROW count, not the rowid SPAN: a
        # sparse rowid space (e.g. epoch-millis INTEGER PRIMARY KEYs) would
        # otherwise materialize millions of empty driver-side ranges
        con = sqlite3.connect(f"file:{url}?mode=ro", uri=True)
        try:
            (n_rows,) = con.execute(f'SELECT COUNT(*) FROM "{qtable}"').fetchone()
        finally:
            con.close()
        n_ranges = max(1, -(-int(n_rows) // max(rows_per_task, 1)))
        step = max(1, -(-(hi - lo + 1) // n_ranges))
        ranges = [
            (start, min(start + step - 1, hi))
            for start in range(lo, hi + 1, step)
        ]

        def fetch(rg, vcon):
            recs = vcon.execute(
                f'SELECT {sel} FROM "{qtable}" WHERE rowid '
                f"BETWEEN {int(rg.lo)} AND {int(rg.hi)}"
            ).fetchall()
            yield {
                n: [coerce_cell(r[i], kinds[i]) for r in recs]
                for i, n in enumerate(names)
            }

        return manifest_rows(
            spark, ranges, "lo long, hi long", schema, fetch,
            lambda: sqlite3.connect(f"file:{url}?mode=ro", uri=True),
        )


def sqlite_catalog(url: str) -> "object":
    """Every user table of a SQLite database as a Catalog entry — the
    SQLAlchemyCatalog analog for the file-database case (server databases
    list through SparkJDBC where a jar exists)."""
    import sqlite3

    from intake_spark.catalog import Catalog

    con = sqlite3.connect(f"file:{url}?mode=ro", uri=True)
    try:
        tables = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type = 'table' "
                "AND name NOT LIKE 'sqlite_%' ORDER BY name"
            )
        ]
    finally:
        con.close()
    cat = Catalog(metadata={"url": url, "kind": "sqlite"})
    for t in tables:
        cat[t] = SQLiteReader(data=SQLiteDB(url=url), table=t)
    return cat


def huggingface_hub_catalog(
    query: str | None = None,
    split: str = "train",
    list_fetch=None,
    limit: int = 50,
) -> "object":
    """Search/list Hugging Face Hub datasets as a Catalog — one
    HuggingfaceReader entry per dataset id (parity: HuggingfaceHubCatalog,
    /root/reference/intake/readers/catalogs.py, which needs the
    huggingface_hub package; this speaks the public ``/api/datasets``
    JSON endpoint directly). ``list_fetch`` is injectable so the catalog
    builds offline in tests; live listing is network-gated here."""
    from intake_spark.catalog import Catalog

    def _default_fetch(q: str | None, lim: int) -> list[dict]:  # pragma: no cover
        import json
        import urllib.parse
        import urllib.request

        params = {"limit": str(lim)}
        if q:
            params["search"] = q
        api = "https://huggingface.co/api/datasets?" + urllib.parse.urlencode(params)
        with urllib.request.urlopen(api, timeout=60) as resp:
            return json.load(resp)

    list_fetch = list_fetch or _default_fetch
    cat = Catalog(metadata={"kind": "huggingface_hub", "query": query or ""})
    for entry in list_fetch(query, limit):
        ds_id = entry.get("id") if isinstance(entry, dict) else str(entry)
        if not ds_id:
            continue
        cat[ds_id] = HuggingfaceReader(data=HuggingfaceDataset(ds_id, split=split))
    return cat


class DuckDBFile(dt.FileData):
    """A DuckDB database file (parity: DuckDB/DuckSQL family,
    /root/reference/intake/readers/readers.py)."""

    filepattern = r"(duckdb|ddb)$"
    magic = ((8, b"DUCK"),)  # main-header magic at offset 8
    structure = {"table"}


class DuckDBReader(BaseReader):
    """DuckDB file → DataFrame via Arrow record batches (the duckdb
    package ships in this stack — same engine the correctness oracle
    uses). ``table=`` or ``query=``; results stream driver-side in Arrow
    batches (``fetch_record_batch``) so only one batch is in memory at a
    time, then parallelize to executors. DuckDB files are single-writer
    database files, not a splittable lake format — for distributed scans
    export to parquet (``to_parquet``) and read that; this reader is the
    catalog/ingest edge."""

    implements = {DuckDBFile}
    imports = {"duckdb"}

    def _read(self, spark, table: str | None = None, query: str | None = None,
              batch_rows: int = 65536, **kwargs):
        import duckdb

        con = duckdb.connect(self.data.url, read_only=True)
        try:
            tables = [r[0] for r in con.execute("SHOW TABLES").fetchall()]
            self.data.metadata["tables"] = tables
            if query is None:
                if table is None:
                    if not tables:
                        raise ValueError(f"no tables in {self.data.url}")
                    table = tables[0]
                if table not in tables:
                    raise KeyError(f"table {table!r} not in {tables}")
                qtable = table.replace('"', '""')
                query = f'SELECT * FROM "{qtable}"'
            reader = con.execute(query).fetch_record_batch(batch_rows)
            # ONE schema from the Arrow stream for every batch: per-batch
            # pandas inference crashes on all-null batches and silently
            # widens int columns to double in batches that contain nulls
            from pyspark.sql.pandas.types import from_arrow_schema

            spark_schema = from_arrow_schema(reader.schema)
            parts = []
            while True:
                try:
                    batch = reader.read_next_batch()
                except StopIteration:
                    break
                parts.append(
                    spark.createDataFrame(batch.to_pandas(), schema=spark_schema)
                )
            if not parts:
                return local_frame(spark, [], schema=spark_schema)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        finally:
            con.close()


def duckdb_catalog(url: str) -> "object":
    """Every table of a DuckDB database file as a Catalog entry."""
    import duckdb

    from intake_spark.catalog import Catalog

    con = duckdb.connect(url, read_only=True)
    try:
        tables = [r[0] for r in con.execute("SHOW TABLES").fetchall()]
    finally:
        con.close()
    cat = Catalog(metadata={"url": url, "kind": "duckdb"})
    for t in tables:
        cat[t] = DuckDBReader(data=DuckDBFile(url=url), table=t)
    return cat
