"""Datatypes: descriptions of *where data lives and what format it is*,
plus format detection (``recommend``).

Behavioral parity with the reference's datatype layer
(intake/readers/datatypes.py): each datatype declares ``mimetypes`` /
``filepattern`` / ``magic`` / ``structure`` class attributes; ``recommend``
scores candidates by magic bytes (1.5) > filepattern (1.1) > MIME (1.0)
with per-class ``_head_ok`` vetoes and recursive retry through compression
wrappers (datatypes.py:1886-2045, weights :1954-1956). Implementation is
fresh; only the observable scoring contract is reproduced.

In the Spark rebuild a datatype resolves to the argument set of
``spark.read.format(...).options(...)`` — see each class's ``spark_format``.
"""

from __future__ import annotations

import re
import zlib
from typing import Any

from intake_spark.config import conf
from intake_spark.utils import Tokenizable, subclasses


class BaseData(Tokenizable):
    """Description of data-at-rest: format + location + metadata. Not the
    data itself (reference datatypes.py:21-35)."""

    mimetypes: str = ""  # regex over content-type
    filepattern: str = ""  # regex over URL/path
    magic: tuple = ()  # bytes prefixes, or (offset, bytes) pairs
    structure: set[str] = set()
    spark_format: str | None = None  # native spark.read format name, if any

    def __init__(self, metadata: dict | None = None):
        self.metadata = metadata or {}

    def to_reader_cls(self, outtype: str | None = None, reader: str | None = None):
        """Best reader class for this datatype (reference datatypes.py:60-155):
        filter registered readers claiming this datatype, prefer by output
        type / name substring, honoring conf['reader_avoid']."""
        from intake_spark.readers import readers_for

        candidates = readers_for(type(self))
        avoid = conf.get("reader_avoid") or []
        candidates = [c for c in candidates if c.__name__ not in avoid]
        if reader:
            candidates = [c for c in candidates if reader.lower() in c.__name__.lower()]
        if outtype:
            candidates = [c for c in candidates if outtype in c.output_instance]
        if not candidates:
            raise ValueError(f"no reader for {type(self).__name__} (outtype={outtype})")
        return candidates[0]

    def to_reader(self, outtype: str | None = None, reader: str | None = None, **kwargs):
        return self.to_reader_cls(outtype, reader)(data=self, **kwargs)


class FileData(BaseData):
    """File-like data: url + storage options (reference datatypes.py:236-242).
    ``storage_options`` map to Hadoop-conf / cloud-credential reader options."""

    def __init__(self, url: str, storage_options: dict | None = None, metadata: dict | None = None):
        super().__init__(metadata)
        self.url = url
        self.storage_options = storage_options or {}


class Service(BaseData):
    """Network service data: url + options (reference datatypes.py:245-251)."""

    def __init__(self, url: str, options: dict | None = None, metadata: dict | None = None):
        super().__init__(metadata)
        self.url = url
        self.options = options or {}


class CatalogData(BaseData):
    """A grouping of other data (reference datatypes.py:254-257)."""

    structure = {"catalog"}


class Literal(BaseData):
    """In-memory rows treated as a datatype (reference datatypes.py:923) —
    resolves to ``spark.createDataFrame(rows)``."""

    structure = {"nested"}

    def __init__(self, data: Any, metadata: dict | None = None):
        super().__init__(metadata)
        self.data = data


# --- concrete file formats -------------------------------------------------


class Parquet(FileData):
    filepattern = r"(parquet|parq|pq)($|[.?])"
    mimetypes = r"application/(x-)?parquet"
    magic = (b"PAR1",)
    structure = {"table", "nested"}
    spark_format = "parquet"


class CSV(FileData):
    filepattern = r"(csv|tsv|txt)([.](gz|bz2|zst))?$"
    mimetypes = r"(text/csv|application/csv|text/tsv)"
    structure = {"table"}
    spark_format = "csv"

    @classmethod
    def _head_ok(cls, head: bytes) -> bool:
        # delimited text: decodable + at least one line. A multibyte char
        # straddling the head cut must not veto (trim up to 3 trailing
        # bytes before giving up); binary bytes still veto.
        text = None
        for trim in range(4):
            try:
                text = head[: len(head) - trim].decode("utf-8")
                break
            except UnicodeDecodeError:
                continue
        if text is None:
            return False
        lines = [ln for ln in text.splitlines()[:10] if ln]
        return len(lines) >= 1


class JSONFile(FileData):
    filepattern = r"(json|jsonl|ndjson)([.](gz|bz2|zst))?$"
    mimetypes = r"(application|text)/(x-)?json(l|lines)?"
    structure = {"nested", "table"}
    spark_format = "json"

    @classmethod
    def _head_ok(cls, head: bytes) -> bool:
        s = head.lstrip()[:1]
        return s in (b"{", b"[")


class ORC(FileData):
    filepattern = r"orc$"
    magic = (b"ORC",)
    structure = {"table", "nested"}
    spark_format = "orc"


class AVRO(FileData):
    filepattern = r"avro$"
    mimetypes = r"application/avro"
    magic = (b"Obj\x01",)
    structure = {"nested"}
    spark_format = "avro"


class Text(FileData):
    filepattern = r"(txt|text|log|md|rst)$"
    mimetypes = r"text/plain"
    structure = {"text"}
    spark_format = "text"


class XML(FileData):
    filepattern = r"xml$"
    mimetypes = r"(application|text)/xml"
    magic = (b"<?xml",)
    structure = {"nested"}
    spark_format = "xml"


class DeltalakeTable(FileData):
    filepattern = r"delta"
    structure = {"table", "nested"}
    spark_format = "delta"


class IcebergDataset(FileData):
    filepattern = r"iceberg"
    structure = {"table", "nested"}
    spark_format = "iceberg"


class Feather2(FileData):
    filepattern = r"(feather|arrow|ipc)$"
    magic = (b"ARROW1",)
    structure = {"table"}


class Excel(FileData):
    filepattern = r"xls[xmb]?$"
    mimetypes = r"application/vnd.(ms-excel|openxmlformats-officedocument.spreadsheetml.sheet)"
    magic = (b"PK\x03\x04", b"\xd0\xcf\x11\xe0")
    structure = {"table"}


class PNG(FileData):
    filepattern = r"png$"
    mimetypes = r"image/png"
    magic = (b"\x89PNG",)
    structure = {"image"}
    spark_format = "image"


class JPEG(FileData):
    filepattern = r"jpe?g$"
    mimetypes = r"image/jpeg"
    magic = (b"\xff\xd8\xff",)
    structure = {"image"}
    spark_format = "image"


class JPEG2000(FileData):
    """JP2 container or raw JPEG 2000 codestream (T.800; decoded natively
    by llm/jpeg2000.py — reference delegates to PIL/glymur)."""

    filepattern = r"(jp2|j2k|jpc|jpf|jpx)$"
    mimetypes = r"image/jp2"
    magic = (b"\x00\x00\x00\x0cjP  \r\n\x87\n", b"\xff\x4f\xff\x51")
    structure = {"image", "array"}


class TIFF(FileData):
    filepattern = r"tiff?$"
    mimetypes = r"image/tiff"
    magic = (b"II*\x00", b"MM\x00*")
    structure = {"image", "array"}


class BMP(FileData):
    filepattern = r"bmp$"
    mimetypes = r"image/bmp"
    magic = (b"BM",)
    structure = {"image"}


class WAV(FileData):
    filepattern = r"wav$"
    mimetypes = r"audio/x?-?wav"
    magic = ((8, b"WAVE"),)  # RIFF....WAVE — bare RIFF would also hit AVI
    structure = {"array", "timeseries"}


class FLAC(FileData):
    filepattern = r"flac$"
    mimetypes = r"audio/flac"
    magic = (b"fLaC",)
    structure = {"array", "timeseries"}


class WebM(FileData):
    filepattern = r"(webm|mkv)$"
    mimetypes = r"video/(webm|x-matroska)"
    magic = (b"\x1a\x45\xdf\xa3",)
    structure = {"array", "timeseries"}


class GIF(FileData):
    filepattern = r"gif$"
    mimetypes = r"image/gif"
    magic = (b"GIF8",)
    structure = {"image"}


class MP3(FileData):
    filepattern = r"mp3$"
    mimetypes = r"audio/mpeg"
    magic = (b"ID3",)  # bare 0xFFEx sync is too short to claim safely
    structure = {"array", "timeseries"}


class OGG(FileData):
    filepattern = r"(ogg|oga|opus)$"
    mimetypes = r"audio/ogg"
    magic = (b"OggS",)
    structure = {"array", "timeseries"}


class AVI(FileData):
    filepattern = r"avi$"
    mimetypes = r"video/(x-msvideo|avi)"
    magic = ((8, b"AVI "),)
    structure = {"array", "timeseries"}


class WEBP(FileData):
    filepattern = r"webp$"
    mimetypes = r"image/webp"
    magic = ((8, b"WEBP"),)
    structure = {"array", "image"}


class MP4(FileData):
    filepattern = r"(mp4|m4v|mov)$"
    mimetypes = r"video/(mp4|quicktime)"
    magic = ((4, b"ftyp"),)
    structure = {"array", "timeseries"}


class PDF(FileData):
    filepattern = r"pdf$"
    mimetypes = r"application/pdf"
    magic = (b"%PDF",)
    structure = {"text"}


class Zarr(FileData):
    filepattern = r"zarr"
    structure = {"array", "hierarchy"}


class HDF5(FileData):
    filepattern = r"(h5|hdf5?|nc|nc4)$"
    magic = (b"\x89HDF",)
    structure = {"array", "table", "hierarchy"}

    def __init__(self, url, path: str = "", storage_options=None, metadata=None):
        super().__init__(url, storage_options, metadata)
        self.path = path


class NumpyFile(FileData):
    filepattern = r"npy$"
    magic = (b"\x93NUMPY",)
    structure = {"array"}


class GGUF(FileData):
    filepattern = r"gguf$"
    magic = (b"GGUF",)
    structure = {"model"}


class SQLQuery(Service):
    """A query against a SQL service (reference datatypes.py:590-599) —
    resolves to ``spark.read.jdbc`` with partitioned reads."""

    structure = {"sequence", "table"}
    filepattern = r"^(jdbc|postgres|mysql|sqlite|oracle|mssql)"

    def __init__(self, conn: str, query: str, options=None, metadata=None):
        super().__init__(conn, options, metadata)
        self.query = query


class KafkaTopic(Service):
    """Kafka topic (reference datatypes.py:1639) — batch peek via
    ``spark.read.format('kafka')``, stream via ``readStream``."""

    structure = {"sequence"}

    def __init__(self, url, topic: str, options=None, metadata=None):
        super().__init__(url, options, metadata)
        self.topic = topic


# --- compression wrappers (detection recursion) ----------------------------

COMPRESSION_MAGIC = {
    b"\x1f\x8b": "gzip",
    b"BZh": "bz2",
    b"\x28\xb5\x2f\xfd": "zstd",
    b"\x04\x22\x4d\x18": "lz4",
}
CONTAINER_MAGIC = {
    b"PK\x03\x04": "zip",
    b"ustar": "tar",
}

_MAGIC_SCORE = 1.5
_PATTERN_SCORE = 1.1
_MIME_SCORE = 1.0


def _magic_matches(magic_entry, head: bytes) -> bool:
    if isinstance(magic_entry, tuple) and len(magic_entry) == 2 and isinstance(magic_entry[0], int):
        offset, pattern = magic_entry
        return head[offset : offset + len(pattern)] == pattern
    return head.startswith(magic_entry)


def register_all() -> None:
    """Import every module that declares datatypes/readers so the
    subclass-walk registry is complete (≡ the reference importlist,
    intake/readers/importlist.py:23-55)."""
    import intake_spark.arrays  # noqa: F401
    import intake_spark.bio  # noqa: F401
    import intake_spark.documents  # noqa: F401
    import intake_spark.geo  # noqa: F401
    import intake_spark.hdf5  # noqa: F401
    import intake_spark.lakehouse  # noqa: F401
    import intake_spark.mlds  # noqa: F401
    import intake_spark.ragged  # noqa: F401
    import intake_spark.sci  # noqa: F401
    import intake_spark.services  # noqa: F401
    import intake_spark.stats  # noqa: F401
    import intake_spark.streaming  # noqa: F401


def datatypes() -> list[type[BaseData]]:
    register_all()
    return sorted(subclasses(BaseData), key=lambda c: c.__name__)


def recommend(
    url: str | None = None,
    mime: str | None = None,
    head: bytes | None = None,
    storage_options: dict | None = None,
) -> list[type[BaseData]]:
    """Rank datatype classes for a URL/MIME/head-bytes triple.

    Scoring contract (reference datatypes.py:1938-2014): magic-bytes match
    1.5 > filepattern 1.1 > MIME 1.0, cumulative; ``_head_ok`` vetoes a
    candidate outright; if the head looks compressed, detection recurses on
    the decompressed head (datatypes.py:2028-2043).
    """
    return [c for c, _, _ in recommend_scored(url, mime, head, storage_options)]


def recommend_scored(
    url: str | None = None,
    mime: str | None = None,
    head: bytes | None = None,
    storage_options: dict | None = None,
    _via_prefix: str = "",
) -> list[tuple[type[BaseData], float, str]]:
    """:func:`recommend` with its evidence exposed: ranked
    ``(datatype_class, score, via)`` triples, where ``via`` names the
    signals that contributed ('magic', 'pattern', 'mime', joined by '+',
    prefixed 'compressed:'/'container:' when detection recursed through a
    compression wrapper or zip container). The distributed corpus triage
    (:func:`recommend_corpus`) records this per file so cluster-propagated
    verdicts stay auditable."""
    if head is None and url is not None and "://" not in url:
        try:
            with open(url, "rb") as f:
                head = f.read(conf["head_bytes"])
        except OSError:
            head = None

    if head:
        for magic, codec in COMPRESSION_MAGIC.items():
            if head.startswith(magic):
                try:
                    inner = _decompress_head(head, codec)
                except (ValueError, OSError, EOFError, zlib.error):
                    # codec not decodable here (zstd/lz4) or a truncated/
                    # corrupt stream: score by pattern/mime alone — running
                    # _head_ok on the COMPRESSED bytes would veto formats
                    # whose filepatterns explicitly claim the extension
                    head = None
                    break
                inner_url = re.sub(rf"\.({codec}|gz|bz2|zst|lz4)$", "", url or "")
                return recommend_scored(
                    inner_url or None, mime=None, head=inner,
                    _via_prefix=f"{_via_prefix}compressed:{codec}:",
                )
        # container recursion (reference datatypes.py:2028-2043): for a zip
        # that is a plain container (not an OOXML/NPZ-style format claimed
        # by a more specific datatype), recommend by member names.
        if (head is not None and head.startswith(b"PK\x03\x04")
                and url and url.lower().endswith(".zip")):
            import io
            import zipfile

            try:
                with zipfile.ZipFile(url if "://" not in url else io.BytesIO(head)) as z:
                    members = z.namelist()
            except (zipfile.BadZipFile, OSError):
                # a corrupt or unreadable archive has no member names to
                # recurse on: score the .zip itself by magic/pattern below
                members = []
            if members:
                return recommend_scored(
                    members[0], mime=None, head=None,
                    _via_prefix=_via_prefix + "container:zip:",
                )

    scores: dict[type[BaseData], tuple[float, str]] = {}
    for cls in datatypes():
        score, via = 0.0, []
        if head:
            for m in cls.magic:
                if _magic_matches(m, head):
                    score += _MAGIC_SCORE
                    via.append("magic")
                    break
        if url and cls.filepattern and re.search(cls.filepattern, url.lower()):
            score += _PATTERN_SCORE
            via.append("pattern")
        if mime and cls.mimetypes and re.fullmatch(cls.mimetypes, mime):
            score += _MIME_SCORE
            via.append("mime")
        if score > 0 and head is not None:
            ok = getattr(cls, "_head_ok", None)
            if ok is not None and not ok(head):
                continue
        if score > 0:
            scores[cls] = (score, _via_prefix + "+".join(via))
    return [
        (c, s, v)
        for c, (s, v) in sorted(
            scores.items(), key=lambda kv: (-kv[1][0], kv[0].__name__)
        )
    ]


def _decompress_head(head: bytes, codec: str) -> bytes:
    if codec == "gzip":
        import gzip
        import io

        with gzip.GzipFile(fileobj=io.BytesIO(head)) as f:
            return f.read(conf["head_bytes"])
    if codec == "bz2":
        import bz2

        return bz2.BZ2Decompressor().decompress(head, conf["head_bytes"])
    raise ValueError(f"cannot decompress {codec} head")


def recommend_corpus(
    spark,
    source,
    head_bytes: int = 65536,
    samples_per_cluster: int = 4,
    cache_path: str | None = None,
    walk_on_executors: bool = False,
):
    """Distributed corpus-scale datatype triage: :func:`recommend` over
    millions of files with every byte read happening ON EXECUTORS.

    The driver-side ``recommend`` is the right tool for one URL; pointed
    at a lake it becomes the 100 TB detection bottleneck (SURVEY §7: one
    driver ``open()`` per file). This operator implements the prescribed
    mitigation — batch the sniffing, sample per cluster, cache verdicts:

    1. ``source`` supplies the file listing: a directory root (walked
       driver-side by default — a pure-metadata operation; pass
       ``walk_on_executors=True`` to fan the walk itself out via
       :func:`distributed_walk` when the tree has millions of entries;
       for object stores pass the bucket INVENTORY as a DataFrame with
       a ``path`` column or a plain list instead), never the file
       bytes.
    2. Files cluster by ``(dir, ext)`` — the homogeneity unit of real
       lakes. The listing is shuffled by cluster, and one
       ``mapInPandas`` pass orders each partition's listing by
       ``(dir, ext, xxhash64(path), path)`` and head-sniffs every
       cluster's first ``samples_per_cluster`` members (deterministic:
       the lowest ``(xxhash64(path), path)``): the task opens its own
       files, reads ``head_bytes``, and runs :func:`recommend_scored` —
       heads never cross the wire, the driver reads nothing.
    3. In the same pass, a cluster whose samples agree unanimously
       propagates the verdict to its remaining members without opening
       them (``via='cluster'``); the members of a disputed or
       undetectable cluster are marked pending, shuffled by path, and a
       second ``mapInPandas`` pass sniffs each of them. CAVEAT —
       propagation is sample-based: a minority format
       hiding in an otherwise homogeneous directory is mislabeled when
       all ``samples_per_cluster`` draws miss it (probability
       ``C(n-m, s)/C(n, s)`` for m minority members out of n). That is
       the deliberate IO trade of the SURVEY §7 plan; raise
       ``samples_per_cluster`` (>= cluster size gives per-file
       exactness) where directories are not trusted to be homogeneous,
       and note ``via='cluster'`` rows are exactly the never-opened
       files if downstream wants to re-verify lazily.
    4. ``cache_path`` (parquet) persists verdicts across runs: already-
       cached paths are never re-opened, new verdicts are appended — the
       registry the catalog layer reuses.

    Returns a DataFrame ``(path, dir, ext, datatype, score, via)`` where
    ``datatype`` is the top-ranked class name (null when nothing claims
    the file), ``score`` the recommend score (null for propagated rows),
    and ``via`` the evidence trail ('magic'/'pattern'/'mime' combinations,
    'compressed:<codec>:…' for wrapper recursion, 'cluster' for
    propagated verdicts).

    Reference surface: ``recommend`` (reference datatypes.py:1886-2045)
    is single-URL only; this distributed form is the rebuild's
    scale-mandated extension (SURVEY.md §7's detection plan).

    EXECUTION SEMANTICS: without ``cache_path`` this function is LAZY —
    it lists a directory root driver-side (or plans the executor walk)
    and returns one plan; no file is sniffed and no Spark job runs until
    an action. A driver-side listing (walked root or list of paths) is
    an Arrow local relation (:func:`~intake_spark.session.local_frame`):
    it lives in the plan, so no Python worker pickles it and the only
    Python workers are the sniffing passes'. The plan is two shuffles
    and two ``mapInPandas`` passes, both with an explicit partition
    count so adaptive execution cannot coalesce the sniffing into one
    task. The first shuffle is keyed by the ``dir`` EXPRESSION alone, so
    each directory, and with it each of its ``(dir, ext)`` clusters,
    lands whole in one partition; ``dir`` is computed after it, because
    a projection directly on the local relation would be evaluated on
    the driver, row by row, at every planning. ``ext`` is folded in
    Python by the detection rule (:func:`corpus_ext`: ``str.lower`` of
    everything after the basename's first dot, the folding
    :func:`recommend_scored` applies to the URL), never by the JVM's
    ``lower()``: the JVM's first ``lower()`` starts ICU case mapping,
    ~1.5 s and ~5 MB once per JVM, which a triage pays for nothing.
    Nothing in the plan is materialized: an executor loss recomputes
    the lost partitions from the listing like any other lineage. With
    ``cache_path`` the new verdicts are appended at call time (one
    write) and the returned DataFrame reads the registry, its ``ext``
    folded by the same Python rule in one more ``mapInPandas`` pass.
    """
    import os

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from intake_spark.session import local_frame, map_in_pandas

    if isinstance(source, DataFrame):
        listing = source.select(F.col("path").cast("string"))
    elif isinstance(source, str) and walk_on_executors:
        listing = distributed_walk(spark, source)
    else:
        if isinstance(source, str):
            paths = [os.path.join(r, f)
                     for r, _, files in os.walk(source) for f in files]
        else:
            paths = list(source)
        listing = local_frame(spark, [(p,) for p in paths], "path string")

    # dir is computed after the first exchange, never in a projection
    # directly on the listing: on a local relation Catalyst would
    # evaluate that projection on the driver, row by row, at every
    # planning (local_frame's caveat)
    dir_ = F.regexp_replace("path", "/[^/]*$", "")
    todo = listing
    if cache_path and os.path.exists(cache_path):
        todo = listing.join(
            spark.read.parquet(cache_path).select("path"), "path", "left_anti"
        )

    cols = ["path", "dir", "ext", "datatype", "score", "via"]
    verdict_schema = (
        "path string, dir string, ext string, "
        "datatype string, score double, via string"
    )
    _head_n = int(head_bytes)
    _n_samples = int(samples_per_cluster)

    def _verdict(p):
        from intake_spark.datatypes import recommend_scored

        head = None
        if "://" not in p:
            try:
                with open(p, "rb") as f:
                    head = f.read(_head_n)
            except OSError:
                head = None
        ranked = recommend_scored(p, head=head)
        if ranked:
            c, s, v = ranked[0]
            return c.__name__, float(s), v
        return None, None, "none"

    def _triage(batches):
        # a partition holds whole clusters; ordered here rather than by a
        # Spark sort, whose last memory page a Python task keeps reachable
        # after the task ends (one spark.buffer.pageSize per task)
        import pandas as pd

        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        pdf["ext"] = [corpus_ext(p) for p in pdf["path"]]
        pdf = pdf.sort_values(["dir", "ext", "_h", "path"])
        rows = []
        key, n, dts = None, 0, set()
        for p, d_, e_ in zip(pdf["path"], pdf["dir"], pdf["ext"]):
            if (d_, e_) != key:
                key, n, dts = (d_, e_), 0, set()
            n += 1
            if n <= _n_samples:
                v = _verdict(p)
                dts.add(v[0])
                rows.append((p, d_, e_) + v)
            elif len(dts) == 1 and None not in dts:
                rows.append((p, d_, e_, next(iter(dts)), None, "cluster"))
            else:
                # disputed cluster: via=null marks the row pending
                rows.append((p, d_, e_, None, None, None))
        yield pd.DataFrame(rows, columns=cols)

    def _sniff_pending(batches):
        import pandas as pd

        for pdf in batches:
            pending = pdf["via"].isna()
            if pending.any():
                pdf = pd.DataFrame(
                    [r[:3] + _verdict(r[0]) if todo_ else r
                     for r, todo_ in zip(
                         pdf.itertuples(index=False, name=None), pending)],
                    columns=cols,
                )
            yield pdf

    # explicit partition counts: adaptive execution coalesces by shuffle
    # BYTES, and a million tiny path rows would land in one task even
    # though each pending row costs a head_bytes read downstream
    n_parts = spark.sparkContext.defaultParallelism
    triaged = map_in_pandas(
        todo.repartition(n_parts, dir_).select(
            "path", dir_.alias("dir"), F.xxhash64("path").alias("_h")),
        _triage, verdict_schema,
    )
    fresh = map_in_pandas(
        triaged.repartition(n_parts, "path"), _sniff_pending, verdict_schema)
    if cache_path:
        # append the new verdicts (eager action: the sniff runs exactly
        # once), then answer purely from the registry — the returned
        # frame never recomputes a sniff, and old + new rows can't be
        # double-counted by a lazy re-list of the just-appended files
        fresh.select("path", "datatype", "score", "via").write.mode(
            "append"
        ).parquet(cache_path)

        def _with_ext(batches):
            for pdf in batches:
                pdf.insert(2, "ext", [corpus_ext(p) for p in pdf["path"]])
                yield pdf

        known = (
            spark.read.parquet(cache_path)
            .dropDuplicates(["path"])
            .join(listing, "path")  # drop verdicts for vanished paths
            .select("path", dir_.alias("dir"), "datatype", "score", "via")
        )
        return map_in_pandas(known, _with_ext, verdict_schema)
    return fresh


def corpus_ext(path: str) -> str:
    """A corpus file's cluster extension: everything after the first dot
    of its basename, lower-cased as :func:`recommend_scored` folds the
    URL (``"d/a.Tar.GZ"`` -> ``"tar.gz"``, ``"d/noext"`` -> ``""``)."""
    return path.rsplit("/", 1)[-1].partition(".")[2].lower()


def distributed_walk(spark, root: str):
    """Parallel filesystem walk: the driver lists only ``root``'s
    immediate entries, then every first-level subdirectory's subtree is
    walked ON AN EXECUTOR (mapInPandas over the subdir list). Returns a
    DataFrame ``(path string)`` of every file under ``root``. This keeps
    even the LISTING phase off the driver for trees whose directory
    fan-out is wide (a million-file lake); a flat directory with no
    subdirs degenerates to the driver listing its files, which is then
    just a readdir."""
    import os

    from pyspark.sql import functions as F

    from intake_spark.session import local_frame, map_in_pandas

    top_files, top_dirs = [], []
    try:
        entries = list(os.scandir(root))
    except FileNotFoundError:
        entries = []  # parity: os.walk on a missing root yields nothing
    for e in entries:
        if e.is_dir(follow_symlinks=False):
            top_dirs.append(e.path)
        elif e.is_symlink() and e.is_dir():
            # symlink-to-directory: os.walk(followlinks=False) lists it
            # in dirnames but never descends, so it contributes no file
            # paths — skip it for exact driver/executor listing parity
            continue
        else:
            top_files.append(e.path)

    def walk(batches):
        import os as _os

        import pandas as pd

        for pdf in batches:
            out = []
            for d in pdf["dir"]:
                for r, _dirs, files in _os.walk(d):
                    out.extend(_os.path.join(r, f) for f in files)
            yield pd.DataFrame({"path": out})

    parts = [local_frame(spark, [(p,) for p in top_files], "path string")]
    if top_dirs:
        n = max(1, min(len(top_dirs),
                       spark.sparkContext.defaultParallelism * 2))
        sub = local_frame(spark, [(d,) for d in top_dirs], "dir string")
        parts.append(
            map_in_pandas(sub.repartition(n, "dir"), walk, "path string")
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.select(F.col("path").cast("string"))


def corpus_catalog(
    spark,
    source,
    verdicts=None,
    **triage_kwargs,
):
    """Triage a corpus (:func:`recommend_corpus`) and register the result
    as a Catalog: one entry per homogeneous ``(dir, ext, datatype)``
    cluster, whose reader scans the whole cluster through a glob URL —
    the "cache verdicts in the registry" step of the SURVEY §7 detection
    plan, so detection runs once and every later session opens the
    catalog instead of re-sniffing the lake.

    Pass ``verdicts`` (a DataFrame shaped like recommend_corpus output)
    to catalog an existing registry without re-triaging. Only
    UNAMBIGUOUS clusters become entries — a glob URL is the entry's
    whole membership claim, so it must be exact: disputed clusters
    (several datatypes behind one (dir, ext)) and extensionless
    clusters (``dir/*`` would also sweep subdirectories and unrelated
    files) are recorded in ``catalog.metadata['skipped']`` with
    reasons, alongside unclaimed clusters and datatypes with no
    registered reader. Returns the Catalog; entry names are
    ``<dir basename>_<ext>`` (suffixed ``_2``… on collision across
    different directories; deterministic — sorted by (dir, ext,
    datatype)).
    """
    from pyspark.sql import functions as F

    from intake_spark.catalog import Catalog

    if verdicts is None:
        verdicts = recommend_corpus(spark, source, **triage_kwargs)
    clusters = (
        verdicts.groupBy("dir", "ext", "datatype")
        .agg(F.count("*").alias("n_files"))
        .collect()  # cluster count ~ directory count: driver-small
    )
    by_name = {c.__name__: c for c in datatypes()}
    cat = Catalog(metadata={"kind": "corpus-triage", "skipped": []})
    per_key: dict[tuple, int] = {}
    for row in clusters:
        per_key[(row.dir, row.ext)] = per_key.get((row.dir, row.ext), 0) + 1
    seen: dict[str, int] = {}
    for row in sorted(clusters,
                      key=lambda r: (r.dir, r.ext or "", r.datatype or "")):
        def skip(reason):
            cat.metadata["skipped"].append(
                {"dir": row.dir, "ext": row.ext, "datatype": row.datatype,
                 "n_files": row.n_files, "reason": reason}
            )

        if row.datatype is None:
            skip("no datatype claimed the files")
            continue
        if per_key[(row.dir, row.ext)] > 1:
            skip("mixed formats behind one (dir, ext): a glob entry "
                 "cannot express the membership — read per file")
            continue
        if not row.ext:
            skip("extensionless files: dir/* would sweep "
                 "subdirectories and unrelated content")
            continue
        cls = by_name.get(row.datatype)
        url = f"{row.dir}/*.{row.ext}"
        try:
            reader = cls(url=url).to_reader()
        except (TypeError, ValueError) as exc:
            skip(str(exc))
            continue
        base = row.dir.rstrip("/").rsplit("/", 1)[-1] or "root"
        name = f"{base}_{row.ext}"
        seen[name] = seen.get(name, 0) + 1
        if seen[name] > 1:
            name = f"{name}_{seen[name]}"
        tok = cat.add_entry(reader, name=name)
        cat.entries[tok].metadata.update(
            {"n_files": int(row.n_files), "datatype": row.datatype,
             "via": "recommend_corpus"}
        )
    return cat
