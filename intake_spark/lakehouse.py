"""Lakehouse formats without their jars: Avro OCF, Delta Lake, Iceberg.

The reference reads these through engine plugins (SparkAvro readers.py:536,
SparkDeltaLake :550, a delta-rs/iceberg handoff elsewhere); this container
has none of those jars, but all three formats are openly specified:

- **Avro OCF** (``AvroOCFReader``): the object container file is a JSON
  writer schema + sync-marker-delimited blocks of binary records. The
  driver parses the header and walks the block index (count/size varints,
  skip, check sync — O(blocks) small reads, no record decode); executors
  inflate and decode their own blocks with the pure-Python decoder below.
- **Delta Lake** (``DeltaLakeReader``): a Delta table is parquet data files
  plus a ``_delta_log`` of JSON commits (and parquet checkpoints). Replay
  the log driver-side (actions are tiny), resolve the live file set, and
  hand the paths to Spark's native parquet scan — so the actual data read
  is the same distributed, pushdown-capable scan the jar would issue.
- **Iceberg** (``IcebergTableReader``): table metadata JSON → current
  snapshot → manifest list (Avro) → manifests (Avro) → live parquet files.
  Manifests reuse the same Avro decoder; the data scan is again native
  parquet.

Scale note: log/manifest replay is metadata work proportional to the
file count, not the data size — the standard client-side design (delta-rs,
pyiceberg do the same). The 100 TB of actual data never passes the driver.
"""

from __future__ import annotations

import io
import json
import os
import re
import struct
import zlib

from intake_spark import datatypes as dt
from intake_spark.compress import read_uvarint, uvarint
from intake_spark.readers import BaseReader
from intake_spark.session import ensure_py_deps, local_frame, manifest_rows


class ConcurrentWriteError(FileExistsError):
    """A concurrent writer committed the table version this write was
    about to claim. Commits are put-if-absent (``open(..., 'x')``), so
    the version file already exists: the loser removes what it staged
    and raises; a retry against the new table state can succeed."""

# --------------------------------------------------------------------------
# Avro binary decoding (spec: https://avro.apache.org/docs/ spec — varint
# zigzag longs, little-endian floats, length-prefixed bytes/strings)
# --------------------------------------------------------------------------


class _Buf:
    __slots__ = ("b", "p")

    def __init__(self, b: bytes):
        self.b, self.p = b, 0

    def read(self, n: int) -> bytes:
        out = self.b[self.p : self.p + n]
        if len(out) < n:
            raise ValueError("truncated avro data")
        self.p += n
        return out

    def varlong(self) -> int:
        acc, self.p = read_uvarint(self.b, self.p)
        return (acc >> 1) ^ -(acc & 1)  # zigzag


def _avro_decode(buf: _Buf, schema, names: dict):
    """One value per the writer ``schema`` (parsed JSON)."""
    if isinstance(schema, str):
        if schema in names:
            return _avro_decode(buf, names[schema], names)
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return buf.read(1) != b"\x00"
        if t in ("int", "long"):
            return buf.varlong()
        if t == "float":
            return struct.unpack("<f", buf.read(4))[0]
        if t == "double":
            return struct.unpack("<d", buf.read(8))[0]
        if t == "bytes":
            return bytes(buf.read(buf.varlong()))
        if t == "string":
            return buf.read(buf.varlong()).decode("utf-8")
        raise ValueError(f"unknown avro type {t!r}")
    if isinstance(schema, list):  # union: branch index then value
        return _avro_decode(buf, schema[buf.varlong()], names)
    t = schema["type"]
    lt = schema.get("logicalType")
    if lt is not None:
        # register the FULL annotated schema for by-name references, and
        # strip the name from the decode copy — recursing with a named
        # stripped copy would overwrite the registration, so a later
        # reference to a named fixed decimal would decode as raw bytes
        if schema.get("name"):
            names[schema["name"]] = schema
        # cache the stripped copy in `names` under a reserved key (\x00
        # can't collide with Avro names): the strip would otherwise run
        # once per VALUE in the executor decode loop
        ck = "\x00strip:%d" % id(schema)
        base = names.get(ck)
        if base is None:
            base = {
                k: v for k, v in schema.items() if k not in ("logicalType", "name")
            }
            names[ck] = base
        raw = _avro_decode(buf, base, names)
        return _avro_logical_value(lt, t, raw, schema)
    if t == "record":
        if schema.get("name"):
            names[schema["name"]] = schema
        return {
            f["name"]: _avro_decode(buf, f["type"], names) for f in schema["fields"]
        }
    if t == "enum":
        return schema["symbols"][buf.varlong()]
    if t == "fixed":
        if schema.get("name"):
            names[schema["name"]] = schema
        return bytes(buf.read(schema["size"]))
    if t == "array":
        out = []
        while True:
            n = buf.varlong()
            if n == 0:
                break
            if n < 0:  # block with byte size prefix
                buf.varlong()
                n = -n
            for _ in range(n):
                out.append(_avro_decode(buf, schema["items"], names))
        return out
    if t == "map":
        out = {}
        while True:
            n = buf.varlong()
            if n == 0:
                break
            if n < 0:
                buf.varlong()
                n = -n
            for _ in range(n):
                k = buf.read(buf.varlong()).decode("utf-8")
                out[k] = _avro_decode(buf, schema["values"], names)
        return out
    return _avro_decode(buf, t, names)  # {"type": "string"} wrapper form


def _dec_to_unscaled(v, scale: int) -> int:
    """decimal.Decimal → exact unscaled integer at ``scale`` — via digit
    arithmetic, NOT ``scaleb`` (whose result is rounded to the active
    context's 28-digit default precision: silent corruption for any
    decimal with more significant digits, while schemas advertise up to
    38)."""
    sign, digits, exp = v.as_tuple()
    unscaled = int("".join(map(str, digits)) or "0")
    shift = exp + scale
    if shift >= 0:
        unscaled *= 10 ** shift
    else:
        q = 10 ** (-shift)
        if unscaled % q:
            raise ValueError(
                f"decimal {v} has more fractional digits than scale {scale}"
            )
        unscaled //= q
    return -unscaled if sign else unscaled


def _unscaled_to_dec(unscaled: int, scale: int):
    """Exact inverse of :func:`_dec_to_unscaled` (context-independent)."""
    import decimal as _decimal

    sign = 0 if unscaled >= 0 else 1
    digits = tuple(int(c) for c in str(abs(unscaled)))
    return _decimal.Decimal((sign, digits, -scale))


def _avro_logical_value(lt: str, t: str, raw, schema):
    """Avro logical-type annotation → typed Python value (spec §Logical
    Types). Unknown logical types return the raw base value, as the spec
    directs for readers unaware of an annotation."""
    import datetime as _dt
    import decimal as _decimal  # noqa: F401

    if lt == "date" and t == "int":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=raw)
    if lt in ("timestamp-micros", "timestamp-millis") and t == "long":
        # UTC instants: keep the raw epoch long (see _avro_to_spark_type)
        return raw
    if lt == "local-timestamp-micros" and t == "long":
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=raw)
    if lt == "local-timestamp-millis" and t == "long":
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=raw)
    if lt == "decimal" and t in ("bytes", "fixed"):
        unscaled = int.from_bytes(raw, "big", signed=True)
        return _unscaled_to_dec(unscaled, int(schema.get("scale", 0)))
    return raw


def _register_names(schema, names: dict):
    """Pre-walk named types so forward references resolve."""
    if isinstance(schema, dict):
        if schema.get("type") in ("record", "fixed", "enum") and schema.get("name"):
            # register BOTH the bare name and the namespace-qualified
            # fullname: references may use either form (Avro spec), and a
            # dotted name embedded in "name" is already full
            nm = schema["name"]
            names[nm] = schema
            ns = schema.get("namespace")
            if ns and "." not in nm:
                names[f"{ns}.{nm}"] = schema
        for f in schema.get("fields", []) or []:
            _register_names(f.get("type"), names)
        for k in ("items", "values"):
            if k in schema:
                _register_names(schema[k], names)
    elif isinstance(schema, list):
        for s in schema:
            _register_names(s, names)


def _avro_header(f) -> tuple[dict, str, bytes, int]:
    """(writer schema, codec, sync marker, first block offset)."""
    if f.read(4) != b"Obj\x01":
        raise ValueError("not an Avro object container file")
    read_size = 1 << 20
    while True:
        f.seek(4)
        raw = f.read(read_size)
        buf = _Buf(raw)
        meta: dict[str, bytes] = {}
        try:
            while True:
                n = buf.varlong()
                if n == 0:
                    break
                if n < 0:
                    buf.varlong()
                    n = -n
                for _ in range(n):
                    k = buf.read(buf.varlong()).decode("utf-8")
                    meta[k] = bytes(buf.read(buf.varlong()))
            sync = bytes(buf.read(16))
            break
        except ValueError:
            # header (huge writer schema) outgrew the buffer: refill bigger
            if len(raw) < read_size:
                raise ValueError("truncated avro header") from None
            read_size *= 4
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(
            f"unsupported avro codec {codec!r} (null/deflate/snappy only)"
        )
    return schema, codec, sync, 4 + buf.p


def _avro_block_bytes(raw: bytes, codec: str) -> bytes:
    """One Avro block payload → uncompressed bytes. Snappy blocks carry a
    big-endian CRC32 of the UNCOMPRESSED data as their last 4 bytes
    (Avro spec) — verified here, a free end-to-end check on the stdlib
    snappy decode."""
    if codec == "deflate":
        return zlib.decompressobj(-15).decompress(raw)
    if codec == "snappy":
        from intake_spark.compress import snappy_uncompress

        if len(raw) < 4:
            raise ValueError("snappy avro block missing its CRC32 suffix")
        data = snappy_uncompress(raw[:-4])
        want = int.from_bytes(raw[-4:], "big")
        if (zlib.crc32(data) & 0xFFFFFFFF) != want:
            raise ValueError("snappy avro block CRC32 mismatch")
        return data
    return raw


def _avro_block_index(f, sync: bytes, start: int) -> list[tuple[int, int, int]]:
    """[(data offset, stored size, record count)] — skips block payloads."""
    out = []
    f.seek(start)
    while True:
        head = f.read(20)  # enough for two varints
        if not head:
            return out
        buf = _Buf(head)
        try:
            count = buf.varlong()
            size = buf.varlong()
        except ValueError:
            return out
        data_off = f.tell() - len(head) + buf.p
        f.seek(data_off + size)
        if f.read(16) != sync:
            raise ValueError("avro sync marker mismatch (corrupt block)")
        out.append((data_off, size, count))


def decode_avro_file(path: str) -> list[dict]:
    """Whole-file decode (driver-side) — used for Iceberg manifests, which
    are small metadata files by design."""
    with open(path, "rb") as f:
        schema, codec, sync, start = _avro_header(f)
        names: dict = {}
        _register_names(schema, names)
        blocks = _avro_block_index(f, sync, start)
        out = []
        for off, size, count in blocks:
            f.seek(off)
            raw = _avro_block_bytes(f.read(size), codec)
            buf = _Buf(raw)
            for _ in range(count):
                out.append(_avro_decode(buf, schema, dict(names)))
    return out


def write_avro_ocf(
    path: str,
    schema: dict,
    count: int,
    body: bytes,
    sync: bytes,
    codec: str = "null",
    meta: dict | None = None,
) -> None:
    """THE Avro OCF writer: one object container file holding ``count``
    records already encoded in ``body`` as one block — the ``Obj\\x01``
    header, the metadata map (writer schema, codec, then ``meta``), the
    16-byte ``sync`` marker, and the block. The inverse of
    :func:`decode_avro_file`. ``codec`` is "null", "deflate" (raw
    deflate) or "snappy", whose blocks end with a big-endian CRC32 of
    the uncompressed data (Avro spec)."""
    if codec == "deflate":
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        body = co.compress(body) + co.flush()
    elif codec == "snappy":
        from intake_spark.compress import snappy_compress

        crc = zlib.crc32(body) & 0xFFFFFFFF
        body = snappy_compress(body) + crc.to_bytes(4, "big")
    elif codec != "null":
        raise ValueError(f"unsupported avro codec {codec!r} (null/deflate/snappy only)")
    hdr_meta = {b"avro.schema": json.dumps(schema).encode(), b"avro.codec": codec.encode()}
    for k, v in (meta or {}).items():
        hdr_meta[k.encode() if isinstance(k, str) else k] = (
            v.encode() if isinstance(v, str) else v
        )
    out = bytearray(b"Obj\x01")
    out += _avro_zz(len(hdr_meta))
    for k, v in hdr_meta.items():
        out += _avro_zz(len(k)) + k + _avro_zz(len(v)) + v
    out += b"\x00" + sync
    out += _avro_zz(count) + _avro_zz(len(body)) + bytes(body) + sync
    with open(path, "wb") as f:
        f.write(bytes(out))


def _avro_to_spark_type(schema, names: dict):
    from pyspark.sql import types as T

    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
    }
    if isinstance(schema, str):
        if schema in names:
            return _avro_to_spark_type(names[schema], names)
        if schema in prim:
            return prim[schema]
        raise ValueError(f"cannot map avro type {schema!r}")
    if isinstance(schema, list):
        branches = [s for s in schema if s != "null"]
        if len(branches) != 1:
            raise ValueError("only [null, X] avro unions are supported")
        return _avro_to_spark_type(branches[0], names)
    t = schema["type"]
    lt = schema.get("logicalType")
    if lt is not None:
        # Avro logical types (spec §Logical Types) — the annotations real
        # writers (fastavro, Java, spark-avro) put on every date/
        # timestamp/decimal column; without the mapping they surface as
        # raw ints/bytes
        if lt == "date" and t == "int":
            return T.DateType()
        if lt in ("timestamp-micros", "timestamp-millis") and t == "long":
            # UTC-adjusted instants stay LONG through the Arrow hop (a
            # naive datetime would be re-interpreted in the session
            # timezone); AvroOCFReader post-converts its TOP-LEVEL
            # timestamp columns to LTZ via timestamp_micros() JVM-side —
            # nested ones surface as epoch longs, documented
            return T.LongType()
        if (
            lt in ("local-timestamp-micros", "local-timestamp-millis")
            and t == "long"
        ):
            return T.TimestampNTZType()
        if lt == "decimal" and t in ("bytes", "fixed"):
            return T.DecimalType(schema.get("precision", 38), schema.get("scale", 0))
        if lt == "uuid" and t == "string":
            return T.StringType()
        # time-micros/time-millis and unknown logical types: fall through
        # to the base type (spec: readers unaware of a logical type use
        # the underlying Avro type)
    if t == "record":
        return T.StructType(
            [
                T.StructField(
                    f["name"], _avro_to_spark_type(f["type"], names), True
                )
                for f in schema["fields"]
            ]
        )
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "array":
        return T.ArrayType(_avro_to_spark_type(schema["items"], names))
    if t == "map":
        return T.MapType(T.StringType(), _avro_to_spark_type(schema["values"], names))
    if t in prim:
        return prim[t]
    return _avro_to_spark_type(t, names)


def _avro_logical_fingerprint(schema: dict) -> list:
    """(field name, top-level logicalType) pairs — the annotation signal
    the Spark-type comparison erases (timestamp-micros/millis → long)."""
    out = []
    for f in schema.get("fields", []) or []:
        ft = f.get("type")
        if isinstance(ft, list):
            ft = next((b for b in ft if b != "null"), None)
        lt = ft.get("logicalType") if isinstance(ft, dict) else None
        out.append((f.get("name"), lt))
    return out


class AvroOCFReader(BaseReader):
    """Avro object container file(s) → DataFrame, stdlib-only (parity:
    SparkAvro, reference readers.py:536, which needs the spark-avro jar).

    Driver walks headers + block indexes (no record decode); each executor
    task inflates and decodes one run of blocks via mapInPandas. Top-level
    schema must be a record (the normal OCF shape); [null, X] unions map to
    nullable columns, deflate and null codecs supported.
    """

    implements = {dt.AVRO}
    # lower priority wins: prefer the reader that cannot ClassNotFound —
    # the jar-backed SparkAvro is still selectable explicitly on clusters
    # that ship the avro package
    priority = -1

    def _read(self, spark, blocks_per_task: int = 64, **kwargs):
        import glob as _glob

        url = self.data.url
        if os.path.isdir(url):  # Spark writers emit directories of part files
            url = os.path.join(url, "*.avro")
        paths = sorted(p for p in _glob.glob(url) if os.path.isfile(p)) or [url]
        manifest = []  # (path, codec, writer schema, block runs)
        schema0 = codec0 = None
        spark_schema = None
        for p in paths:
            with open(p, "rb") as f:
                schema, codec, sync, start = _avro_header(f)
                blocks = _avro_block_index(f, sync, start)
            if schema0 is None:
                if not isinstance(schema, dict) or schema.get("type") != "record":
                    raise ValueError("AvroOCFReader needs a top-level record schema")
                schema0, codec0 = schema, codec
                names: dict = {}
                _register_names(schema0, names)
                spark_schema = _avro_to_spark_type(schema0, names)
            else:
                # schema evolution across part files: every file decodes
                # with its OWN writer schema (field boundaries differ!);
                # the column set/types must still agree or the scan would
                # silently misalign. Spark types alone don't suffice: the
                # UTC-timestamp logical types map to LongType, so a plain
                # long column in one file would silently receive the
                # timestamp_micros post-conversion — compare the
                # top-level logicalType fingerprint too.
                n2: dict = {}
                _register_names(schema, n2)
                if _avro_to_spark_type(schema, n2) != spark_schema or (
                    _avro_logical_fingerprint(schema)
                    != _avro_logical_fingerprint(schema0)
                ):
                    raise ValueError(
                        f"avro file {p} has an incompatible writer schema; "
                        "read evolved files separately and unionByName them"
                    )
            sj = json.dumps(schema)
            for i in range(0, len(blocks), blocks_per_task):
                run = blocks[i : i + blocks_per_task]
                manifest.append((p, codec, sj, json.dumps(run)))
        self.data.metadata.update({"avro_schema": schema0, "codec": codec0})

        def decode(r, _fh):
            rows = []
            writer_schema = json.loads(r.wschema)
            with open(r.path, "rb") as f:
                for off, size, count in json.loads(r.runs):
                    f.seek(off)
                    raw = _avro_block_bytes(f.read(size), r.codec)
                    buf = _Buf(raw)
                    base: dict = {}
                    _register_names(writer_schema, base)
                    for _i in range(count):
                        rows.append(_avro_decode(buf, writer_schema, base))
            yield rows

        out = manifest_rows(
            spark, manifest, "path string, codec string, wschema string, runs string",
            spark_schema, decode,
        )
        # top-level UTC-timestamp logical types: convert the epoch longs
        # to LTZ instants JVM-side (timestamp_micros is timezone-proof;
        # naive datetimes through Arrow would shift under non-UTC
        # sessions)
        from pyspark.sql import functions as F

        sel = []
        converted = False
        for fld in schema0["fields"]:
            ft = fld["type"]
            if isinstance(ft, list):
                ft = next((b for b in ft if b != "null"), ft[0])
            lt = ft.get("logicalType") if isinstance(ft, dict) else None
            if lt == "timestamp-micros":
                sel.append(F.timestamp_micros(F.col(fld["name"])).alias(fld["name"]))
                converted = True
            elif lt == "timestamp-millis":
                sel.append(
                    F.timestamp_micros(F.col(fld["name"]) * 1000).alias(fld["name"])
                )
                converted = True
            else:
                sel.append(F.col(fld["name"]))
        return out.select(*sel) if converted else out


# --------------------------------------------------------------------------
# Delta Lake
# --------------------------------------------------------------------------


def _parse_ts_ms(timestamp: str) -> int:
    """ISO ``YYYY-MM-DD[ HH:MM:SS]`` (T or space) → UTC epoch millis —
    the shared timestampAsOf parser for the Delta AND Iceberg readers."""
    import datetime as _dt

    t = timestamp.strip().replace("T", " ")
    fmt = "%Y-%m-%d %H:%M:%S" if " " in t else "%Y-%m-%d"
    return int(
        _dt.datetime.strptime(t, fmt).replace(tzinfo=_dt.timezone.utc).timestamp() * 1000
    )


def _delta_version_at(log: str, timestamp: str) -> int:
    """timestampAsOf semantics: the newest version whose commit timestamp
    (the ``commitInfo.timestamp`` millis, else the commit file's mtime)
    is <= the target. ``timestamp`` is ISO ``YYYY-MM-DD[ HH:MM:SS]``,
    interpreted as UTC."""
    target_ms = _parse_ts_ms(timestamp)
    best = None
    for f in sorted(os.listdir(log)):
        if not re.fullmatch(r"\d{20}\.json", f):
            continue
        ver = int(f[:20])
        ts_ms = None
        with open(os.path.join(log, f)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                act = json.loads(line)
                if "commitInfo" in act and act["commitInfo"].get("timestamp"):
                    ts_ms = int(act["commitInfo"]["timestamp"])
                    break
        if ts_ms is None:
            ts_ms = int(os.stat(os.path.join(log, f)).st_mtime * 1000)
        if ts_ms <= target_ms:
            best = ver
    if best is None:
        # all surviving commits are newer — on a checkpointed table whose
        # pre-checkpoint commits were cleaned by log retention, the
        # checkpoint is the oldest reconstructable snapshot; resolve to it
        # rather than refusing a query the table can still answer. Only
        # when the checkpoint's own commit is among the vacuumed (older
        # than every surviving commit): a surviving same-version commit
        # with a newer timestamp means the table genuinely postdates t.
        last_ck = os.path.join(log, "_last_checkpoint")
        if os.path.exists(last_ck):
            with open(last_ck) as f:
                ck_ver = int(json.load(f)["version"])
            surviving = [
                int(f[:20])
                for f in os.listdir(log)
                if re.fullmatch(r"\d{20}\.json", f)
            ]
            if not surviving or ck_ver < min(surviving):
                return ck_ver
        raise ValueError(
            f"no Delta commit at or before {timestamp!r} (table is newer)"
        )
    return best


def delta_log_state(log: str, spark, version: int | None = None) -> dict:
    """THE Delta log replay — the reader, ``delta_checkpoint`` and
    ``output.to_delta`` all resolve table state through this one helper
    (three hand-maintained replicas had already diverged: the writer's
    copy ignored checkpoints, silently corrupting overwrites of
    checkpointed tables whose old commits were vacuumed).

    Seeds from the newest usable parquet checkpoint (single-file and
    multi-part naming; raises on missing files, names the v2/UUID
    sidecar gate), replays surviving JSON commits above it, honoring an
    optional ``version=`` ceiling. Returns ``{"version": newest resolved
    version (-1 for an empty log), "adds": {path: add action dict},
    "meta": metaData | None, "protocol": protocol | None,
    "txns": {appId: latest version}}`` (the streaming-writer
    idempotence ladder)."""
    commits = sorted(f for f in os.listdir(log) if re.fullmatch(r"\d{20}\.json", f))
    newest = max([int(c[:20]) for c in commits] or [-1])
    last_ck = os.path.join(log, "_last_checkpoint")
    ck = None
    if os.path.exists(last_ck):
        with open(last_ck) as f:
            ck = json.load(f)
        newest = max(newest, int(ck["version"]))
    if version is not None:
        if version > newest:
            raise ValueError(
                f"Delta version {version} does not exist (latest is {newest})"
            )
        # state may come entirely from a checkpoint <= version (older
        # JSON commits can be vacuumed), so an empty commit list is not
        # an error here — a missing metaData is, at the caller
        commits = [c for c in commits if int(c[:20]) <= version]
        newest = max(
            [int(c[:20]) for c in commits]
            + ([int(ck["version"])] if ck and int(ck["version"]) <= version else [])
            + [-1]
        )
    adds: dict[str, dict] = {}
    meta = None
    protocol = None
    txns: dict[str, int] = {}
    ckpt_version = -1
    if ck is not None and (version is None or int(ck["version"]) <= version):
        ckpt_version = int(ck["version"])
        base = f"{ckpt_version:020d}.checkpoint"
        if ck.get("parts"):
            parts = int(ck["parts"])
            ck_paths = [
                os.path.join(log, f"{base}.{i:010d}.{parts:010d}.parquet")
                for i in range(1, parts + 1)
            ]
        else:
            ck_paths = [os.path.join(log, f"{base}.parquet")]
        missing = [p for p in ck_paths if not os.path.exists(p)]
        if missing:
            # v2/UUID checkpoints use a different naming + sidecars
            import glob as _glob

            if _glob.glob(os.path.join(log, f"{base}.*")):
                raise ValueError(
                    "Delta v2 (UUID/sidecar) checkpoints not supported "
                    "by this stdlib reader"
                )
            raise ValueError(f"checkpoint files missing: {missing}")
        cdf = spark.read.parquet(*ck_paths)
        ck_cols = ["add", "remove", "metaData", "protocol"] + (
            ["txn"] if "txn" in cdf.columns else []
        )
        for row in cdf.select(*ck_cols).collect():
            if row.add and row.add.path:
                adds[row.add.path] = row.add.asDict(recursive=True)
            if row.remove and row.remove.path:
                adds.pop(row.remove.path, None)
            if row.metaData and row.metaData.schemaString:
                meta = row.metaData.asDict(recursive=True)
            if row.protocol and row.protocol.minReaderVersion is not None:
                protocol = row.protocol.asDict(recursive=True)
            if "txn" in ck_cols and row.txn and row.txn.appId:
                txns[row.txn.appId] = int(row.txn.version or 0)
    for c in commits:
        if int(c[:20]) <= ckpt_version:
            continue
        with open(os.path.join(log, c)) as f:
            for line in f:
                if not line.strip():
                    continue
                act = json.loads(line)
                if "add" in act:
                    adds[act["add"]["path"]] = act["add"]
                elif "remove" in act:
                    adds.pop(act["remove"]["path"], None)
                elif "metaData" in act:
                    meta = act["metaData"]
                elif "protocol" in act:
                    protocol = act["protocol"]
                elif "txn" in act:
                    # streaming-writer ladder: latest version per appId
                    t = act["txn"]
                    txns[t["appId"]] = int(t.get("version") or 0)
    return {
        "version": newest,
        "adds": adds,
        "meta": meta,
        "protocol": protocol,
        "txns": txns,
    }


def delta_checkpoint(url: str, spark=None) -> int:
    """Write a parquet checkpoint of the CURRENT table state + the
    ``_last_checkpoint`` pointer — the log-compaction step that bounds
    replay cost at high version counts (the reader consumes these
    already; a checkpoint every N commits keeps replay O(N) regardless of
    table age). Returns the checkpointed version. Columns follow the
    public checkpoint schema subset the reader replays: add / remove /
    metaData / protocol structs, one action per row."""
    from intake_spark.session import get_session

    spark = spark or get_session()
    root = url.rstrip("/")
    log = os.path.join(root, "_delta_log")
    commits = sorted(f for f in os.listdir(log) if re.fullmatch(r"\d{20}\.json", f))
    if not commits:
        raise ValueError(f"{root} has no JSON commits to checkpoint")
    state = delta_log_state(log, spark)
    version, adds, meta = state["version"], state["adds"], state["meta"]
    protocol = state["protocol"] or {"minReaderVersion": 1, "minWriterVersion": 2}
    if meta is None:
        raise ValueError("Delta log contains no metaData action")

    from pyspark.sql import types as T

    dv_t = T.StructType(
        [
            T.StructField("storageType", T.StringType()),
            T.StructField("pathOrInlineDv", T.StringType()),
            T.StructField("offset", T.IntegerType()),
            T.StructField("sizeInBytes", T.IntegerType()),
            T.StructField("cardinality", T.LongType()),
        ]
    )
    add_t = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
            T.StructField("size", T.LongType()),
            T.StructField("modificationTime", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
            T.StructField("deletionVector", dv_t),
        ]
    )
    remove_t = T.StructType([T.StructField("path", T.StringType())])
    meta_t = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("format", T.StructType(
                [T.StructField("provider", T.StringType()),
                 T.StructField("options", T.MapType(T.StringType(), T.StringType()))]
            )),
            T.StructField("schemaString", T.StringType()),
            T.StructField("partitionColumns", T.ArrayType(T.StringType())),
            T.StructField("configuration", T.MapType(T.StringType(), T.StringType())),
            T.StructField("createdTime", T.LongType()),
        ]
    )
    proto_t = T.StructType(
        [T.StructField("minReaderVersion", T.IntegerType()),
         T.StructField("minWriterVersion", T.IntegerType()),
         T.StructField("readerFeatures", T.ArrayType(T.StringType())),
         T.StructField("writerFeatures", T.ArrayType(T.StringType()))]
    )
    txn_t = T.StructType(
        [T.StructField("appId", T.StringType()),
         T.StructField("version", T.LongType())]
    )
    schema = T.StructType(
        [T.StructField("add", add_t), T.StructField("remove", remove_t),
         T.StructField("metaData", meta_t), T.StructField("protocol", proto_t),
         T.StructField("txn", txn_t)]
    )
    rows = [
        {"protocol": {"minReaderVersion": int(protocol.get("minReaderVersion", 1)),
                      "minWriterVersion": int(protocol.get("minWriterVersion", 2)),
                      "readerFeatures": protocol.get("readerFeatures"),
                      "writerFeatures": protocol.get("writerFeatures")}},
        {"metaData": {
            "id": meta.get("id", ""),
            "format": meta.get("format", {"provider": "parquet", "options": {}}),
            "schemaString": meta.get("schemaString", ""),
            "partitionColumns": list(meta.get("partitionColumns") or []),
            "configuration": dict(meta.get("configuration") or {}),
            "createdTime": int(meta.get("createdTime") or 0),
        }},
    ]
    for a in adds.values():
        dv = a.get("deletionVector")
        rows.append({"add": {
            "path": a["path"],
            "partitionValues": dict(a.get("partitionValues") or {}),
            "size": int(a.get("size") or 0),
            "modificationTime": int(a.get("modificationTime") or 0),
            "dataChange": bool(a.get("dataChange", True)),
            # descriptors MUST survive the checkpoint: dropping them
            # silently resurrects every DV-deleted row on the next read
            "deletionVector": None if not dv else {
                "storageType": dv.get("storageType", "u"),
                "pathOrInlineDv": dv["pathOrInlineDv"],
                "offset": None if dv.get("offset") is None
                else int(dv["offset"]),
                "sizeInBytes": int(dv["sizeInBytes"]),
                "cardinality": int(dv.get("cardinality") or 0),
            },
        }})
    for app_id, app_v in sorted((state.get("txns") or {}).items()):
        # the streaming idempotence ladder must survive the checkpoint,
        # or a restarted stream re-appends every batch
        rows.append({"txn": {"appId": app_id, "version": int(app_v)}})
    ckpt_tmp = os.path.join(log, f"_ckpt_tmp_{version}")
    local_frame(spark, rows, schema).coalesce(1).write.mode("overwrite").parquet(ckpt_tmp)
    part = next(
        f for f in os.listdir(ckpt_tmp) if f.endswith(".parquet")
    )
    final = os.path.join(log, f"{version:020d}.checkpoint.parquet")
    os.replace(os.path.join(ckpt_tmp, part), final)
    import shutil

    shutil.rmtree(ckpt_tmp)
    # atomic pointer swap: a concurrent reader must never observe a
    # truncated _last_checkpoint (open('w') truncates before writing)
    lc_tmp = os.path.join(log, "_last_checkpoint.tmp")
    with open(lc_tmp, "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)
    os.replace(lc_tmp, os.path.join(log, "_last_checkpoint"))
    return version


class StagedWrite:
    """The data files one :func:`stage_parquet` call moved into a table:
    ``files`` holds (path relative to ``root``, decoded hive partition
    values, size in bytes), sorted by path; ``dirs`` holds the
    directories the move created."""

    def __init__(self, root: str):
        self.root = root
        self.files: list[tuple[str, dict, int]] = []
        self.dirs: list[str] = []

    def discard(self) -> None:
        """Undo the move-in: delete the moved files, then each directory
        the move created (deepest first) if it is empty. A directory
        that was already there is never removed."""
        for rel, _pvals, _size in self.files:
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                os.remove(p)
        for d in sorted(set(self.dirs), key=len, reverse=True):
            if os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)


def stage_parquet(
    df,
    root: str,
    partition_by=(),
    options: dict | None = None,
    dest: str = "",
    file_prefix: str = "",
    key_prefix: str = "",
) -> StagedWrite:
    """THE staged write behind every jar-free lakehouse sink: one
    distributed parquet write of ``df`` into ``<root>/_staging_<uuid>``,
    then each data file moves to
    ``<root>/<dest><partition dirs>/<file_prefix><name>`` and the stage
    is removed. ``key_prefix`` is stripped from partition-directory
    keys (``to_iceberg`` partitions by derived ``__ipart__<name>``
    columns). Partition values decode with Spark's own rules
    (:func:`unescape_hive_segment`); directory names keep Spark's
    escaping. A failure part-way through discards what was moved."""
    import shutil
    import uuid

    stage = os.path.join(root, f"_staging_{uuid.uuid4().hex[:12]}")
    out = StagedWrite(root)
    try:
        w = df.write.mode("overwrite").options(**(options or {}))
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(stage)
        for dirpath, _dirs, files in os.walk(stage):
            rel_dir = os.path.relpath(dirpath, stage)
            segs, pvals = [], {}
            for seg in [] if rel_dir == "." else rel_dir.split(os.sep):
                k, eq, v = seg.partition("=")
                if eq:
                    k = k.removeprefix(key_prefix)
                    pvals[k] = unescape_hive_segment(v)
                    seg = f"{k}={v}"
                segs.append(seg)
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                rel = dest + "/".join(segs + [file_prefix + fn])
                dst = os.path.join(root, rel)
                d = os.path.dirname(dst)
                while d != root and not os.path.isdir(d):
                    out.dirs.append(d)
                    d = os.path.dirname(d)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(dirpath, fn), dst)
                out.files.append((rel, pvals, os.path.getsize(dst)))
    except BaseException:
        out.discard()
        raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    out.files.sort(key=lambda f: f[0])
    return out


def delta_commit(
    root: str,
    version: int,
    actions: list[dict],
    staged: StagedWrite | None = None,
    operation: str = "write",
) -> None:
    """THE Delta commit: ``actions`` become ``_delta_log/<version>.json``,
    created put-if-absent as the protocol requires. When a concurrent
    writer claimed ``version`` first, the winner's commit stays as it
    is: this commit's staged files are discarded and
    :class:`ConcurrentWriteError` raises."""
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    try:
        with open(os.path.join(log, f"{version:020d}.json"), "x") as f:
            f.write("".join(json.dumps(a) + "\n" for a in actions))
    except FileExistsError:
        if staged is not None:
            staged.discard()
        raise ConcurrentWriteError(
            f"{operation} lost the commit race for version {version} of "
            f"{root}; its staged files were removed — re-run it against "
            "the new table state"
        ) from None


def delta_scan(spark, root: str, schema, part_cols: list[str], files: dict):
    """THE Delta file-set scan: ``files`` maps each data file's disk path
    (relative to ``root``) to its add action. The log's partitionValues
    are authoritative; the hive-style dir layout is only a convention.
    When every path encodes its own partition values hive-style (the
    layout every mainstream writer produces), read via basePath: the
    full table schema pins partition column types so filters prune
    statically at the file listing. Otherwise read each partition group
    with literal columns (constant-folded, so partition filters still
    prune whole branches at plan time). Deletion vectors on the adds
    apply as a LEFT ANTI join on ``_metadata.row_index``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    paths = [os.path.join(root, p) for p in sorted(files)]
    names = [f.name for f in schema.fields]
    dv_adds = [
        (os.path.join(root, p), a["deletionVector"])
        for p, a in sorted(files.items())
        if a.get("deletionVector")
    ]

    def with_dvs(out):
        if not dv_adds:
            return out
        out = out.withColumn(
            "__file",
            F.regexp_replace(F.col("_metadata.file_path"), _FILE_URI_RE, "/"),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        return _apply_delta_dvs(spark, out, dv_adds, root, names)

    if not part_cols:
        return with_dvs(spark.read.schema(schema).parquet(*paths))

    def hive_consistent(p: str, pv: dict) -> bool:
        segs = dict(s.split("=", 1) for s in p.split("/")[:-1] if "=" in s)
        # __HIVE_DEFAULT_PARTITION__ decodes to None and must pair with a
        # null partitionValues entry (log null != empty string)
        return all(
            c in segs and unescape_hive_segment(segs[c]) == pv.get(c)
            for c in part_cols
        )

    if all(
        hive_consistent(p, a.get("partitionValues") or {})
        for p, a in files.items()
    ):
        out = spark.read.schema(schema).option("basePath", root).parquet(*paths)
        return with_dvs(out).select(*names)
    if dv_adds:
        raise ValueError(
            "Delta deletion vectors on a non-hive-laid-out partitioned "
            "table are not supported (no mainstream writer produces "
            "this combination)"
        )
    data_schema = T.StructType([f for f in schema.fields if f.name not in part_cols])
    groups: dict[tuple, list[str]] = {}
    for p, a in files.items():
        pv = a.get("partitionValues") or {}
        groups.setdefault(tuple(pv.get(c) for c in part_cols), []).append(
            os.path.join(root, p)
        )
    out = None
    # str() sort key: a null partition value makes tuples unorderable
    for pv, gpaths in sorted(groups.items(), key=lambda kv: str(kv[0])):
        g = spark.read.schema(data_schema).parquet(*sorted(gpaths))
        for c, v in zip(part_cols, pv):
            g = g.withColumn(c, F.lit(v).cast(schema[c].dataType))
        g = g.select(*names)
        out = g if out is None else out.unionByName(g)
    return out


class DeltaLakeReader(BaseReader):
    """Delta table → DataFrame by replaying ``_delta_log`` stdlib-side
    (parity: SparkDeltaLake, reference readers.py:550, which needs the
    delta-spark jar). Supports JSON commits + parquet checkpoints, remove
    actions, partitioned tables (hive-layout paths via basePath so Catalyst
    still prunes partitions), ``version=`` time travel, and column mapping
    (mode name/id: scan under physical col-<uuid> names, rename back to
    logical, nested fields included), and deletion vectors (stdlib
    Z85 + RoaringBitmapArray decode on executors, applied as a LEFT
    ANTI join on ``_metadata.row_index``)."""

    implements = {dt.DeltalakeTable}
    priority = -1  # see AvroOCFReader: never ClassNotFound by default

    def _read(
        self,
        spark,
        version: int | None = None,
        timestamp: str | None = None,
        **kwargs,
    ):
        from pyspark.sql import types as T

        root = self.data.url.rstrip("/")
        log = os.path.join(root, "_delta_log")
        if not os.path.isdir(log):
            raise ValueError(f"{root} has no _delta_log — not a Delta table")
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version= or timestamp=, not both")
            version = _delta_version_at(log, timestamp)
        # delta_log_state replays exactly 20-digit commit names only:
        # log-compaction files (<start>.<end>.compacted.json) must NOT be
        # replayed — their constituent commits are listed (and replayed)
        # individually, and a compaction spanning past a `version=` target
        # would smuggle in actions from commits beyond the requested
        # snapshot. Checkpoint fast-path (single + multi-part naming) is
        # used for time travel too when it predates the target version.
        state = delta_log_state(log, spark, version=version)
        adds, meta, protocol = state["adds"], state["meta"], state["protocol"]
        if meta is None:
            raise ValueError("Delta log contains no metaData action")
        if protocol:
            feats = set(protocol.get("readerFeatures") or [])
            unsupported = feats - {"columnMapping", "deletionVectors"}
            if protocol.get("minReaderVersion", 1) >= 3 and unsupported:
                raise ValueError(
                    f"unsupported Delta reader features {sorted(unsupported)} "
                    "(this stdlib reader handles the base protocol + "
                    "columnMapping + deletionVectors)"
                )
        cmap = (meta.get("configuration") or {}).get("delta.columnMapping.mode")
        if cmap not in (None, "none", "name", "id"):
            raise ValueError(f"Delta column mapping mode {cmap!r} not supported")
        logical_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        mapped = cmap in ("name", "id") and _delta_cm_active(logical_schema)
        # column mapping (mode name/id): data files carry PHYSICAL names
        # (col-<uuid>, recorded per field as delta.columnMapping.
        # physicalName — both modes store it). Scan with the physical
        # schema, rename back to logical at the end; partitionValues keys
        # and hive dirs are physical too.
        schema = _delta_cm_physical(logical_schema) if mapped else logical_schema
        lpart_cols = list(meta.get("partitionColumns") or [])
        if mapped:
            l2p = {
                f.name: f.metadata.get("delta.columnMapping.physicalName", f.name)
                for f in logical_schema.fields
            }
            part_cols = [l2p.get(c, c) for c in lpart_cols]
        else:
            part_cols = lpart_cols
        self.data.metadata.update(
            {"partition_columns": lpart_cols, "n_files": len(adds)}
        )
        if not adds:
            return local_frame(spark, [], logical_schema)
        from urllib.parse import unquote

        # add.path is RFC 2396 URI-encoded per the Delta protocol
        rel = {unquote(p): a for p, a in adds.items()}
        out = delta_scan(spark, root, schema, part_cols, rel)
        return _delta_cm_rename(out, logical_schema) if mapped else out


_CM_KEY = "delta.columnMapping.physicalName"


def _delta_cm_active(schema) -> bool:
    """Does any field (nested included) carry a physicalName annotation?"""

    def walk(dtype) -> bool:
        tn = dtype.typeName()
        if tn == "struct":
            return any(
                _CM_KEY in (f.metadata or {}) or walk(f.dataType)
                for f in dtype.fields
            )
        if tn == "array":
            return walk(dtype.elementType)
        if tn == "map":
            return walk(dtype.keyType) or walk(dtype.valueType)
        return False

    return walk(schema)


def _delta_cm_physical(schema):
    """Logical StructType -> the physical one the parquet files carry:
    every field renamed to its delta.columnMapping.physicalName
    (recursively — nested struct fields are annotated too)."""
    from pyspark.sql import types as T

    def conv(dtype):
        tn = dtype.typeName()
        if tn == "struct":
            return T.StructType(
                [
                    T.StructField(
                        (f.metadata or {}).get(_CM_KEY, f.name),
                        conv(f.dataType),
                        f.nullable,
                    )
                    for f in dtype.fields
                ]
            )
        if tn == "array":
            return T.ArrayType(conv(dtype.elementType), dtype.containsNull)
        if tn == "map":
            return T.MapType(
                conv(dtype.keyType),
                conv(dtype.valueType),
                dtype.valueContainsNull,
            )
        return dtype

    return conv(schema)


def _delta_cm_rename(df, logical_schema):
    """Physical-named scan -> logical column names, preserving nested
    structure (struct fields rebuilt with F.struct keep null structs
    null via an isNull guard; arrays/maps of structs rename through
    transform/transform_values)."""
    from pyspark.sql import functions as F

    def strip_meta(dtype):
        # logical dtype WITHOUT metadata, for the null cast
        from pyspark.sql import types as T

        def conv(d):
            tn = d.typeName()
            if tn == "struct":
                return T.StructType(
                    [
                        T.StructField(f.name, conv(f.dataType), f.nullable)
                        for f in d.fields
                    ]
                )
            if tn == "array":
                return T.ArrayType(conv(d.elementType), d.containsNull)
            if tn == "map":
                return T.MapType(
                    conv(d.keyType), conv(d.valueType), d.valueContainsNull
                )
            return d

        return conv(dtype)

    def expr(col, ldt):
        tn = ldt.typeName()
        if tn == "struct":
            rebuilt = F.struct(
                *[
                    expr(
                        col[(f.metadata or {}).get(_CM_KEY, f.name)], f.dataType
                    ).alias(f.name)
                    for f in ldt.fields
                ]
            )
            return F.when(col.isNull(), F.lit(None).cast(strip_meta(ldt))).otherwise(
                rebuilt
            )
        if tn == "array":
            inner = ldt.elementType
            if inner.typeName() in ("struct", "array", "map"):
                return F.transform(col, lambda x: expr(x, inner))
            return col
        if tn == "map":
            kt, vt = ldt.keyType, ldt.valueType
            if kt.typeName() in ("struct", "array", "map"):
                col = F.transform_keys(col, lambda k, _v: expr(k, kt))
            if vt.typeName() in ("struct", "array", "map"):
                col = F.transform_values(col, lambda _k, v: expr(v, vt))
            return col
        return col

    out_cols = []
    for f in logical_schema.fields:
        phys = (f.metadata or {}).get(_CM_KEY, f.name)
        out_cols.append(expr(df[phys], f.dataType).alias(f.name))
    return df.select(*out_cols)


# ---- Delta deletion vectors ----------------------------------------------

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def _z85_decode(s: str) -> bytes:
    """Z85 (ZeroMQ spec 32) decode — the encoding Delta uses for DV
    UUIDs in ``pathOrInlineDv``. Python grew base64.z85decode only in
    3.13, so decode by hand: 5 chars -> one big-endian uint32."""
    if len(s) % 5:
        raise ValueError(f"z85 length {len(s)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        acc = 0
        for c in s[i : i + 5]:
            try:
                acc = acc * 85 + _Z85_INDEX[c]
            except KeyError:
                raise ValueError(f"invalid z85 char {c!r}") from None
        if acc > 0xFFFFFFFF:
            raise ValueError("z85 group overflows 32 bits")
        out += acc.to_bytes(4, "big")
    return bytes(out)


def _roaring32_positions(buf: bytes, off: int) -> "tuple[list[int], int]":
    """Parse ONE standard-format 32-bit RoaringBitmap (little-endian,
    per the public roaring format spec): returns (sorted values, bytes
    consumed). Handles array, bitmap and run containers, both cookies
    (12346 no-run / 12347 with run-flag bits)."""
    import struct as _st

    start = off
    (cookie,) = _st.unpack_from("<I", buf, off)
    off += 4
    if (cookie & 0xFFFF) == 12347:
        size = (cookie >> 16) + 1
        nrun_bytes = (size + 7) // 8
        runflags = buf[off : off + nrun_bytes]
        off += nrun_bytes
        has_offsets = size >= 4  # NO_OFFSET_THRESHOLD
    elif cookie == 12346:
        (size,) = _st.unpack_from("<I", buf, off)
        off += 4
        runflags = b"\x00" * ((size + 7) // 8)
        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    keys_cards = []
    for i in range(size):
        k, cm1 = _st.unpack_from("<HH", buf, off)
        off += 4
        keys_cards.append((k, cm1 + 1))
    if has_offsets:
        off += 4 * size  # container offsets — layout is sequential anyway
    vals: list[int] = []
    for i, (k, card) in enumerate(keys_cards):
        base = k << 16
        if runflags[i // 8] & (1 << (i % 8)):  # run container
            (n_runs,) = _st.unpack_from("<H", buf, off)
            off += 2
            for _ in range(n_runs):
                s0, ln = _st.unpack_from("<HH", buf, off)
                off += 4
                vals.extend(base | v for v in range(s0, s0 + ln + 1))
        elif card <= 4096:  # array container
            vals.extend(
                base | v
                for v in _st.unpack_from(f"<{card}H", buf, off)
            )
            off += 2 * card
        else:  # bitmap container: 1024 uint64 words
            words = _st.unpack_from("<1024Q", buf, off)
            off += 8192
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    vals.append(base | (wi << 6) | b.bit_length() - 1)
                    w ^= b
    return vals, off - start


def _roaring64_positions(data: bytes) -> list[int]:
    """Delta's RoaringBitmapArray 'portable' serialization: 4-byte LE
    magic 1681511377, 8-byte LE bitmap count, then per bitmap a 4-byte
    LE high-32 key + one standard 32-bit roaring bitmap. Returns the
    sorted 64-bit row indexes."""
    import struct as _st

    (magic,) = _st.unpack_from("<I", data, 0)
    if magic != 1681511377:
        raise ValueError(f"bad DV bitmap magic {magic}")
    (n,) = _st.unpack_from("<q", data, 4)
    off = 12
    out: list[int] = []
    for _ in range(n):
        (hi,) = _st.unpack_from("<I", data, off)
        off += 4
        vals, used = _roaring32_positions(data, off)
        off += used
        out.extend((hi << 32) | v for v in vals)
    return out


_ROARING_MAGIC = 1681511377


def _dv_file_positions(path: str, offset: "int | None", size: int) -> list[int]:
    """Read one on-disk deletion vector: at ``offset`` a 4-byte
    BIG-endian length, then the serialized bitmap, then a 4-byte
    BIG-endian CRC32 of the bitmap (mandated by the DV spec). Some
    writers' descriptors point straight at the data.

    Disambiguation: the bitmap always STARTS with the RoaringBitmapArray
    magic, so checking for the magic at ``off`` (direct) vs ``off+4``
    (length-prefixed, with the prefix matching sizeInBytes) decides the
    layout; the freak tie (both look valid — needs the BE view of the
    magic to equal sizeInBytes, a ~3.5 GB bitmap) is broken by the
    trailing CRC32. A prefixed layout whose CRC fails RAISES instead of
    silently re-reading the same bytes 4 bytes shifted (which would
    resurrect deleted rows)."""
    import struct as _st
    import zlib as _zl

    with open(path, "rb") as f:
        raw = f.read()
    # default: right after the 1-byte file version; an EXPLICIT 0 means 0
    off = 1 if offset is None else offset

    def magic_at(o: int) -> bool:
        return o + 4 <= len(raw) and _st.unpack_from("<I", raw, o)[0] == _ROARING_MAGIC

    def crc_ok() -> "bool | None":
        if off + 8 + size > len(raw):
            return None  # no room for prefix + data + CRC
        (crc,) = _st.unpack_from(">I", raw, off + 4 + size)
        data = raw[off + 4 : off + 4 + size]
        return _zl.crc32(data) & 0xFFFFFFFF == crc

    prefixed = False
    if off + 4 <= len(raw):
        (sz,) = _st.unpack_from(">I", raw, off)
        if sz == size and magic_at(off + 4):
            if magic_at(off):  # pathological tie: CRC decides
                prefixed = crc_ok() is True
            else:
                ok = crc_ok()
                if ok is False:
                    raise ValueError(
                        f"deletion vector {path} at offset {off}: length-"
                        "prefixed bitmap has a trailing CRC32 mismatch — "
                        "refusing to guess the layout (corrupt DV)"
                    )
                prefixed = True
    if prefixed:
        return _roaring64_positions(raw[off + 4 : off + 4 + size])
    return _roaring64_positions(raw[off : off + size])


def _delta_dv_local_path(desc: dict, root: str) -> "tuple[str, bytes | None]":
    """Resolve a DV descriptor to (local file path, inline bytes).
    storageType 'u': z85 UUID (with optional random dir prefix) ->
    <root>/[prefix/]deletion_vector_<uuid>.bin; 'p': absolute path;
    'i': inline z85 payload, no file."""
    import uuid as _uuid

    st_ = desc.get("storageType", "u")
    ref = desc["pathOrInlineDv"]
    if st_ == "i":
        return "", _z85_decode(ref)
    if st_ == "p":
        return ref.removeprefix("file://"), None
    if st_ == "u":
        prefix, enc = ref[:-20], ref[-20:]
        u = _uuid.UUID(bytes=_z85_decode(enc))
        sub = os.path.join(root, prefix) if prefix else root
        return os.path.join(sub, f"deletion_vector_{u}.bin"), None
    raise ValueError(f"unknown DV storageType {st_!r}")


def _apply_delta_dvs(spark, base, dv_adds: list, root: str, col_order):
    """Apply deletion vectors: one small DataFrame of descriptors fans
    out to executors (mapInPandas) where each DV file/payload is decoded
    into (data file path, row index) rows; a LEFT ANTI join against the
    scan's ``_metadata`` columns drops the dead rows. DV decode never
    touches the driver; the expansion is cardinality-sized and AQE
    broadcasts it when small."""
    import pandas as pd

    from pyspark.sql import functions as F

    rows = []
    for data_path, desc in dv_adds:
        p, inline = _delta_dv_local_path(desc, root)
        rows.append(
            (
                # joins against _metadata.file_path -> ITS encoding
                _spark_uri_path(_norm_file_uri(data_path)),
                p,
                inline,
                desc.get("offset"),
                int(desc["sizeInBytes"]),
                int(desc.get("cardinality") or -1),
            )
        )

    def expand(r, _fh):
        if r.inline is not None and len(r.inline):
            positions = _roaring64_positions(bytes(r.inline))
        else:
            positions = _dv_file_positions(
                r.dv_path, None if pd.isna(r.offset) else int(r.offset), r.size
            )
        if r.card >= 0 and len(positions) != r.card:
            raise ValueError(
                f"DV cardinality mismatch for {r.file}: "
                f"decoded {len(positions)}, descriptor {r.card}"
            )
        yield {"__file": r.file, "__dpos": positions}

    dels = manifest_rows(
        spark, rows,
        "file string, dv_path string, inline binary, offset long, size long, card long",
        "__file string, __dpos long", expand,
    )
    cond = (base["__file"] == dels["__file"]) & (
        base["__pos"] == dels["__dpos"]
    )
    return base.join(dels, cond, "left_anti").select(*col_order)


# --------------------------------------------------------------------------
# Iceberg
# --------------------------------------------------------------------------


def _iceberg_to_spark_type(t):
    from pyspark.sql import types as T

    if isinstance(t, str):
        prim = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "date": T.DateType(),
            "string": T.StringType(),
            "uuid": T.StringType(),
            "binary": T.BinaryType(),
        }
        if t in prim:
            return prim[t]
        if t.startswith("decimal"):
            return T.DataType.fromDDL(t)
        if t in ("timestamp_ns", "timestamptz_ns"):
            raise ValueError("Iceberg nanosecond timestamps have no Spark type")
        if t == "timestamptz":
            return T.TimestampType()
        if t == "timestamp":
            # no zone: parquet isAdjustedToUTC=false — NTZ, not LTZ (a
            # TimestampType here would shift values by the session zone)
            return T.TimestampNTZType()
        if t.startswith("fixed"):
            return T.BinaryType()
        raise ValueError(f"unknown iceberg type {t!r}")
    k = t["type"]
    if k == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"], _iceberg_to_spark_type(f["type"]), not f.get("required")
                )
                for f in t["fields"]
            ]
        )
    if k == "list":
        return T.ArrayType(_iceberg_to_spark_type(t["element"]))
    if k == "map":
        return T.MapType(
            _iceberg_to_spark_type(t["key"]), _iceberg_to_spark_type(t["value"])
        )
    raise ValueError(f"unknown iceberg type {t!r}")


def iceberg_metadata(root: str) -> "tuple[int, str | None, dict | None]":
    """THE Iceberg current-metadata load: ``(version, path, metadata)``,
    or ``(0, None, None)`` for a table with no metadata file yet.
    ``version-hint.text`` names the version when present; a hint that
    lags (a writer stopped between its commit and the hint update)
    advances past every ``v<n+1>.metadata.json`` on disk. Without a hint
    the highest-numbered ``*.metadata.json`` is current."""
    mdir = os.path.join(root, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = int(f.read().strip())
        while os.path.exists(os.path.join(mdir, f"v{v + 1}.metadata.json")):
            v += 1
        name = f"v{v}.metadata.json"
    else:
        cands = [
            f for f in (os.listdir(mdir) if os.path.isdir(mdir) else [])
            if f.endswith(".metadata.json")
        ]
        if not cands:
            return 0, None, None

        def _meta_key(name: str):
            # numeric version sort: 'v10' > 'v9' (lexicographic gets
            # this wrong); '00010-uuid' style is zero-padded already
            head = name.split(".", 1)[0].split("-", 1)[0].lstrip("v")
            return (int(head), name) if head.isdigit() else (-1, name)

        name = max(cands, key=_meta_key)
        v = _meta_key(name)[0]
    path = os.path.join(mdir, name)
    with open(path) as f:
        return v, path, json.load(f)


def iceberg_commit(
    root: str,
    version: int,
    meta: dict,
    staged: StagedWrite | None = None,
    written: "list[str] | tuple" = (),
) -> None:
    """THE Iceberg commit: ``meta`` becomes ``metadata/v<version>.metadata.json``,
    created put-if-absent, and then ``version-hint.text`` points at it.
    When a concurrent writer claimed ``version`` first, the winner's file
    stays byte-identical: this commit's staged data files and the
    manifests / manifest lists it wrote (``written``) are deleted and
    :class:`ConcurrentWriteError` raises."""
    mdir = os.path.join(root, "metadata")
    try:
        with open(os.path.join(mdir, f"v{version}.metadata.json"), "x") as f:
            json.dump(meta, f)
    except FileExistsError:
        for p in written:
            if os.path.exists(p):
                os.remove(p)
        if staged is not None:
            staged.discard()
        raise ConcurrentWriteError(
            f"Iceberg commit of {root} lost the commit race for version "
            f"{version}; its new files were removed — re-run it against "
            "the new table state"
        ) from None
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(version))


class IcebergTableReader(BaseReader):
    """Iceberg table → DataFrame, stdlib-only (parity: SparkIceberg; the
    reference needs the iceberg-spark runtime jar). Walks table metadata
    JSON → current snapshot → manifest list (Avro) → manifests (Avro) →
    live parquet files, then hands the file set to Spark's native parquet
    scan. Manifest paths are rewritten from the writer's recorded table
    location to the local root, so relocated/copied tables read in place.
    Supports v1/v2 metadata and v2 merge-on-read delete files: position
    deletes apply as a LEFT ANTI join on (file path, _metadata.row_index)
    with the spec's seq<=del rule, equality deletes as a null-safe LEFT
    ANTI join on the equality_ids columns with the strictly-older rule
    (reference parity: SparkIceberg via the iceberg runtime jar).

    ``read(filters=[(col, op, value), ...])`` (ops == != < <= > >= in,
    conjunctive) prunes data files driver-side from the manifest
    partition tuples — identity and day/month/year/hour/bucket/truncate
    transforms all participate — before Spark lists a single path, then
    filters rows exactly. On a 10k-file day-partitioned table a date
    range touches only the in-range files."""

    implements = {dt.IcebergDataset}
    priority = -1  # see AvroOCFReader

    def _read(self, spark, snapshot_id: int | None = None, **kwargs):
        root = self.data.url.rstrip("/")
        mdir = os.path.join(root, "metadata")
        if not os.path.isdir(mdir):
            raise ValueError(f"{root} has no metadata/ dir — not an Iceberg table")
        _version, meta_path, meta = iceberg_metadata(root)
        if meta is None:
            raise ValueError(f"no *.metadata.json under {mdir}")
        local = iceberg_rebase(root, meta)

        if "schemas" in meta:
            sid = meta.get("current-schema-id", 0)
            ischema = next(
                (s for s in meta["schemas"] if s.get("schema-id") == sid), None
            )
            if ischema is None:
                raise ValueError(f"current-schema-id {sid} not in metadata schemas")
        else:
            ischema = meta["schema"]
        spark_schema = _iceberg_to_spark_type({"type": "struct", "fields": ischema["fields"]})
        timestamp = kwargs.get("timestamp")
        if timestamp is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id= or timestamp=, not both")
            # timestampAsOf: newest snapshot whose timestamp-ms <= target
            # (the snapshot list carries commit millis per the spec)
            target_ms = _parse_ts_ms(str(timestamp))
            eligible = [
                s for s in meta.get("snapshots", [])
                if int(s.get("timestamp-ms", 0)) <= target_ms
            ]
            if not eligible:
                raise ValueError(
                    f"no Iceberg snapshot at or before {timestamp!r}"
                )
            snapshot_id = max(eligible, key=lambda s: int(s["timestamp-ms"]))[
                "snapshot-id"
            ]
        snap_id = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
        if snap_id in (None, -1):
            return local_frame(spark, [], spark_schema)
        snap = next(
            (s for s in meta["snapshots"] if s["snapshot-id"] == snap_id), None
        )
        if snap is None:
            raise ValueError(f"snapshot {snap_id} not found in {meta_path}")
        # time travel reads through the SNAPSHOT's schema, not the current
        # one: after a schema-changing overwrite the old files read as
        # all-null columns under the new schema — silently wrong data
        snap_sid = snap.get("schema-id")
        if snap_sid is not None and "schemas" in meta:
            snap_schema = next(
                (s for s in meta["schemas"] if s.get("schema-id") == snap_sid),
                None,
            )
            if snap_schema is not None:
                spark_schema = _iceberg_to_spark_type(
                    {"type": "struct", "fields": snap_schema["fields"]}
                )
        files: list[str] = []
        fparts: dict[str, dict] = {}  # file -> identity partition tuple
        fseq: dict[str, int] = {}  # file -> data sequence number (v2)
        frec: dict[str, str] = {}  # file -> path as RECORDED in manifests
        pos_dels: list[tuple[str, int]] = []  # (local path, seq)
        eq_dels: list[tuple[str, int, tuple]] = []  # (path, seq, field ids)
        for ml in decode_avro_file(local(snap["manifest-list"])):
            # v2 sequence-number inheritance: an ADDED entry with a null
            # sequence_number takes the manifest-list entry's number
            mseq = ml.get("sequence_number")
            mseq = 0 if mseq is None else int(mseq)
            for entry in decode_avro_file(local(ml["manifest_path"])):
                if entry.get("status") == 2:  # DELETED entry
                    continue
                df_ = entry["data_file"]
                eseq = entry.get("sequence_number")
                eseq = mseq if eseq is None else int(eseq)
                content = df_.get("content") or 0
                lp = local(df_["file_path"])
                if content == 0:
                    files.append(lp)
                    fseq[lp] = eseq
                    frec[lp] = df_["file_path"]
                    if df_.get("partition"):
                        fparts[lp] = df_["partition"]
                elif content in (1, 2):  # position / equality deletes
                    fmt = (df_.get("file_format") or "PARQUET").upper()
                    if fmt != "PARQUET":
                        raise ValueError(
                            f"Iceberg delete file format {fmt} not "
                            "supported (parquet only)"
                        )
                    if content == 1:
                        pos_dels.append((lp, eseq))
                    else:
                        eq_dels.append(
                            (lp, eseq, tuple(df_.get("equality_ids") or ()))
                        )
                else:
                    raise ValueError(
                        f"Iceberg data_file content={content} not supported"
                    )
        self.data.metadata.update(
            {
                "snapshot_id": snap_id,
                "n_files": len(files),
                "n_delete_files": len(pos_dels) + len(eq_dels),
                "metadata_file": meta_path,
            }
        )
        files = sorted(set(files))
        filters = kwargs.get("filters")
        _dspec = next(
            (
                sp
                for sp in (meta.get("partition-specs") or [])
                if sp.get("spec-id") == meta.get("default-spec-id", 0)
            ),
            None,
        )
        if filters and files:
            # MANIFEST-LEVEL FILE PRUNING: evaluate each conjunctive
            # (col, op, value) filter against the manifest partition
            # tuples (identity AND day/month/year/hour/bucket/truncate
            # transforms) and drop files that provably cannot match —
            # a 10k-file table narrows to the in-range files before
            # Spark lists a single path. Rows are still filtered
            # exactly below; pruning is only the fast path.
            files = _prune_iceberg_files(
                files, fparts, _dspec, ischema, filters
            )
            self.data.metadata["n_files_pruned"] = (
                self.data.metadata["n_files"] - len(files)
            )
            self.data.metadata["n_files"] = len(files)

        def fin(df):
            if filters:
                from pyspark.sql import functions as F

                for c, op, v in filters:
                    df = df.filter(_filter_col_expr(F.col(c), op, v))
            return df

        if not files:
            return fin(local_frame(spark, [], spark_schema))
        if pos_dels or eq_dels:
            # v2 merge-on-read: delete files carry the row identities to
            # drop. Data files written by v2 writers embed every column,
            # so the read is the plain scan + anti-joins — but a
            # MIGRATED-convention file (identity partition columns absent,
            # filled from manifest tuples) inside a deleted snapshot
            # would silently read those columns as null; refuse it by
            # name instead.
            _mig_ids = [
                f for f in (_dspec or {}).get("fields", [])
                if f.get("transform") == "identity"
            ]
            if _mig_ids and fparts:
                _f2n = {f["id"]: f["name"] for f in ischema["fields"]}
                _pn = [
                    _f2n.get(f.get("source-id"), f["name"]) for f in _mig_ids
                ]
                _have = _probe_partition_cols(spark, files, _pn)
                if not all(_have.values()):
                    raise ValueError(
                        "Iceberg v2 delete files on a migrated-convention "
                        "table (identity partition columns absent from "
                        "data files) are not supported"
                    )
            return fin(_apply_iceberg_deletes(
                spark, files, fseq, frec, pos_dels, eq_dels,
                spark_schema, ischema,
            ))
        # identity-partitioned tables: partition columns may be ABSENT
        # from the data files (the spec's migrated-table convention —
        # readers fill identity values from the manifest partition
        # tuple). Detect via one parquet footer; fill with constant
        # literals per partition group, which also lets partition filters
        # prune whole branches at plan time.
        id_fields = [
            f for f in (_dspec or {}).get("fields", [])
            if f.get("transform") == "identity"
        ]
        if id_fields and fparts:
            fid_to_name = {f["id"]: f["name"] for f in ischema["fields"]}
            pnames = [
                fid_to_name.get(f.get("source-id"), f["name"])
                for f in id_fields
            ]
            # Exact per-file presence check: the spec does not record
            # whether data files embed the identity source columns, and a
            # migrated table appended to by a standard Iceberg writer
            # MIXES both kinds — a single-footer probe would silently
            # read nulls for one side. Footer reads are metadata-only
            # (the bytes never move): driver-side for small tables, one
            # parallelized Spark job above that.
            have = _probe_partition_cols(spark, files, pnames)
            with_cols = [fp for fp in files if have[fp]]
            without = [fp for fp in files if not have[fp]]
            col_order = [f.name for f in spark_schema.fields]
            branches = []
            if with_cols:
                branches.append(
                    spark.read.schema(spark_schema)
                    .parquet(*with_cols)
                    .select(*col_order)
                )
            if without:
                branches.append(
                    _fill_identity_partitions(
                        spark, without, fparts, id_fields, pnames,
                        spark_schema,
                    )
                )
            out = branches[0]
            for b in branches[1:]:
                out = out.unionByName(b)
            return fin(out)
        return fin(spark.read.schema(spark_schema).parquet(*files))


def _filter_col_expr(col, op: str, v):
    """(col, op, value) -> boolean Column. Ops: == = != < <= > >= in."""
    if op in ("==", "="):
        return col.isNull() if v is None else col == v
    if op == "!=":
        return col.isNotNull() if v is None else col != v
    if op == "<":
        return col < v
    if op == "<=":
        return col <= v
    if op == ">":
        return col > v
    if op == ">=":
        return col >= v
    if op == "in":
        return col.isin(list(v))
    raise ValueError(f"unsupported filter op {op!r}")


def _epoch_days(v) -> int:
    import datetime as _dtm

    if isinstance(v, _dtm.datetime):
        v = v.date()
    return (v - _dtm.date(1970, 1, 1)).days


def _iceberg_transform_value(transform: str, v, source_type: str):
    """Driver-side twin of the write-side transform exprs: the
    transformed value of a FILTER BOUND, for comparing against manifest
    partition tuples. Returns NotImplemented when the transform cannot
    evaluate this bound (caller keeps the file)."""
    import datetime as _dtm

    from intake_spark.utils import iceberg_bucket

    if v is None:
        return NotImplemented
    if transform == "identity":
        return v
    if transform in ("day", "month", "year", "hour"):
        if transform == "hour":
            if not isinstance(v, _dtm.datetime):
                return NotImplemented
            epoch = _dtm.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            return int((v - epoch) // _dtm.timedelta(hours=1))
        if isinstance(v, _dtm.datetime):
            d = v.date() if v.tzinfo is None else v.astimezone(
                _dtm.timezone.utc
            ).date()
        elif isinstance(v, _dtm.date):
            d = v
        else:
            return NotImplemented
        if transform == "day":
            return _epoch_days(d)
        if transform == "month":
            return (d.year - 1970) * 12 + d.month - 1
        return d.year - 1970
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        kind = source_type if source_type in (
            "string", "date", "timestamp", "timestamptz"
        ) else "long"
        return iceberg_bucket(v, n, kind)
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if isinstance(v, str):
            return v[:w]
        if isinstance(v, int):
            return v - ((v % w + w) % w)
        return NotImplemented
    return NotImplemented


_MONOTONIC = ("identity", "day", "month", "year", "hour")


def _prune_iceberg_files(
    files: list[str],
    fparts: dict,
    spec: "dict | None",
    ischema: dict,
    filters: list,
) -> list[str]:
    """Drop files whose manifest partition tuple PROVES no row can
    satisfy the conjunctive filters. Conservative: a file survives on
    any doubt (missing tuple, un-evaluable bound, non-monotonic
    transform under a range op). Monotonic transforms (identity and the
    time family — plus truncate, floor-like on ints and prefix-ordered
    on strings) admit range pruning; bucket admits only equality."""
    import datetime as _dtm

    fid_to_name = {f["id"]: f["name"] for f in ischema["fields"]}
    ftype = {f["name"]: f.get("type") for f in ischema["fields"]}
    sfields = (spec or {}).get("fields") or []
    if not sfields or not fparts:
        return files

    def norm(x):
        # manifest day tuples may decode as date objects; compare as ints
        if isinstance(x, (_dtm.date, _dtm.datetime)):
            return _epoch_days(x)
        return x

    def excluded(pv: dict, col: str, op: str, v) -> bool:
        for f in sfields:
            src = fid_to_name.get(f.get("source-id"), f.get("name"))
            if src != col or f["name"] not in pv:
                continue
            tr = f.get("transform", "identity")
            tval = _iceberg_transform_value(tr, v, str(ftype.get(col)))
            if tval is NotImplemented:
                continue
            pval = pv[f["name"]]
            if pval is None:
                # all rows in this file have col IS NULL (identity) or a
                # null source (transforms preserve null): only IS NULL
                # style filters match, and those arrive as ('==', None)
                # which _iceberg_transform_value already skipped
                if op in ("==", "=", "<", "<=", ">", ">=", "in"):
                    return True
                continue
            pval, tval = norm(pval), norm(tval)
            try:
                monotonic = tr in _MONOTONIC or tr.startswith("truncate[")
                if op in ("==", "="):
                    if pval != tval:
                        return True
                elif op == "in":
                    tv_all = [
                        _iceberg_transform_value(tr, x, str(ftype.get(col)))
                        for x in v
                    ]
                    if NotImplemented not in tv_all and pval not in [
                        norm(x) for x in tv_all
                    ]:
                        return True
                elif op == "!=":
                    # only identity makes every row equal the tuple value
                    if tr == "identity" and pval == tval:
                        return True
                elif monotonic:
                    # transform is order-preserving: file range implied
                    if op in ("<", "<=") and pval > tval:
                        return True
                    if op in (">", ">=") and pval < tval:
                        return True
            except TypeError:
                continue  # incomparable types: keep the file
        return False

    out = []
    for fp in files:
        pv = fparts.get(fp)
        if not pv:
            out.append(fp)
            continue
        if any(excluded(pv, c, op, v) for c, op, v in filters):
            continue
        out.append(fp)
    return out


def unescape_hive_segment(raw: str) -> "str | None":
    """Decode one hive partition-dir VALUE the way Spark's
    ``unescapePathName`` does: each ``%XX`` (two hex digits) becomes the
    single character ``chr(0xXX)``; anything else passes through. This is
    NOT urllib ``unquote`` — unquote reassembles multi-byte UTF-8
    percent-sequences (``%C3%A9`` -> ``é``) where Spark decodes them
    byte-wise (``Ã©``); validating with unquote would accept a layout
    Spark then reads differently. ``__HIVE_DEFAULT_PARTITION__`` decodes
    to None (null partition)."""
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    _hex = "0123456789abcdefABCDEF"
    out = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if (
            c == "%"
            and i + 2 < n
            and raw[i + 1] in _hex
            and raw[i + 2] in _hex
        ):
            out.append(chr(int(raw[i + 1 : i + 3], 16)))
            i += 3
            continue
        out.append(c)
        i += 1
    return "".join(out)


_INT_RE = None
_DATE_RE = None


def _hive_base_path(
    files: list[str],
    fparts: dict[str, dict],
    id_fields: list[dict],
    pnames: list[str],
    spark_schema,
) -> "str | None":
    """If every data file sits under hive-style ``col=value`` directory
    segments (one per identity-partition column, in spec order) whose
    decoded values AGREE with the manifest partition tuples, return the
    common base path (the directory above the first partition segment) —
    else None. Agreement matters: the manifest is the source of truth,
    and a relocated/renamed dir must not silently win. Dir values are
    decoded with Spark's own unescape rules and parsed in CANONICAL form
    only (``-?\\d+`` ints, ``YYYY-MM-DD`` dates) — anything Python would
    accept more leniently than Spark's cast (``' 7'``, ``'20210102'``,
    unicode digits) falls back to the manifest-fill path instead of
    letting the fast path read different values than were validated."""
    import datetime as _dtm
    import re as _re

    global _INT_RE, _DATE_RE
    if _INT_RE is None:
        _INT_RE = _re.compile(r"-?[0-9]+")
        _DATE_RE = _re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}")
    # per-column type kind, computed once (not per file)
    kinds = []
    for pn in pnames:
        t = str(spark_schema[pn].dataType)
        kinds.append(
            "int" if t in ("IntegerType()", "LongType()")
            else "date" if t == "DateType()"
            else "str"
        )
    epoch = _dtm.date(1970, 1, 1)
    base: "str | None" = None
    for fp in files:
        segs = fp.split(os.sep)
        # locate the LAST occurrence of the first partition column's
        # segment (a parent dir could legitimately contain 'col=')
        idx = None
        for i in range(len(segs) - 1 - len(pnames), -1, -1):
            if segs[i].startswith(pnames[0] + "="):
                idx = i
                break
        if idx is None or idx + len(pnames) > len(segs) - 1:
            return None
        this_base = os.sep.join(segs[:idx]) or os.sep
        if base is None:
            base = this_base
        elif base != this_base:
            return None
        pv = fparts.get(fp, {})
        for j, (pn, f_meta) in enumerate(zip(pnames, id_fields)):
            seg = segs[idx + j]
            k, eq, raw = seg.partition("=")
            if not eq or k != pn:
                return None
            dirv = unescape_hive_segment(raw)
            mv = pv.get(f_meta["name"])
            if mv is None and dirv is None:
                continue
            if mv is None or dirv is None:
                return None
            kind = kinds[j]
            try:
                if kind == "int":
                    ok = _INT_RE.fullmatch(dirv) and int(dirv) == int(mv)
                elif kind == "date":
                    if not _DATE_RE.fullmatch(dirv):
                        return None
                    dd = _dtm.date.fromisoformat(dirv)
                    ok = dd == mv or (
                        isinstance(mv, int) and (dd - epoch).days == mv
                    )
                else:
                    ok = str(dirv) == str(mv)
            except (TypeError, ValueError):
                return None
            if not ok:
                return None
    return base


def _probe_partition_cols(spark, files: list[str], pnames: list[str]) -> dict:
    """file -> do ALL identity-partition columns physically exist in its
    parquet footer. Driver-side for small tables; one parallelized Spark
    job (footer reads only, batched tasks) above the threshold so a
    100k-file table never does 100k serial driver round-trips."""
    import pyarrow.parquet as _pq

    if len(files) <= 64:
        out = {}
        for fp in files:
            names = set(_pq.ParquetFile(fp).schema_arrow.names)
            out[fp] = all(c in names for c in pnames)
        return out
    pn = list(pnames)

    def _probe(it):
        import pyarrow.parquet as pq

        for p in it:
            ns = set(pq.ParquetFile(p).schema_arrow.names)
            yield p, all(c in ns for c in pn)

    nslices = max(1, len(files) // 256)
    ensure_py_deps(spark)
    return dict(
        spark.sparkContext.parallelize(files, nslices)
        .mapPartitions(_probe)
        .collect()
    )


def _fill_identity_partitions(
    spark,
    files: list[str],
    fparts: dict[str, dict],
    id_fields: list[dict],
    pnames: list[str],
    spark_schema,
):
    """Read data files that LACK their identity-partition columns and
    fill them from the manifest partition tuples.

    FAST PATH — hive-laid-out tables (our own writer, and standard
    migrations): when every file sits under ``col=value`` dirs whose
    decoded values agree with the manifest tuples, hand Spark the
    explicit file list + basePath. ONE FileScan node with native
    PartitionFilters pruning, O(1) plan size. Fallback: per-partition-
    group scans with constant literals, unioned — O(#partitions) plan
    size, correct for any layout."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    col_order = [f.name for f in spark_schema.fields]
    bp = _hive_base_path(files, fparts, id_fields, pnames, spark_schema)
    if bp is not None:
        return (
            spark.read.option("basePath", bp)
            .schema(spark_schema)
            .parquet(*files)
            .select(*col_order)
        )
    data_schema = T.StructType(
        [f for f in spark_schema.fields if f.name not in pnames]
    )
    groups: dict[tuple, list[str]] = {}
    for fp in files:
        pv = fparts.get(fp, {})
        key = tuple(pv.get(f["name"]) for f in id_fields)
        groups.setdefault(key, []).append(fp)
    out = None
    for key, gpaths in sorted(groups.items(), key=lambda kv: str(kv[0])):
        g = spark.read.schema(data_schema).parquet(*sorted(gpaths))
        for col_name, v in zip(pnames, key):
            fld = spark_schema[col_name]
            if isinstance(v, int) and str(fld.dataType) == "DateType()":
                # un-annotated manifests carry raw epoch days
                # (logicalType-annotated ones decode to date objects,
                # handled by the plain literal)
                g = g.withColumn(
                    col_name,
                    F.date_add(F.lit("1970-01-01").cast("date"), v),
                )
            else:
                g = g.withColumn(col_name, F.lit(v).cast(fld.dataType))
        g = g.select(*col_order)
        out = g if out is None else out.unionByName(g)
    return out


def _norm_file_uri(p: str) -> str:
    """'file:///x', 'file:/x', '/x' -> '/x' (one canonical posix form,
    matching the regexp applied to Spark's ``_metadata.file_path``)."""
    import re as _re

    return _re.sub(r"^file:/+", "/", p)


def iceberg_rebase(root: str, meta: dict):
    """The path map of an Iceberg table found at ``root``: its metadata
    ``meta`` names files by absolute paths under the table's
    ``location``, which a moved table no longer matches; a path under
    ``location`` maps to the same path under ``root``, any other path
    is returned as is. Both sides go through :func:`_norm_file_uri`, so
    ``file:///t``, ``file:/t`` and ``/t`` spell one location."""
    loc = _norm_file_uri(meta.get("location", root).rstrip("/"))

    def rebase(p: str) -> str:
        p = _norm_file_uri(p)
        return root + p[len(loc) :] if p.startswith(loc + "/") else p

    return rebase


# Spark-side twin of _norm_file_uri: regexp_replace(col, _FILE_URI_RE, "/")
_FILE_URI_RE = "^file:/+"

_URI_PATH_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "-._~!$&'()*+,;=:@/"
)


def _spark_uri_path(p: str) -> str:
    """Encode a local path the way Spark's ``_metadata.file_path``
    renders it (Hadoop Path -> Java URI toString): RFC 3986 path
    characters and non-ASCII stay literal, every other ASCII char
    (space, %, #, ?, ...) is %XX-encoded, uppercase hex. Pinned
    empirically — a join key built with urllib.quote (which also
    encodes non-ASCII) would silently never match."""
    out = []
    for ch in p:
        if ch in _URI_PATH_SAFE or ord(ch) > 127:
            out.append(ch)
        else:
            out.extend(f"%{b:02X}" for b in ch.encode("utf-8"))
    return "".join(out)


def _apply_iceberg_deletes(
    spark,
    files: list[str],
    fseq: dict,
    frec: dict,
    pos_dels: list,
    eq_dels: list,
    spark_schema,
    ischema: dict,
):
    """Iceberg v2 merge-on-read: apply position + equality delete files
    to the data scan, Spark-natively.

    - Position deletes (parquet rows of ``file_path, pos``) become a
      LEFT ANTI join on (data file path, ``_metadata.row_index``) with
      the spec's sequence rule: a delete applies to data files whose
      data sequence number is <= the delete's.
    - Equality deletes become a null-safe LEFT ANTI join on the
      ``equality_ids`` columns, applying only to data files STRICTLY
      older than the delete (spec rule — a row inserted in the same or
      a later commit survives).

    No hint is forced on the anti-joins: delete sets are usually small
    and AQE broadcasts them; a compaction-overdue table with huge
    delete files still executes as a shuffled anti-join instead of
    OOMing the driver. Path/sequence maps are O(#files) and broadcast
    explicitly."""
    from pyspark.sql import functions as F

    col_order = [f.name for f in spark_schema.fields]
    base = (
        spark.read.schema(spark_schema)
        .parquet(*files)
        .withColumn(
            "__file",
            F.regexp_replace(F.col("_metadata.file_path"), _FILE_URI_RE, "/"),
        )
        .withColumn("__pos", F.col("_metadata.row_index"))
    )
    # join keys against _metadata.file_path must use ITS encoding
    seq_rows = [
        (_spark_uri_path(_norm_file_uri(fp)), int(fseq.get(fp, 0)))
        for fp in files
    ]
    seq_map = local_frame(spark, seq_rows, "__file string, __seq long")
    base = base.join(F.broadcast(seq_map), "__file", "left")

    if pos_dels:
        # recorded manifest path -> data-file join key (the delete file
        # CONTENTS reference paths as the original writer recorded them
        # — writer-consistent with the manifest entries, NOT with
        # Spark's metadata encoding; a relocated table reads via this
        # map)
        rec_rows = [
            (_norm_file_uri(rec), _spark_uri_path(_norm_file_uri(lp)))
            for lp, rec in frec.items()
        ]
        rec_map = local_frame(spark, rec_rows, "__rp string, __tfile string")
        dseq_rows = [
            (_spark_uri_path(_norm_file_uri(p)), int(s)) for p, s in pos_dels
        ]
        dseq_map = local_frame(spark, dseq_rows, "__dfile string, __dseq long")
        pd_df = (
            spark.read.parquet(*sorted({p for p, _ in pos_dels}))
            .select(
                F.regexp_replace("file_path", _FILE_URI_RE, "/").alias("__rp"),
                F.col("pos").alias("__dpos"),
                F.regexp_replace(
                    F.col("_metadata.file_path"), _FILE_URI_RE, "/"
                ).alias("__dfile"),
            )
            .join(F.broadcast(dseq_map), "__dfile")
            .join(F.broadcast(rec_map), "__rp")
            .select("__tfile", "__dpos", "__dseq")
        )
        base = base.join(
            pd_df,
            (base["__file"] == pd_df["__tfile"])
            & (base["__pos"] == pd_df["__dpos"])
            & (pd_df["__dseq"] >= base["__seq"]),
            "left_anti",
        )

    if eq_dels:
        fid_to_name = {f["id"]: f["name"] for f in ischema["fields"]}
        by_ids: dict[tuple, list] = {}
        for p, s, ids in eq_dels:
            by_ids.setdefault(ids, []).append((p, s))
        for ids, group in sorted(by_ids.items()):
            if not ids:
                raise ValueError(
                    "Iceberg equality delete file without equality_ids"
                )
            try:
                cols = [fid_to_name[i] for i in ids]
            except KeyError as e:
                raise ValueError(
                    f"equality delete references unknown field id {e}"
                ) from None
            dseq_rows = [
                (_spark_uri_path(_norm_file_uri(p)), int(s)) for p, s in group
            ]
            dseq_map = local_frame(
                spark, dseq_rows, "__dfile string, __dseq long"
            )
            ed = (
                spark.read.parquet(*sorted({p for p, _ in group}))
                .select(
                    *[F.col(c).alias(f"__d_{c}") for c in cols],
                    F.regexp_replace(
                        F.col("_metadata.file_path"), _FILE_URI_RE, "/"
                    ).alias("__dfile"),
                )
                .join(F.broadcast(dseq_map), "__dfile")
                .drop("__dfile")
            )
            cond = ed["__dseq"] > base["__seq"]
            for c in cols:
                cond = cond & base[c].eqNullSafe(ed[f"__d_{c}"])
            base = base.join(ed, cond, "left_anti")

    return base.select(*col_order)


def _avro_zz(v: int) -> bytes:
    """Zigzag varint (the inverse of _Buf.varlong)."""
    return uvarint((v << 1) ^ (v >> 63))


def _avro_encode_datum(schema, value, out: bytearray, names: dict) -> None:
    """Generic schema-driven Avro encode — the exact inverse of
    :func:`_avro_decode`; drives the Iceberg manifest writers."""
    if isinstance(schema, str):
        if schema in names:
            return _avro_encode_datum(names[schema], value, out, names)
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            out += b"\x01" if value else b"\x00"
        elif t in ("int", "long"):
            out += _avro_zz(int(value))
        elif t == "float":
            out += struct.pack("<f", float(value))
        elif t == "double":
            out += struct.pack("<d", float(value))
        elif t == "bytes":
            b = bytes(value)
            out += _avro_zz(len(b)) + b
        elif t == "string":
            b = str(value).encode("utf-8")
            out += _avro_zz(len(b)) + b
        else:
            raise ValueError(f"unknown avro type {t!r}")
        return None
    if isinstance(schema, list):  # union: branch index then value
        # pick the first branch the value fits: None -> "null", else the
        # first non-null branch (the Iceberg schemas are all 2-branch)
        if value is None:
            idx = next(
                i for i, s in enumerate(schema)
                if (s if isinstance(s, str) else s.get("type")) == "null"
            )
            out += _avro_zz(idx)
            return None
        idx, branch = next(
            (i, s) for i, s in enumerate(schema)
            if (s if isinstance(s, str) else s.get("type")) != "null"
        )
        out += _avro_zz(idx)
        return _avro_encode_datum(branch, value, out, names)
    t = schema["type"]
    lt = schema.get("logicalType")
    if lt is not None:
        # same name-preservation rule as the decode side
        if schema.get("name"):
            names[schema["name"]] = schema
        base = {
            k: v for k, v in schema.items() if k not in ("logicalType", "name")
        }
        return _avro_encode_datum(base, _avro_logical_raw(lt, value, schema), out, names)
    if t == "record":
        if schema.get("name"):
            names[schema["name"]] = schema
        for f in schema["fields"]:
            _avro_encode_datum(f["type"], value.get(f["name"]), out, names)
        return None
    if t == "enum":
        out += _avro_zz(schema["symbols"].index(value))
        return None
    if t == "fixed":
        out += bytes(value)
        return None
    if t == "array":
        items = list(value or [])
        if items:
            out += _avro_zz(len(items))
            for it in items:
                _avro_encode_datum(schema["items"], it, out, names)
        out += _avro_zz(0)
        return None
    if t == "map":
        kv = dict(value or {})
        if kv:
            out += _avro_zz(len(kv))
            for k, v in kv.items():
                kb = str(k).encode("utf-8")
                out += _avro_zz(len(kb)) + kb
                _avro_encode_datum(schema["values"], v, out, names)
        out += _avro_zz(0)
        return None
    return _avro_encode_datum(t, value, out, names)


def _avro_logical_raw(lt: str, value, schema):
    """Typed Python value → the logical type's raw base value (inverse of
    :func:`_avro_logical_value`); raw base values pass through."""
    import datetime as _dt
    import decimal as _decimal

    if lt == "date":
        if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
            return (value - _dt.date(1970, 1, 1)).days
        return value
    if lt in (
        "timestamp-micros", "timestamp-millis",
        "local-timestamp-micros", "local-timestamp-millis",
    ):
        if isinstance(value, _dt.datetime):
            if value.tzinfo is not None:
                if lt.startswith("local-"):
                    raise ValueError(
                        f"{lt} takes naive wall-clock datetimes; got an "
                        "aware value (strip or convert the zone first)"
                    )
                # timestamp-* are UTC-adjusted instants: CONVERT aware
                # values to UTC (dropping tzinfo directly would shift the
                # instant by the value's UTC offset)
                value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            td = value - _dt.datetime(1970, 1, 1)
            unit = (
                _dt.timedelta(microseconds=1)
                if lt.endswith("micros")
                else _dt.timedelta(milliseconds=1)
            )
            return td // unit
        return value
    if lt == "decimal":
        if isinstance(value, _decimal.Decimal):
            unscaled = _dec_to_unscaled(value, int(schema.get("scale", 0)))
            nb = max(1, (unscaled.bit_length() + 8) // 8)
            return unscaled.to_bytes(nb, "big", signed=True)
        return value
    return value


def write_avro_records(path: str, schema: dict, records: list, meta: dict | None = None) -> None:
    """Driver-side Avro OCF writer for small metadata files (Iceberg
    manifests / manifest lists) — null codec, one block, round-tripped
    against :func:`decode_avro_file` in tests."""
    import hashlib

    body = bytearray()
    names: dict = {}
    _register_names(schema, names)
    for rec in records:
        _avro_encode_datum(schema, rec, body, dict(names))
    sync = hashlib.md5(path.encode()).digest()
    write_avro_ocf(path, schema, len(records), bytes(body), sync, meta=meta)
