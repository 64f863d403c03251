"""Geo long-tail readers: KML, GPX, MBTiles — stdlib-only, Spark-first
(the reference gates these on fiona/geopandas: KMLReader readers.py:2287,
GPXReader :2301, MBTilesReader :2315).

KML/GPX are XML: many files parse in parallel via binaryFile +
Arrow-batched mapInPandas (ElementTree on executors). MBTiles is a sqlite
db — driver-side sqlite3 for the (small) metadata table; the tiles table
streams through ``fetchmany`` batches into Arrow so the driver never holds
the full tile pyramid.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import types as T

from intake_spark import datatypes as dt
from intake_spark.compress import read_uvarint
from intake_spark.readers import BaseReader, binary_files
from intake_spark.session import local_frame, map_in_pandas


class KML(dt.FileData):
    filepattern = r"kml$"
    structure = {"table", "nested"}


class GPX(dt.FileData):
    filepattern = r"gpx$"
    structure = {"table", "timeseries"}


class MBTiles(dt.FileData):
    filepattern = r"mbtiles$"
    magic = (b"SQLite format 3",)
    structure = {"table", "image"}


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _kml_rows(content: bytes) -> list[dict]:
    import xml.etree.ElementTree as ET

    root = ET.fromstring(content)
    rows = []
    for pm in root.iter():
        if _strip_ns(pm.tag) != "Placemark":
            continue
        name, desc, gtype, coords = "", "", "", []
        for el in pm.iter():
            t = _strip_ns(el.tag)
            if t == "name":
                name = (el.text or "").strip()
            elif t == "description":
                desc = (el.text or "").strip()
            elif t in ("Point", "LineString", "Polygon"):
                gtype = t
            elif t == "coordinates" and el.text:
                for tok in el.text.split():
                    parts = tok.split(",")
                    if len(parts) >= 2:
                        coords.append([float(parts[0]), float(parts[1])])
        rows.append(
            {"name": name, "description": desc, "geom_type": gtype, "coordinates": coords}
        )
    return rows


_KML_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("geom_type", T.StringType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)


class KMLReader(BaseReader):
    """KML placemarks → (path, name, description, geom_type, coordinates)."""

    implements = {KML}

    def _read(self, spark, glob: str = "*.kml", **kwargs):
        files = binary_files(spark, self.data.url, glob)

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for path, content in zip(pdf["path"], pdf["content"]):
                    for r in _kml_rows(content):
                        rows.append({"path": path, **r})
                yield pd.DataFrame(
                    rows,
                    columns=["path", "name", "description", "geom_type", "coordinates"],
                )

        return map_in_pandas(files.select("path", "content"), parse, schema=_KML_SCHEMA)


_GPX_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("track", T.StringType()),
        T.StructField("segment", T.IntegerType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("ele", T.DoubleType()),
        T.StructField("time", T.StringType()),
    ]
)


def _gpx_rows(content: bytes) -> list[dict]:
    import xml.etree.ElementTree as ET

    root = ET.fromstring(content)
    rows = []
    for trk in root.iter():
        if _strip_ns(trk.tag) != "trk":
            continue
        tname = ""
        for el in trk:
            if _strip_ns(el.tag) == "name":
                tname = (el.text or "").strip()
        seg_i = 0
        for seg in trk.iter():
            if _strip_ns(seg.tag) != "trkseg":
                continue
            for pt in seg:
                if _strip_ns(pt.tag) != "trkpt":
                    continue
                ele, time = None, ""
                for el in pt:
                    t = _strip_ns(el.tag)
                    if t == "ele" and el.text:
                        ele = float(el.text)
                    elif t == "time":
                        time = (el.text or "").strip()
                rows.append(
                    {
                        "track": tname,
                        "segment": seg_i,
                        "lat": float(pt.get("lat")),
                        "lon": float(pt.get("lon")),
                        "ele": ele,
                        "time": time,
                    }
                )
            seg_i += 1
    return rows


class GPXReader(BaseReader):
    """GPX trackpoints → (path, track, segment, lat, lon, ele, time)."""

    implements = {GPX}

    def _read(self, spark, glob: str = "*.gpx", **kwargs):
        files = binary_files(spark, self.data.url, glob)

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for path, content in zip(pdf["path"], pdf["content"]):
                    for r in _gpx_rows(content):
                        rows.append({"path": path, **r})
                yield pd.DataFrame(
                    rows,
                    columns=["path", "track", "segment", "lat", "lon", "ele", "time"],
                )

        return map_in_pandas(files.select("path", "content"), parse, schema=_GPX_SCHEMA)


class MBTilesReader(BaseReader):
    """MBTiles → tile rows (zoom_level, tile_column, tile_row, tile_data)
    or the metadata table (``table="metadata"``). Stdlib sqlite3.

    Tiles read *distributed*: the driver fetches only min/max rowid, then
    each executor task opens the sqlite file read-only and queries its own
    rowid range (mapInPandas over a range manifest) — tile blobs never pass
    through the driver, same recipe as OSMPBFReader. Requires the file to
    be reachable from executors (true in local mode and on shared/attached
    storage)."""

    implements = {MBTiles}

    def _read(self, spark, table: str = "tiles", zoom: int | None = None, rows_per_task: int = 10_000, **kwargs):
        import sqlite3

        url = self.data.url
        if table == "metadata":
            con = sqlite3.connect(url)
            try:
                rows = con.execute("SELECT name, value FROM metadata").fetchall()
            finally:
                con.close()
            return local_frame(spark, rows or [("", "")], "name string, value string")

        where = f" WHERE zoom_level = {int(zoom)}" if zoom is not None else ""
        con = sqlite3.connect(url)
        try:
            # `tiles` may be a VIEW (map+images dedup layout): views have no
            # rowid (sqlite silently yields NULL, it does not error), so the
            # range-manifest path only applies to real tables
            (kind,) = con.execute(
                "SELECT type FROM sqlite_master WHERE name = 'tiles'"
            ).fetchone() or ("",)
            if kind != "table":
                # common map+images dedup layout: `tiles` is a VIEW with no
                # rowid. Keyset pagination on (zoom, col, row): the driver
                # runs ONE ordered window scan fetching only every
                # rows_per_task-th key (no blobs); each executor window is
                # then an unordered row-value range predicate — no
                # per-window ORDER BY re-sort (the old LIMIT/OFFSET form
                # was O(windows * N log N)), and duplicate keys land whole
                # in exactly one window, so the partitioning is stable
                # regardless of sqlite's tie order.
                not_null = (
                    "zoom_level IS NOT NULL AND tile_column IS NOT NULL "
                    "AND tile_row IS NOT NULL"
                )
                nn_where = where + (" AND " if where else " WHERE ") + not_null
                bounds = con.execute(
                    "SELECT zoom_level, tile_column, tile_row FROM ("
                    "  SELECT zoom_level, tile_column, tile_row, ROW_NUMBER() OVER ("
                    "    ORDER BY zoom_level, tile_column, tile_row) AS rn "
                    f"  FROM tiles{nn_where}"
                    f") WHERE (rn - 1) % {int(rows_per_task)} = 0"
                ).fetchall()
                (n_nulls,) = con.execute(
                    f"SELECT COUNT(*) FROM tiles{where}"
                    + (" AND " if where else " WHERE ")
                    + f"NOT ({not_null})"
                ).fetchone()
                con.close()
                con = None
                tile_schema = (
                    "zoom_level int, tile_column int, tile_row int, tile_data binary"
                )
                if not bounds and not n_nulls:
                    return local_frame(spark, [], tile_schema)
                windows = [
                    bounds[i]
                    + (bounds[i + 1] if i + 1 < len(bounds) else (None, None, None))
                    + (0,)
                    for i in range(len(bounds))
                ]
                if n_nulls:
                    # NULL keys compare UNKNOWN in row-value ranges, so they
                    # get their own window — no silent loss vs the old
                    # OFFSET path (NULL-keyed rows are broken-join debris
                    # but they belong to the caller, not to the pager)
                    windows.append((None, None, None, None, None, None, 1))
                wdf = local_frame(
                    spark, windows,
                    "lo_z long, lo_c long, lo_r long, hi_z long, hi_c long, hi_r long, "
                    "null_win long",
                )
                if len(windows) > 1:
                    wdf = wdf.repartition(
                        min(len(windows), spark.sparkContext.defaultParallelism)
                    )
                base_cond = where + (" AND " if where else " WHERE ")

                def fetch_view(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    vcon = sqlite3.connect(f"file:{url}?mode=ro", uri=True)
                    try:
                        for pdf in batches:
                            for _, r in pdf.iterrows():
                                if r.null_win == 1:
                                    cond = (
                                        "(zoom_level IS NULL OR tile_column IS NULL "
                                        "OR tile_row IS NULL)"
                                    )
                                    args = []
                                else:
                                    # row-value comparison short-circuits on
                                    # the leading column, so a partially-NULL
                                    # key CAN satisfy a range — exclude them
                                    # here; they belong to the null window
                                    cond = (
                                        "zoom_level IS NOT NULL AND tile_column IS NOT NULL "
                                        "AND tile_row IS NOT NULL "
                                        "AND (zoom_level, tile_column, tile_row) >= (?, ?, ?)"
                                    )
                                    args = [int(r.lo_z), int(r.lo_c), int(r.lo_r)]
                                    if r.hi_z == r.hi_z:  # not NaN: a next window exists
                                        cond += (
                                            " AND (zoom_level, tile_column, tile_row) < (?, ?, ?)"
                                        )
                                        args += [int(r.hi_z), int(r.hi_c), int(r.hi_r)]
                                rows = vcon.execute(
                                    "SELECT zoom_level, tile_column, tile_row, "
                                    f"tile_data FROM tiles{base_cond}{cond}",
                                    args,
                                ).fetchall()
                                yield pd.DataFrame(
                                    rows,
                                    columns=[
                                        "zoom_level",
                                        "tile_column",
                                        "tile_row",
                                        "tile_data",
                                    ],
                                )
                    finally:
                        vcon.close()

                vschema = T.StructType(
                    [
                        T.StructField("zoom_level", T.IntegerType()),
                        T.StructField("tile_column", T.IntegerType()),
                        T.StructField("tile_row", T.IntegerType()),
                        T.StructField("tile_data", T.BinaryType()),
                    ]
                )
                return map_in_pandas(wdf, fetch_view, schema=vschema)
            lo_hi = con.execute(
                f"SELECT MIN(rowid), MAX(rowid) FROM tiles{where}"
            ).fetchone()
        finally:
            if con is not None:
                con.close()
        if lo_hi is None or lo_hi[0] is None:
            return local_frame(
                spark, [], "zoom_level int, tile_column int, tile_row int, tile_data binary"
            )
        lo, hi = lo_hi
        ranges = [
            (start, min(start + rows_per_task - 1, hi))
            for start in range(lo, hi + 1, rows_per_task)
        ]
        mdf = local_frame(spark, ranges, "lo long, hi long")
        if len(ranges) > 1:
            mdf = mdf.repartition(min(len(ranges), spark.sparkContext.defaultParallelism))

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            con = sqlite3.connect(f"file:{url}?mode=ro", uri=True)
            try:
                for pdf in batches:
                    for _, r in pdf.iterrows():
                        rows = con.execute(
                            "SELECT zoom_level, tile_column, tile_row, tile_data "
                            f"FROM tiles{where}{' AND' if where else ' WHERE'} "
                            f"rowid BETWEEN {int(r.lo)} AND {int(r.hi)}"
                        ).fetchall()
                        yield pd.DataFrame(
                            rows,
                            columns=["zoom_level", "tile_column", "tile_row", "tile_data"],
                        )
            finally:
                con.close()

        schema = T.StructType(
            [
                T.StructField("zoom_level", T.IntegerType()),
                T.StructField("tile_column", T.IntegerType()),
                T.StructField("tile_row", T.IntegerType()),
                T.StructField("tile_data", T.BinaryType()),
            ]
        )
        return map_in_pandas(mdf, fetch, schema=schema)


class PMTiles(dt.FileData):
    filepattern = r"pmtiles$"
    magic = (b"PMTiles",)
    structure = {"table", "image"}


def _hilbert_d2xy(order: int, d: int) -> tuple[int, int]:
    """Hilbert-curve index → (x, y) on a 2^order grid (standard rot/reflect
    walk — the tile addressing PMTiles v3 uses within each zoom level)."""
    x = y = 0
    t = d
    s = 1
    while s < (1 << order):
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y


def _tileid_to_zxy(tile_id: int) -> tuple[int, int, int]:
    """PMTiles tile_id = (cumulative tiles below zoom z) + hilbert_d."""
    z = 0
    acc = 0
    while True:
        n = 1 << (2 * z)  # 4^z tiles at zoom z
        if tile_id < acc + n:
            x, y = _hilbert_d2xy(z, tile_id - acc)
            return z, x, y
        acc += n
        z += 1


def _iter_varints(buf: bytes):
    """Every varint of a packed run, in order (PMTiles directories, OSM
    packed keys/vals/roles/types and sint deltas)."""
    i = 0
    while i < len(buf):
        v, i = read_uvarint(buf, i)
        yield v


def _pm_directory(blob: bytes) -> list[tuple[int, int, int, int]]:
    """Decode a PMTiles v3 directory: (tile_id, offset, length, run_length)
    entries. Layout: varint n, then n tile-id deltas, n run_lengths,
    n lengths, n offsets (0 ⇒ previous offset+length; else value-1)."""
    it = _iter_varints(blob)
    n = next(it)
    deltas = [next(it) for _ in range(n)]
    runs = [next(it) for _ in range(n)]
    lengths = [next(it) for _ in range(n)]
    raw_offsets = [next(it) for _ in range(n)]
    entries = []
    tid = 0
    for i in range(n):
        tid += deltas[i]
        if raw_offsets[i] == 0 and i > 0:
            off = entries[-1][1] + entries[-1][2]
        else:
            off = raw_offsets[i] - 1
        entries.append((tid, off, lengths[i], runs[i]))
    return entries


class PMTilesReader(BaseReader):
    """PMTiles v3 archive → (z, x, y, tile_id, tile_data) rows, stdlib only
    (parity: PMTileReader readers.py:1673, which needs the pmtiles
    package): fixed 127-byte header, gzip varint directories, Hilbert
    tile addressing. Root + one level of leaf directories supported.
    Driver parses only the (small) directories; tile payloads decode on
    executors from a byte-range manifest — distributed like OSMPBFReader."""

    implements = {PMTiles}

    def _read(self, spark, batch: int = 1024, **kwargs):
        import gzip
        import struct as st

        url = self.data.url
        with open(url, "rb") as f:
            hdr = f.read(127)
            if hdr[:7] != b"PMTiles" or hdr[7] != 3:
                raise ValueError("not a PMTiles v3 archive")
            (root_off, root_len, _m_off, _m_len, leaf_off, leaf_len,
             data_off, _data_len) = st.unpack("<8Q", hdr[8:72])
            internal_comp = hdr[97]
            if internal_comp not in (1, 2):  # 1=none, 2=gzip
                raise ValueError(
                    f"unsupported PMTiles internal compression {internal_comp} "
                    "(only none/gzip; brotli/zstd need external codecs)"
                )
            tile_comp = hdr[98]
            if tile_comp not in (0, 1, 2):  # 0=unknown, 1=none, 2=gzip
                raise ValueError(
                    f"unsupported PMTiles tile compression {tile_comp} "
                    "(only none/gzip; brotli/zstd need external codecs)"
                )

            def load_dir(off, ln):
                f.seek(off)
                blob = f.read(ln)
                if internal_comp == 2:
                    blob = gzip.decompress(blob)
                return _pm_directory(blob)

            entries = []
            for tid, off, ln, run in load_dir(root_off, root_len):
                if run == 0:  # leaf directory pointer
                    for e in load_dir(leaf_off + off, ln):
                        entries.append(e)
                else:
                    entries.append((tid, off, ln, run))

        # directories are small (driver); tile payloads decode on executors
        # via a byte-range manifest — blobs never pass through the driver
        manifest = [
            (tid, data_off + off, ln, max(run, 1)) for tid, off, ln, run in entries
        ]
        mdf = local_frame(spark, manifest, "tid long, off long, len long, run long")
        if len(manifest) > 1:
            mdf = mdf.repartition(min(1 + len(manifest) // batch, spark.sparkContext.defaultParallelism))

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import gzip as _gzip

            with open(url, "rb") as fh:
                for pdf in batches:
                    rows = []
                    for _, e in pdf.iterrows():
                        fh.seek(int(e.off))
                        payload = fh.read(int(e.len))
                        if tile_comp == 2:  # gzip tile payloads → raw bytes
                            payload = _gzip.decompress(payload)
                        for r in range(int(e.run)):
                            z, x, y = _tileid_to_zxy(int(e.tid) + r)
                            rows.append((z, x, y, int(e.tid) + r, payload))
                    yield pd.DataFrame(
                        rows, columns=["z", "x", "y", "tile_id", "tile_data"]
                    )

        schema = T.StructType(
            [
                T.StructField("z", T.IntegerType()),
                T.StructField("x", T.IntegerType()),
                T.StructField("y", T.IntegerType()),
                T.StructField("tile_id", T.LongType()),
                T.StructField("tile_data", T.BinaryType()),
            ]
        )
        return map_in_pandas(mdf, fetch, schema=schema)


class OSMPBF(dt.FileData):
    filepattern = r"(osm\.pbf|pbf)$"
    structure = {"table", "nested"}


def _osm_blob_manifest(url: str) -> list[tuple[str, int, int]]:
    """Scan blob framing driver-side (cheap: reads only the 4-byte lengths
    and BlobHeaders): [(type, payload_offset, payload_len)]."""
    import struct as st

    from intake_spark.mlds import _fields

    out = []
    with open(url, "rb") as f:
        while True:
            raw = f.read(4)
            if len(raw) < 4:
                break
            (hlen,) = st.unpack(">I", raw)
            header = f.read(hlen)
            btype, dsize = "", 0
            for field, _wt, payload in _fields(header):
                if field == 1:
                    btype = payload.decode()
                elif field == 3:
                    dsize = payload
            out.append((btype, f.tell(), dsize))
            f.seek(dsize, 1)
    return out


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _packed_sint_deltas(payload: bytes) -> list[int]:
    vals, acc = [], 0
    for v in _iter_varints(payload):
        acc += _zigzag(v)
        vals.append(acc)
    return vals


def _parse_primitive_block(blob: bytes, kind: str = "nodes") -> list[dict]:
    """PrimitiveBlock → element dicts. ``kind``: "nodes" (DenseNodes —
    the format normal OSM extracts use for all nodes), "ways" (id, refs,
    tags) or "relations" (id, members, tags)."""
    import zlib

    from intake_spark.mlds import _fields

    raw = None
    other_comp = None
    for field, _wt, payload in _fields(blob):
        if field == 1:  # raw
            raw = payload
        elif field == 3:  # zlib_data
            raw = zlib.decompress(payload)
        elif field in (4, 6, 7):  # lzma / lz4 / zstd
            other_comp = {4: "lzma", 6: "lz4", 7: "zstd"}[field]
    if raw is None:
        if other_comp:
            raise ValueError(
                f"OSM blob uses {other_comp} compression; only raw and "
                "zlib blobs are supported (re-encode with osmium --output "
                "compression=zlib)"
            )
        return []
    strings: list[bytes] = []
    groups = []
    granularity, lat_off, lon_off = 100, 0, 0
    for field, _wt, payload in _fields(raw):
        if field == 1:  # stringtable
            strings = [p for f2, _, p in _fields(payload) if f2 == 1]
        elif field == 2:
            groups.append(payload)
        elif field == 17:
            granularity = payload
        elif field == 19:
            lat_off = payload
        elif field == 20:
            lon_off = payload
    def sdecode(idx_list):
        return {
            strings[k].decode("utf-8", "replace"): strings[v].decode("utf-8", "replace")
            for k, v in idx_list
        }

    if kind in ("ways", "relations"):
        out = []
        want = 3 if kind == "ways" else 4
        for g in groups:
            for field, _wt, payload in _fields(g):
                if field != want:
                    continue
                eid, keys, vals = 0, [], []
                refs: list[int] = []
                roles: list[int] = []
                types: list[int] = []
                for f2, _wt2, p in _fields(payload):
                    if f2 == 1:
                        eid = p
                    elif f2 == 2:
                        keys = list(_iter_varints(p))
                    elif f2 == 3:
                        vals = list(_iter_varints(p))
                    elif f2 == 8:  # way refs / relation roles_sid
                        if kind == "ways":
                            refs = _packed_sint_deltas(p)
                        else:
                            roles = list(_iter_varints(p))
                    elif f2 == 9 and kind == "relations":
                        refs = _packed_sint_deltas(p)  # memids, delta-coded
                    elif f2 == 10 and kind == "relations":
                        types = list(_iter_varints(p))
                tags = sdecode(zip(keys, vals))
                if kind == "ways":
                    out.append({"id": eid, "refs": refs, "tags": tags})
                else:
                    tname = {0: "node", 1: "way", 2: "relation"}
                    members = [
                        {
                            "type": tname.get(t, str(t)),
                            "ref": r,
                            "role": strings[sid].decode("utf-8", "replace"),
                        }
                        for sid, r, t in zip(roles, refs, types)
                    ]
                    out.append({"id": eid, "members": members, "tags": tags})
        return out

    nodes = []
    for g in groups:
        for field, _wt, payload in _fields(g):
            if field != 2:  # dense
                continue
            ids: list[int] = []
            lats: list[int] = []
            lons: list[int] = []
            kvs: list[int] = []
            for f2, _wt2, p in _fields(payload):
                if f2 == 1:
                    ids = _packed_sint_deltas(p)
                elif f2 == 8:
                    lats = _packed_sint_deltas(p)
                elif f2 == 9:
                    lons = _packed_sint_deltas(p)
                elif f2 == 10:
                    kvs.extend(_iter_varints(p))
            # keys_vals: k,v index pairs per node, 0-terminated
            tag_iter = iter(kvs)
            for nid, la, lo in zip(ids, lats, lons):
                tags = {}
                for k in tag_iter:
                    if k == 0:
                        break
                    v = next(tag_iter)
                    tags[strings[k].decode("utf-8", "replace")] = strings[v].decode("utf-8", "replace")
                nodes.append(
                    {
                        "id": nid,
                        "lat": 1e-9 * (lat_off + granularity * la),
                        "lon": 1e-9 * (lon_off + granularity * lo),
                        "tags": tags,
                    }
                )
    return nodes


_OSM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)


_OSM_WAY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("refs", T.ArrayType(T.LongType())),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)

_OSM_REL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField(
            "members",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType()),
                        T.StructField("ref", T.LongType()),
                        T.StructField("role", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)


class OSMPBFReader(BaseReader):
    """OSM .pbf → element rows with NO osmium/protobuf dependency (parity:
    OSMPBFReader readers.py:2329): blob framing is scanned driver-side
    (lengths only), then each OSMData blob decodes on executors via a
    byte-range manifest — per-blob parallelism, the unit OSM itself shards
    by (~8k elements/blob on planet files). ``elements`` selects the
    element type: "nodes" (id, lat, lon, tags), "ways" (id, refs, tags)
    or "relations" (id, members <type/ref/role structs>, tags) — joining
    ways.refs against nodes.id reconstructs geometries distributed. The
    protobuf wire walk is shared with the TFRecord reader
    (intake_spark.mlds)."""

    implements = {OSMPBF}

    def _read(self, spark, elements: str = "nodes", **kwargs):
        schemas = {
            "nodes": (_OSM_SCHEMA, ["id", "lat", "lon", "tags"]),
            "ways": (_OSM_WAY_SCHEMA, ["id", "refs", "tags"]),
            "relations": (_OSM_REL_SCHEMA, ["id", "members", "tags"]),
        }
        if elements not in schemas:
            raise ValueError(f"elements must be one of {sorted(schemas)}")
        schema, cols = schemas[elements]
        url = self.data.url
        manifest = [
            (off, ln) for btype, off, ln in _osm_blob_manifest(url) if btype == "OSMData"
        ]
        mdf = local_frame(spark, manifest, "off long, len long")
        if len(manifest) > 1:
            mdf = mdf.repartition(min(len(manifest), spark.sparkContext.defaultParallelism))

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                with open(url, "rb") as f:
                    for _, r in pdf.iterrows():
                        f.seek(int(r.off))
                        rows.extend(_parse_primitive_block(f.read(int(r.len)), elements))
                yield pd.DataFrame(rows, columns=cols)

        return map_in_pandas(mdf, decode, schema=schema)


# ---------------------------------------------------------------------------
# ESRI Shapefile (.shp + .dbf [+ .shx]) — stdlib struct walk of the public
# spec (parity: GeoPandasReader, reference readers.py:1531, which delegates
# to fiona/GDAL). Output matches GeoJSONReader's canonical columns:
# (id, geometry_type, geometry <GeoJSON text>, properties <JSON text>).
#
# Scale model: the .shx index (or, absent that, a driver record-header
# skip-scan reading 8 bytes per record) yields a byte-range manifest; each
# executor task decodes its .shp record range AND the corresponding
# fixed-width .dbf attribute block — geometry and attributes pair up
# positionally inside the task, so there is no join and no driver-side
# feature traffic.
# ---------------------------------------------------------------------------


class Shapefile(dt.FileData):
    filepattern = r"shp$"
    magic = (b"\x00\x00\x27\x0a",)  # big-endian file code 9994
    structure = {"table", "nested"}


def _shp_record_index(shp_path: str, shx_path: str | None) -> list[tuple[int, int]]:
    """[(content_offset_bytes, content_length_bytes)] per record, from the
    .shx index when present, else a skip-scan of .shp record headers."""
    import os
    import struct as st

    if shx_path and os.path.exists(shx_path):
        with open(shx_path, "rb") as f:
            head = f.read(100)
            (flen_words,) = st.unpack(">i", head[24:28])
            n = (flen_words * 2 - 100) // 8
            out = []
            for _ in range(n):
                off_w, len_w = st.unpack(">ii", f.read(8))
                out.append((off_w * 2 + 8, len_w * 2))  # +8: skip record header
            return out
    out = []
    with open(shp_path, "rb") as f:
        (flen_words,) = st.unpack(">i", f.read(28)[24:28])
        end = flen_words * 2
        f.seek(100)
        pos = 100
        while pos < end:
            hdr = f.read(8)
            if len(hdr) < 8:
                break
            _recno, len_w = st.unpack(">ii", hdr)
            out.append((pos + 8, len_w * 2))
            pos += 8 + len_w * 2
            f.seek(pos)
    return out


def _shape_to_geojson(buf: bytes) -> tuple[str, dict | None]:
    """One .shp record content → (geometry_type, GeoJSON geometry dict)."""
    import struct as st

    (stype,) = st.unpack("<i", buf[:4])
    if stype == 0:
        return "", None
    if stype == 1:  # Point
        x, y = st.unpack("<2d", buf[4:20])
        return "Point", {"type": "Point", "coordinates": [x, y]}
    if stype == 8:  # MultiPoint
        (n,) = st.unpack("<i", buf[36:40])
        pts = [list(st.unpack("<2d", buf[40 + i * 16 : 56 + i * 16])) for i in range(n)]
        return "MultiPoint", {"type": "MultiPoint", "coordinates": pts}
    if stype in (3, 5):  # PolyLine / Polygon
        nparts, npts = st.unpack("<2i", buf[36:44])
        parts = list(st.unpack(f"<{nparts}i", buf[44 : 44 + 4 * nparts]))
        pbase = 44 + 4 * nparts
        pts = [
            list(st.unpack("<2d", buf[pbase + i * 16 : pbase + 16 + i * 16]))
            for i in range(npts)
        ]
        bounds = parts + [npts]
        rings = [pts[bounds[i] : bounds[i + 1]] for i in range(nparts)]
        if stype == 3:
            if len(rings) == 1:
                return "LineString", {"type": "LineString", "coordinates": rings[0]}
            return "MultiLineString", {"type": "MultiLineString", "coordinates": rings}
        return "Polygon", {"type": "Polygon", "coordinates": rings}
    raise ValueError(
        f"unsupported shapefile shape type {stype} (Point/MultiPoint/"
        "PolyLine/Polygon; Z/M variants not supported)"
    )


def _dbf_header(path: str) -> tuple[int, int, int, list[tuple[str, str, int, int]]]:
    """(n_records, header_size, record_size, [(name, type, length, decimals)])."""
    import struct as st

    with open(path, "rb") as f:
        head = f.read(32)
        nrec, hsize, rsize = st.unpack("<IHH", head[4:12])
        fields = []
        while True:
            desc = f.read(32)
            if not desc or desc[0] == 0x0D:
                break
            name = desc[:11].split(b"\x00", 1)[0].decode("ascii", errors="replace")
            ftype = chr(desc[11])
            fields.append((name, ftype, desc[16], desc[17]))
            if f.tell() >= hsize:
                break
    return nrec, hsize, rsize, fields


def _dbf_value(raw: bytes, ftype: str, decimals: int):
    s = raw.decode("latin-1").strip()
    if not s or s == "*" * len(s):
        return None
    if ftype in ("N", "F"):
        try:
            return int(s) if decimals == 0 and ftype == "N" and "." not in s else float(s)
        except ValueError:
            return None
    if ftype == "L":
        return s in "TtYy" if s in "TtYyFfNn" else None
    return s  # C (character), D (YYYYMMDD date) kept as text


class ShapefileReader(BaseReader):
    """Shapefile → canonical geometry rows (GeoJSONReader-compatible):
    ``id`` = record number, ``geometry`` = GeoJSON text, ``properties`` =
    the record's .dbf attributes as JSON text. ``records_per_task``
    controls manifest granularity."""

    implements = {Shapefile}

    def _read(self, spark, records_per_task: int = 10_000, **kwargs):
        import os

        shp = self.data.url
        stem = shp[:-4] if shp.lower().endswith(".shp") else shp
        shx, dbf = stem + ".shx", stem + ".dbf"
        index = _shp_record_index(shp, shx)
        has_dbf = os.path.exists(dbf)
        if has_dbf:
            nrec, hsize, rsize, fields = _dbf_header(dbf)
        else:
            nrec, hsize, rsize, fields = 0, 0, 0, []

        schema = T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("geometry_type", T.StringType()),
                T.StructField("geometry", T.StringType()),
                T.StructField("properties", T.StringType()),
            ]
        )
        if not index:
            return local_frame(spark, [], schema)
        ranges = [
            (start, min(start + records_per_task, len(index)))
            for start in range(0, len(index), records_per_task)
        ]
        mdf = local_frame(spark, ranges, "rec_start long, rec_end long")
        if len(ranges) > 1:
            mdf = mdf.repartition(min(len(ranges), spark.sparkContext.defaultParallelism))

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import json as _json

            fdbf = open(dbf, "rb") if has_dbf else None
            try:
                with open(shp, "rb") as fshp:
                    for pdf in batches:
                        for _, rg in pdf.iterrows():
                            rows = []
                            for rec in range(int(rg.rec_start), int(rg.rec_end)):
                                off, ln = index[rec]
                                fshp.seek(off)
                                gtype, geom = _shape_to_geojson(fshp.read(ln))
                                props: dict = {}
                                if fdbf is not None and rec < nrec:
                                    fdbf.seek(hsize + rec * rsize)
                                    raw = fdbf.read(rsize)
                                    pos = 1  # deletion flag byte
                                    for name, ftype, flen, fdec in fields:
                                        props[name] = _dbf_value(
                                            raw[pos : pos + flen], ftype, fdec
                                        )
                                        pos += flen
                                rows.append(
                                    {
                                        "id": str(rec),
                                        "geometry_type": gtype,
                                        "geometry": _json.dumps(geom, sort_keys=True),
                                        "properties": _json.dumps(props, sort_keys=True),
                                    }
                                )
                            yield pd.DataFrame(
                                rows,
                                columns=["id", "geometry_type", "geometry", "properties"],
                            )
            finally:
                if fdbf is not None:
                    fdbf.close()

        return map_in_pandas(mdf, decode, schema=schema)


# ---------------------------------------------------------------------------
# GeoPackage — OGC sqlite container for vector features (parity:
# GeoPandasReader over GPKG, reference readers.py:1531, which needs
# fiona/GDAL). Stdlib sqlite3 + a WKB→GeoJSON decoder; output matches
# GeoJSONReader/ShapefileReader's canonical columns. Feature rows read
# distributed via the MBTiles rowid-range recipe.
# ---------------------------------------------------------------------------


class GeoPackage(dt.FileData):
    filepattern = r"gpkg$"
    magic = (b"SQLite format 3",)
    structure = {"table", "nested"}


def _wkb_geom(buf: bytes, pos: int) -> tuple[str, object, int]:
    """WKB (2-D, both byte orders) → (type, GeoJSON coordinates, next pos)."""
    import struct as st

    bo = "<" if buf[pos] == 1 else ">"
    (wtype,) = st.unpack_from(bo + "I", buf, pos + 1)
    pos += 5
    base = wtype & 0xFF
    if wtype & 0xE0000000 or wtype // 1000 in (1, 2, 3):
        raise ValueError("Z/M/EWKB geometries not supported (2-D WKB only)")

    def pt():
        nonlocal pos
        x, y = st.unpack_from(bo + "2d", buf, pos)
        pos += 16
        return [x, y]

    def ring():
        nonlocal pos
        (n,) = st.unpack_from(bo + "I", buf, pos)
        pos += 4
        return [pt() for _ in range(n)]

    if base == 1:
        return "Point", pt(), pos
    if base == 2:
        return "LineString", ring(), pos
    if base == 3:
        (n,) = st.unpack_from(bo + "I", buf, pos)
        pos += 4
        return "Polygon", [ring() for _ in range(n)], pos
    if base in (4, 5, 6, 7):
        (n,) = st.unpack_from(bo + "I", buf, pos)
        pos += 4
        names = {4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon", 7: "GeometryCollection"}
        parts = []
        for _ in range(n):
            gtype, coords, pos = _wkb_geom(buf, pos)
            if base == 7:
                parts.append({"type": gtype, "coordinates": coords})
            else:
                parts.append(coords)
        return names[base], parts, pos
    raise ValueError(f"unsupported WKB geometry type {wtype}")


def gpkg_blob_to_geojson(blob: bytes) -> tuple[str, dict | None]:
    """GeoPackage geometry blob (GP header + envelope + WKB) → GeoJSON."""
    import struct as st

    if blob is None or len(blob) < 8:
        return "", None
    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackage geometry blob (missing GP magic)")
    flags = blob[3]
    if flags & 0x10:  # empty-geometry flag
        return "", None
    env = (flags >> 1) & 0x07
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(env)
    if env_len is None:
        raise ValueError(f"invalid GeoPackage envelope indicator {env}")
    gtype, coords, _ = _wkb_geom(blob, 8 + env_len)
    if gtype == "GeometryCollection":
        return gtype, {"type": gtype, "geometries": coords}
    return gtype, {"type": gtype, "coordinates": coords}


class GeoPackageReader(BaseReader):
    """GeoPackage feature table → canonical geometry rows (id,
    geometry_type, geometry <GeoJSON text>, properties <JSON text>).
    ``table`` picks a layer; default = first `features` row of
    gpkg_contents. Feature pages read on executors via rowid ranges —
    geometry blobs never pass through the driver."""

    implements = {GeoPackage}

    def _read(self, spark, table: str | None = None, rows_per_task: int = 10_000, **kwargs):
        import sqlite3

        url = self.data.url
        con = sqlite3.connect(f"file:{url}?mode=ro", uri=True)
        try:
            layers = [
                r[0]
                for r in con.execute(
                    "SELECT table_name FROM gpkg_contents WHERE data_type = 'features'"
                )
            ]
            if not layers:
                raise ValueError(f"no feature layers in {url}")
            if table is None:
                table = layers[0]
            if table not in layers:
                raise KeyError(f"layer {table!r} not in {layers}")
            # identifiers come from the file's own gpkg_contents: escape
            # embedded quotes at INTERPOLATION sites only so a hostile file
            # can't break out of the quoted identifier — the parameterized
            # lookup below needs the raw name (bind values take no escaping)
            (geom_col,) = con.execute(
                "SELECT column_name FROM gpkg_geometry_columns WHERE table_name = ?",
                (table,),
            ).fetchone()
            qtable = table.replace('"', '""')
            info = list(con.execute(f'PRAGMA table_info("{qtable}")'))
            # pk columns are the row identity (surfaced as `id`), not
            # attributes — including them would duplicate rowid
            attr_cols = [r[1] for r in info if r[1] != geom_col and not r[5]]
            lo_hi = con.execute(f'SELECT MIN(rowid), MAX(rowid) FROM "{qtable}"').fetchone()
        finally:
            con.close()
        self.data.metadata.update({"layers": layers, "layer": table, "geometry_column": geom_col})

        schema = T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("geometry_type", T.StringType()),
                T.StructField("geometry", T.StringType()),
                T.StructField("properties", T.StringType()),
            ]
        )
        if lo_hi is None or lo_hi[0] is None:
            return local_frame(spark, [], schema)
        lo, hi = lo_hi
        ranges = [
            (start, min(start + rows_per_task - 1, hi))
            for start in range(lo, hi + 1, rows_per_task)
        ]
        mdf = local_frame(spark, ranges, "lo long, hi long")
        if len(ranges) > 1:
            mdf = mdf.repartition(min(len(ranges), spark.sparkContext.defaultParallelism))
        qgeom = geom_col.replace('"', '""')
        sel = ", ".join(
            ["rowid", f'"{qgeom}"'] + ['"{}"'.format(c.replace('"', '""')) for c in attr_cols]
        )

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import json as _json

            vcon = sqlite3.connect(f"file:{url}?mode=ro", uri=True)
            try:
                for pdf in batches:
                    for _, rg in pdf.iterrows():
                        rows = []
                        for rec in vcon.execute(
                            f'SELECT {sel} FROM "{qtable}" WHERE rowid '
                            f"BETWEEN {int(rg.lo)} AND {int(rg.hi)}"
                        ):
                            gtype, geom = gpkg_blob_to_geojson(rec[1])
                            props = {
                                c: (v.hex() if isinstance(v, bytes) else v)
                                for c, v in zip(attr_cols, rec[2:])
                            }
                            rows.append(
                                {
                                    "id": str(rec[0]),
                                    "geometry_type": gtype,
                                    "geometry": _json.dumps(geom, sort_keys=True),
                                    "properties": _json.dumps(props, sort_keys=True),
                                }
                            )
                        yield pd.DataFrame(
                            rows,
                            columns=["id", "geometry_type", "geometry", "properties"],
                        )
            finally:
                vcon.close()

        return map_in_pandas(mdf, fetch, schema=schema)


# ---------------------------------------------------------------------------
# GeoParquet — parquet with WKB geometry + 'geo' file metadata (parity:
# DaskGeoParquet / GeoPandasReader parquet path, reference readers.py,
# which need geopandas; the WKB decode reuses this module's stdlib walker
# and everything else stays a native parquet scan).
# ---------------------------------------------------------------------------


class GeoParquet(dt.FileData):
    """Parquet with a WKB geometry column ('geo' key-value metadata).
    Same container as dt.Parquet — construct explicitly (recommend keeps
    plain .parquet mapped to the native reader)."""

    # filepattern only — no PAR1 magic: generic .parquet files must keep
    # resolving to dt.Parquet; GeoParquet claims just the explicit
    # extensions (or explicit construction)
    filepattern = r"(geo\.parquet|geoparquet)$"
    structure = {"table", "geo"}


class GeoParquetReader(BaseReader):
    """GeoParquet → DataFrame: every attribute column stays a NATIVE
    parquet scan column (predicate pushdown / column pruning intact); the
    WKB geometry column decodes Arrow-batched on executors into
    ``geometry_type`` + ``geometry`` (GeoJSON text) — the same canonical
    geometry row model as the Shapefile/GeoPackage readers, so downstream
    steps compose identically. The geometry column name comes from the
    file's 'geo' metadata (primary_column), falling back to 'geometry'."""

    implements = {GeoParquet}

    def _read(self, spark, geometry_col: str | None = None, **kwargs):
        import glob as _glob
        import json as _json
        import os as _os

        url = self.data.url
        if geometry_col is None:
            # driver peek at the parquet footer's key-value metadata
            import pyarrow.parquet as pq

            path = url
            if _os.path.isdir(url):
                members = sorted(_glob.glob(_os.path.join(url, "*.parquet")))
                path = members[0] if members else url
            meta = pq.ParquetFile(path).metadata.metadata or {}
            geo = meta.get(b"geo")
            if geo:
                doc = _json.loads(geo)
                geometry_col = doc.get("primary_column", "geometry")
                self.data.metadata["geo"] = {
                    "primary_column": geometry_col,
                    "columns": list(doc.get("columns", {})),
                }
            else:
                geometry_col = "geometry"
        df = spark.read.parquet(url)
        if geometry_col not in df.columns:
            raise ValueError(
                f"geometry column {geometry_col!r} not in {df.columns}"
            )
        others = [c for c in df.columns if c != geometry_col]
        out_schema = T.StructType(
            [df.schema[c] for c in others]
            + [
                T.StructField("geometry_type", T.StringType()),
                T.StructField("geometry", T.StringType()),
            ]
        )

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import json as _j

            for pdf in batches:
                gtypes, geoms = [], []
                for blob in pdf[geometry_col]:
                    if blob is None:
                        gtypes.append(None)
                        geoms.append(None)
                        continue
                    gtype, coords, _ = _wkb_geom(bytes(blob), 0)
                    if gtype == "GeometryCollection":
                        doc = {"type": gtype, "geometries": coords}
                    else:
                        doc = {"type": gtype, "coordinates": coords}
                    gtypes.append(gtype)
                    geoms.append(_j.dumps(doc, sort_keys=True))
                out = pdf[others].copy()
                out["geometry_type"] = gtypes
                out["geometry"] = geoms
                yield out

        return map_in_pandas(df, decode, schema=out_schema)


# ---------------------------------------------------------------------------
# FlatGeobuf (reference surface: datatypes.py FlatGeoBuf + GeoPandasReader)
# ---------------------------------------------------------------------------
#
# The format is flatbuffers-based; the wire format (uoffset/soffset/vtable)
# is a small published spec, parsed here directly — no flatbuffers runtime.

import struct as _struct

FGB_MAGIC = b"fgb\x03fgb\x00"

# flatgeobuf ColumnType enum (header.fbs)
_FGB_COL_FMT = {
    0: ("b", 1),   # Byte
    1: ("B", 1),   # UByte
    2: ("?", 1),   # Bool
    3: ("h", 2),   # Short
    4: ("H", 2),   # UShort
    5: ("i", 4),   # Int
    6: ("I", 4),   # UInt
    7: ("q", 8),   # Long
    8: ("Q", 8),   # ULong
    9: ("f", 4),   # Float
    10: ("d", 8),  # Double
}
_FGB_COL_VARLEN = {11, 12, 13, 14}  # String, Json, DateTime, Binary

_FGB_GEOM_NAME = {
    0: "Unknown", 1: "Point", 2: "LineString", 3: "Polygon",
    4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
    7: "GeometryCollection",
}


def _fb_u16(buf, pos):
    return _struct.unpack_from("<H", buf, pos)[0]


def _fb_u32(buf, pos):
    return _struct.unpack_from("<I", buf, pos)[0]


def _fb_i32(buf, pos):
    return _struct.unpack_from("<i", buf, pos)[0]


def _fb_root(buf):
    """Position of the root table."""
    return _fb_u32(buf, 0)


def _fb_field_pos(buf, tpos, idx):
    """Absolute position of field ``idx`` of the table at ``tpos``, or
    None when the field is absent (default)."""
    vtpos = tpos - _fb_i32(buf, tpos)
    vtsize = _fb_u16(buf, vtpos)
    slot = 4 + 2 * idx
    if slot + 2 > vtsize:
        return None
    fo = _fb_u16(buf, vtpos + slot)
    return tpos + fo if fo else None


def _fb_scalar(buf, tpos, idx, fmt, default=0):
    p = _fb_field_pos(buf, tpos, idx)
    return _struct.unpack_from("<" + fmt, buf, p)[0] if p is not None else default


def _fb_indirect(buf, tpos, idx):
    """Follow a uoffset field → absolute position of the target object."""
    p = _fb_field_pos(buf, tpos, idx)
    return p + _fb_u32(buf, p) if p is not None else None


def _fb_string(buf, tpos, idx):
    p = _fb_indirect(buf, tpos, idx)
    if p is None:
        return None
    n = _fb_u32(buf, p)
    return buf[p + 4 : p + 4 + n].decode("utf-8")


def _fb_vector(buf, tpos, idx):
    """uoffset field → (element_start, count) of the target vector."""
    p = _fb_indirect(buf, tpos, idx)
    if p is None:
        return None, 0
    return p + 4, _fb_u32(buf, p)


def _fb_vec_scalars(buf, tpos, idx, fmt, width):
    start, n = _fb_vector(buf, tpos, idx)
    if start is None:
        return []
    return list(_struct.unpack_from(f"<{n}{fmt}", buf, start)) if n else []


def _fb_vec_tables(buf, tpos, idx):
    start, n = _fb_vector(buf, tpos, idx)
    if start is None:
        return []
    out = []
    for i in range(n):
        p = start + 4 * i
        out.append(p + _fb_u32(buf, p))
    return out


def _fgb_columns(buf, header_pos):
    """Header field 7: [Column]; each Column: 0=name 1=type."""
    cols = []
    for cpos in _fb_vec_tables(buf, header_pos, 7):
        cols.append(
            (_fb_string(buf, cpos, 0) or "", _fb_scalar(buf, cpos, 1, "B", 0))
        )
    return cols


def _fgb_pairs(xy):
    return [[xy[i], xy[i + 1]] for i in range(0, len(xy), 2)]


def _fgb_rings(xy, ends):
    pts = _fgb_pairs(xy)
    if not ends:
        return [pts]
    rings, prev = [], 0
    for e in ends:
        rings.append(pts[prev:e])
        prev = e
    return rings


def _fgb_geometry(buf, gpos, gtype):
    """Geometry table → (geojson_type, coordinates-or-geometries). Fields:
    0=ends [uint], 1=xy [double], 6=type, 7=parts [Geometry]."""
    own = _fb_scalar(buf, gpos, 6, "B", 0) or gtype
    name = _FGB_GEOM_NAME.get(own, "Unknown")
    parts = _fb_vec_tables(buf, gpos, 7)
    if parts:
        if name == "GeometryCollection":
            geoms = []
            for p in parts:
                t, c = _fgb_geometry(buf, p, 0)
                geoms.append({"type": t, "coordinates": c})
            return name, geoms
        # MultiPolygon / MultiLineString via parts: concat part coordinates
        coords = []
        for p in parts:
            _t, c = _fgb_geometry(buf, p, own - 3 if own >= 4 else own)
            coords.append(c)
        return name, coords
    xy = _fb_vec_scalars(buf, gpos, 1, "d", 8)
    ends = _fb_vec_scalars(buf, gpos, 0, "I", 4)
    if name == "Point":
        return name, xy[:2]
    if name in ("LineString", "MultiPoint"):
        return name, _fgb_pairs(xy)
    if name in ("Polygon", "MultiLineString"):
        return name, _fgb_rings(xy, ends)
    if name == "MultiPolygon":
        # single-part multipolygon encoded flat
        return name, [_fgb_rings(xy, ends)]
    raise ValueError(f"unsupported FlatGeobuf geometry type {own}")


def _fgb_properties(buf, fpos, columns):
    """Feature field 1: [ubyte] properties blob — repeated
    (u16 column index + value), value width from the column type."""
    start, n = _fb_vector(buf, fpos, 1)
    props = {}
    if start is None:
        return props
    end = start + n
    pos = start
    while pos + 2 <= end:
        ci = _fb_u16(buf, pos)
        pos += 2
        name, ctype = columns[ci]
        if ctype in _FGB_COL_FMT:
            fmt, width = _FGB_COL_FMT[ctype]
            (val,) = _struct.unpack_from("<" + fmt, buf, pos)
            pos += width
        elif ctype in _FGB_COL_VARLEN:
            ln = _fb_u32(buf, pos)
            raw = bytes(buf[pos + 4 : pos + 4 + ln])
            pos += 4 + ln
            val = raw.hex() if ctype == 14 else raw.decode("utf-8")
        else:
            raise ValueError(f"unsupported FlatGeobuf column type {ctype}")
        props[name] = val
    return props


def _fgb_index_size(features_count: int, node_size: int) -> int:
    """Packed Hilbert R-tree size (spec: 40-byte nodes, levels bottom-up)."""
    if node_size == 0 or features_count == 0:
        return 0
    if node_size < 2:
        raise ValueError(
            f"invalid FlatGeobuf index_node_size {node_size} (spec minimum 2)"
        )
    # do-while (per the spec/flatbush implementations): even a 1-feature
    # tree gets a root level above the leaf, so 1 feature = 2 nodes
    n = features_count
    total = n
    while True:
        n = (n + node_size - 1) // node_size
        total += n
        if n == 1:
            break
    return total * 40


class FlatGeobuf(dt.FileData):
    """FlatGeobuf (.fgb) cloud-optimized vector format (reference:
    datatypes.py FlatGeoBuf; read there via GeoPandas/GDAL)."""

    filepattern = r"fgb$"
    magic = (FGB_MAGIC[:4],)
    structure = {"table", "geo"}


class FlatGeobufReader(BaseReader):
    """FlatGeobuf → canonical geometry rows (GeoJSONReader-compatible):
    ``id`` = feature ordinal, ``geometry`` = GeoJSON text, ``properties``
    = JSON text. Direct flatbuffers wire-format parse (vtables/uoffsets)
    — no flatbuffers runtime, no GDAL.

    Scale shape: the driver walks only the size prefixes to build a
    feature byte-range manifest (the spatial index, if present, is
    skipped by its computed size — never loaded); executors seek+decode
    their feature ranges in Arrow-batched ``mapInPandas``, the same
    byte-range pattern as the Shapefile/GeoPackage readers."""

    implements = {FlatGeobuf}

    def _read(self, spark, features_per_task: int = 10_000, **kwargs):
        url = self.data.url
        with open(url, "rb") as f:
            magic = f.read(8)
            if magic != FGB_MAGIC:
                raise ValueError("not a FlatGeobuf file (magic mismatch)")
            (hsize,) = _struct.unpack("<I", f.read(4))
            header = f.read(hsize)
            hpos = _fb_root(header)
            gtype = _fb_scalar(header, hpos, 2, "B", 0)
            columns = _fgb_columns(header, hpos)
            features_count = _fb_scalar(header, hpos, 8, "Q", 0)
            node_size = _fb_scalar(header, hpos, 9, "H", 16)
            f.seek(_fgb_index_size(features_count, node_size), 1)
            # manifest: walk the size prefixes only
            index = []
            while True:
                szb = f.read(4)
                if len(szb) < 4:
                    break
                (fsize,) = _struct.unpack("<I", szb)
                index.append((f.tell(), fsize))
                f.seek(fsize, 1)

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("geometry_type", T.StringType()),
                T.StructField("geometry", T.StringType()),
                T.StructField("properties", T.StringType()),
            ]
        )
        if not index:
            return local_frame(spark, [], schema)
        # each manifest ROW carries only ITS slice of (offset, size) pairs
        # — capturing the whole index in the decode closure would ship the
        # full manifest to every task (hundreds of MB at 10M features)
        ranges = [
            (
                start,
                [o for o, _l in index[start : start + features_per_task]],
                [l for _o, l in index[start : start + features_per_task]],
            )
            for start in range(0, len(index), features_per_task)
        ]
        mdf = local_frame(
            spark, ranges, "rec_start long, offs array<long>, lens array<long>"
        )
        if len(ranges) > 1:
            mdf = mdf.repartition(
                min(len(ranges), spark.sparkContext.defaultParallelism)
            )

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import json as _json

            with open(url, "rb") as fh:
                for pdf in batches:
                    for _, rg in pdf.iterrows():
                        rows = []
                        for i, (off, ln) in enumerate(zip(rg.offs, rg.lens)):
                            rec = int(rg.rec_start) + i
                            off, ln = int(off), int(ln)
                            fh.seek(off)
                            fbuf = fh.read(ln)
                            fpos = _fb_root(fbuf)
                            gpos = _fb_indirect(fbuf, fpos, 0)
                            if gpos is None:
                                gname, doc = "Unknown", None
                            else:
                                gname, coords = _fgb_geometry(fbuf, gpos, gtype)
                                key = (
                                    "geometries"
                                    if gname == "GeometryCollection"
                                    else "coordinates"
                                )
                                doc = _json.dumps(
                                    {"type": gname, key: coords}, sort_keys=True
                                )
                            props = _fgb_properties(fbuf, fpos, columns)
                            rows.append(
                                (rec, gname, doc, _json.dumps(props, sort_keys=True))
                            )
                        yield pd.DataFrame(
                            rows,
                            columns=["id", "geometry_type", "geometry", "properties"],
                        )

        return map_in_pandas(mdf, decode, schema=schema)


class FBBuilder:
    """Minimal flatbuffers builder (back-to-front assembly) — enough wire
    format for FlatGeobuf headers/features. Object refs are distances from
    the buffer END so later prepends reference earlier objects with the
    positive uoffsets the format requires. Shared by :func:`fgb_header` /
    :func:`fgb_feature` (the ``to_flatgeobuf`` sink) and the test
    fixtures, so writer and reader exercise the same wire rules."""

    def __init__(self):
        self.data = bytearray()

    def _prepend(self, b: bytes) -> int:
        self.data[:0] = b
        return len(self.data)

    def vec_scalars(self, fmt: str, vals) -> int:
        body = _struct.pack(f"<I{len(vals)}{fmt}", len(vals), *vals)
        return self._prepend(body)

    def string(self, s: str) -> int:
        b = s.encode()
        return self._prepend(_struct.pack("<I", len(b)) + b + b"\x00")

    def vec_offsets(self, refs) -> int:
        chunk_ref = len(self.data) + 4 + 4 * len(refs)
        body = _struct.pack("<I", len(refs))
        for i, r in enumerate(refs):
            elem_ref = chunk_ref - 4 - 4 * i
            body += _struct.pack("<I", elem_ref - r)
        return self._prepend(body)

    def table(self, fields) -> int:
        """fields: [(idx, kind, value)] with kind 'offset' or
        'scalar:<struct-fmt>'; returns the table's ref."""
        n_slots = (max(i for i, _k, _v in fields) + 1) if fields else 0
        vtsize = 4 + 2 * n_slots
        offs = {}
        tsize = 4
        for idx, kind, _v in fields:
            offs[idx] = tsize
            tsize += 4 if kind == "offset" else _struct.calcsize(kind.split(":")[1])
        vt = _struct.pack("<HH", vtsize, tsize)
        for i in range(n_slots):
            vt += _struct.pack("<H", offs.get(i, 0))
        chunk_ref = len(self.data) + vtsize + tsize
        t_ref = chunk_ref - vtsize
        body = _struct.pack("<i", vtsize)
        for idx, kind, v in fields:
            if kind == "offset":
                field_ref = t_ref - offs[idx]
                body += _struct.pack("<I", field_ref - v)
            else:
                body += _struct.pack("<" + kind.split(":")[1], v)
        self._prepend(vt + body)
        return t_ref

    def finish(self, root_ref: int) -> bytes:
        total = len(self.data) + 4
        self.data[:0] = _struct.pack("<I", total - root_ref)
        return bytes(self.data)


_FGB_GEOM_CODE = {v: k for k, v in _FGB_GEOM_NAME.items()}


def _fgb_build_geometry(fb: FBBuilder, doc: dict) -> int:
    gname = doc["type"]
    code = _FGB_GEOM_CODE[gname]
    if gname == "GeometryCollection":
        parts = [_fgb_build_geometry(fb, g) for g in doc["geometries"]]
        return fb.table([(6, "scalar:B", code), (7, "offset", fb.vec_offsets(parts))])
    coords = doc["coordinates"]
    if gname == "MultiPolygon":
        parts = [
            _fgb_build_geometry(fb, {"type": "Polygon", "coordinates": poly})
            for poly in coords
        ]
        return fb.table([(6, "scalar:B", code), (7, "offset", fb.vec_offsets(parts))])
    if gname == "Point":
        xy, ends = list(coords), []
    elif gname in ("LineString", "MultiPoint"):
        xy, ends = [v for pt in coords for v in pt], []
    elif gname in ("Polygon", "MultiLineString"):
        xy, ends, total = [], [], 0
        for ring in coords:
            xy.extend(v for pt in ring for v in pt)
            total += len(ring)
            ends.append(total)
        if len(coords) == 1:
            ends = []
    else:
        raise ValueError(f"to_flatgeobuf: unsupported geometry {gname}")
    fields = [(6, "scalar:B", code)]
    if xy:
        fields.append((1, "offset", fb.vec_scalars("d", [float(v) for v in xy])))
    if ends:
        fields.append((0, "offset", fb.vec_scalars("I", ends)))
    return fb.table(sorted(fields))


def fgb_feature(doc: dict | None, props: dict, columns) -> bytes:
    """One size-prefix-less feature flatbuffer from a GeoJSON geometry dict
    and a property mapping (column order fixes the blob layout)."""
    fb = FBBuilder()
    fields = []
    if doc is not None:
        fields.append((0, "offset", _fgb_build_geometry(fb, doc)))
    blob = b""
    col_idx = {name: i for i, (name, _t) in enumerate(columns)}
    for name, val in props.items():
        if name not in col_idx or val is None:
            continue
        ci = col_idx[name]
        ctype = columns[ci][1]
        blob += _struct.pack("<H", ci)
        if ctype in _FGB_COL_FMT:
            fmt, _w = _FGB_COL_FMT[ctype]
            # coerce to the declared column type so a type-inconsistent or
            # nested value cannot kill the write job mid-file
            if fmt == "?":
                val = bool(val)
            elif fmt in ("f", "d"):
                val = float(val)
            else:
                val = int(val)
            blob += _struct.pack("<" + fmt, val)
        else:
            if isinstance(val, str):
                raw = val.encode()
            elif isinstance(val, (bytes, bytearray)):
                raw = bytes(val)
            else:
                import json as _json

                raw = _json.dumps(val, sort_keys=True).encode()
            blob += _struct.pack("<I", len(raw)) + raw
    if blob:
        fields.append((1, "offset", fb.vec_scalars("B", list(blob))))
    return fb.finish(fb.table(fields))


def fgb_header(columns, features_count: int, geometry_type: int = 0, name: str = "layer") -> bytes:
    fb = FBBuilder()
    col_refs = [
        fb.table([(0, "offset", fb.string(cname)), (1, "scalar:B", ctype)])
        for cname, ctype in columns
    ]
    cvec = fb.vec_offsets(col_refs)
    nref = fb.string(name)
    root = fb.table(
        [
            (0, "offset", nref),
            (2, "scalar:B", geometry_type),
            (7, "offset", cvec),
            (8, "scalar:Q", features_count),
            (9, "scalar:H", 0),  # no spatial index written
        ]
    )
    return fb.finish(root)


_WKB_CODE = {
    "Point": 1, "LineString": 2, "Polygon": 3, "MultiPoint": 4,
    "MultiLineString": 5, "MultiPolygon": 6, "GeometryCollection": 7,
}


def geojson_to_wkb(doc: dict) -> bytes:
    """GeoJSON geometry dict → 2-D little-endian WKB (the exact inverse of
    :func:`_wkb_geom`)."""
    gname = doc["type"]
    code = _WKB_CODE[gname]
    out = bytearray(b"\x01" + _struct.pack("<I", code))

    def pts(seq):
        for x, y in seq:
            out.extend(_struct.pack("<2d", float(x), float(y)))

    if gname == "Point":
        pts([doc["coordinates"]])
    elif gname in ("LineString", "MultiPoint"):
        coords = doc["coordinates"]
        out.extend(_struct.pack("<I", len(coords)))
        if gname == "MultiPoint":
            # WKB multipoint members are full Point geometries
            out = bytearray(b"\x01" + _struct.pack("<II", code, len(coords)))
            for pt in coords:
                out.extend(geojson_to_wkb({"type": "Point", "coordinates": pt}))
        else:
            pts(coords)
    elif gname == "Polygon":
        rings = doc["coordinates"]
        out.extend(_struct.pack("<I", len(rings)))
        for ring in rings:
            out.extend(_struct.pack("<I", len(ring)))
            pts(ring)
    elif gname in ("MultiLineString", "MultiPolygon"):
        inner = "LineString" if gname == "MultiLineString" else "Polygon"
        coords = doc["coordinates"]
        out.extend(_struct.pack("<I", len(coords)))
        for c in coords:
            out.extend(geojson_to_wkb({"type": inner, "coordinates": c}))
    else:  # GeometryCollection
        geoms = doc["geometries"]
        out.extend(_struct.pack("<I", len(geoms)))
        for g in geoms:
            out.extend(geojson_to_wkb(g))
    return bytes(out)


# ---------------------------------------------------------------------------
# WKT (reference surface: geopandas reads WKT columns via GeoPandasTabular)
# ---------------------------------------------------------------------------


def wkt_to_geojson(text: str) -> tuple[str, dict | None]:
    """Well-Known Text → (geometry_type, GeoJSON dict). 2-D, all seven
    geometry types, EMPTY handled; case-insensitive keywords."""
    s = text.strip()
    up = s.upper()
    for name in (
        "GEOMETRYCOLLECTION", "MULTILINESTRING", "MULTIPOLYGON", "MULTIPOINT",
        "LINESTRING", "POLYGON", "POINT",
    ):
        if up.startswith(name):
            rest = s[len(name):].strip()
            gname = {
                "POINT": "Point", "LINESTRING": "LineString",
                "POLYGON": "Polygon", "MULTIPOINT": "MultiPoint",
                "MULTILINESTRING": "MultiLineString",
                "MULTIPOLYGON": "MultiPolygon",
                "GEOMETRYCOLLECTION": "GeometryCollection",
            }[name]
            break
    else:
        raise ValueError(f"not WKT: {text[:40]!r}")
    if rest.upper() == "EMPTY":
        return gname, None

    def parse_group(txt: str, depth: int):
        """Recursive ( ... ) group → nested coordinate lists at ``depth``
        levels; depth 0 parses 'x y' pairs."""
        txt = txt.strip()
        if depth == 0:
            if txt.startswith("("):  # MULTIPOINT ((1 2), ...) spelling
                txt = txt[1:-1].strip()
            parts = txt.split()
            return [float(parts[0]), float(parts[1])]
        assert txt[0] == "(" and txt[-1] == ")", f"malformed WKT group: {txt[:30]}"
        inner = txt[1:-1]
        # split on top-level commas
        items, level, start = [], 0, 0
        for i, ch in enumerate(inner):
            if ch == "(":
                level += 1
            elif ch == ")":
                level -= 1
            elif ch == "," and level == 0:
                items.append(inner[start:i])
                start = i + 1
        items.append(inner[start:])
        return [parse_group(it, depth - 1) for it in items]

    if gname == "GeometryCollection":
        inner = rest.strip()
        assert inner[0] == "(" and inner[-1] == ")"
        body, level, start, parts = inner[1:-1], 0, 0, []
        for i, ch in enumerate(body):
            if ch == "(":
                level += 1
            elif ch == ")":
                level -= 1
            elif ch == "," and level == 0:
                parts.append(body[start:i])
                start = i + 1
        parts.append(body[start:])
        geoms = []
        for p in parts:
            t, d = wkt_to_geojson(p)
            geoms.append(d if d is not None else {"type": t, "coordinates": []})
        return gname, {"type": gname, "geometries": geoms}

    depth = {
        "Point": 1, "LineString": 1, "MultiPoint": 1,
        "Polygon": 2, "MultiLineString": 2, "MultiPolygon": 3,
    }[gname]
    coords = parse_group(rest, depth)
    if gname == "Point":
        coords = coords[0]
    elif gname == "MultiPoint":
        # both spellings: MULTIPOINT ((1 2), (3 4)) and MULTIPOINT (1 2, 3 4)
        coords = [c[0] if isinstance(c[0], list) else c for c in coords]
    return gname, {"type": gname, "coordinates": coords}


def geojson_to_wkt(doc: dict) -> str:
    """GeoJSON geometry dict → WKT (exact inverse of
    :func:`wkt_to_geojson` up to numeric formatting)."""

    def fmt(v: float) -> str:
        # repr round-trips exactly and is valid WKT; NEVER strip characters
        # (stripping zeros corrupts scientific notation: '1.5e+20'→'1.5e+2')
        return repr(float(v))

    def pts(seq) -> str:
        return ", ".join(f"{fmt(x)} {fmt(y)}" for x, y in seq)

    gname = doc["type"]
    if gname == "Point":
        x, y = doc["coordinates"]
        return f"POINT ({fmt(x)} {fmt(y)})"
    if gname in ("LineString", "MultiPoint"):
        return f"{gname.upper()} ({pts(doc['coordinates'])})"
    if gname in ("Polygon", "MultiLineString"):
        rings = ", ".join(f"({pts(r)})" for r in doc["coordinates"])
        return f"{gname.upper()} ({rings})"
    if gname == "MultiPolygon":
        polys = ", ".join(
            "(" + ", ".join(f"({pts(r)})" for r in poly) + ")"
            for poly in doc["coordinates"]
        )
        return f"MULTIPOLYGON ({polys})"
    if gname == "GeometryCollection":
        return (
            "GEOMETRYCOLLECTION ("
            + ", ".join(geojson_to_wkt(g) for g in doc["geometries"])
            + ")"
        )
    raise ValueError(f"unsupported geometry {gname}")


def decode_wkt_column(df, wkt_col: str = "wkt"):
    """Tabular rows with a WKT text column (the CSV+WKT interchange the
    reference reads via GeoPandasTabular) → the canonical geometry row
    model: attribute columns pass through native, the WKT column becomes
    ``geometry_type`` + ``geometry`` (GeoJSON text). Arrow-batched
    executor parse, mapper-only."""
    import json as _json

    others = [c for c in df.columns if c != wkt_col]
    out_schema = T.StructType(
        [df.schema[c] for c in others]
        + [
            T.StructField("geometry_type", T.StringType()),
            T.StructField("geometry", T.StringType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gtypes, geoms = [], []
            for txt in pdf[wkt_col]:
                if txt is None or not str(txt).strip():
                    gtypes.append(None)
                    geoms.append(None)
                    continue
                gtype, doc = wkt_to_geojson(str(txt))
                gtypes.append(gtype)
                geoms.append(_json.dumps(doc, sort_keys=True) if doc else None)
            out = pdf[others].copy()
            out["geometry_type"] = gtypes
            out["geometry"] = geoms
            yield out

    return map_in_pandas(df, decode, schema=out_schema)
