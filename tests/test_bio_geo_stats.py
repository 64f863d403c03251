"""Bio (FASTA/FASTQ/VCF), geo (KML/GPX/MBTiles) and stats (Stata) readers —
small-fixture round trips, reference test strategy (SURVEY §5)."""

from __future__ import annotations

import pytest


FASTA = """>seq1 first sequence
ACGTACGT
ACGT
>seq2
TTTT
"""

FASTQ = """@r1 lane1
ACGT
+
IIII
@r2
GGCC
+
!!!!
"""

VCF = """##fileformat=VCFv4.2
##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO
chr1\t100\trs1\tA\tG\t50.0\tPASS\tDP=10
chr1\t200\t.\tC\tT\t.\tq10\tDP=3
chr2\t5\trs2\tG\tA\t99.9\tPASS\tDP=88
"""

KML = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
<Placemark><name>pin</name><description>a point</description>
<Point><coordinates>-122.08,37.42,0</coordinates></Point></Placemark>
<Placemark><name>line</name>
<LineString><coordinates>0,0 1,1 2,0.5</coordinates></LineString></Placemark>
</Document></kml>
"""

GPX = """<?xml version="1.0"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
<trk><name>morning</name><trkseg>
<trkpt lat="47.0" lon="8.0"><ele>500.5</ele><time>2024-01-01T08:00:00Z</time></trkpt>
<trkpt lat="47.1" lon="8.1"><ele>510.0</ele><time>2024-01-01T08:05:00Z</time></trkpt>
</trkseg><trkseg>
<trkpt lat="47.2" lon="8.2"></trkpt>
</trkseg></trk></gpx>
"""


def test_fasta_reader(spark, tmp_path):
    from intake_spark.bio import FASTA as FastaType
    from intake_spark.bio import FASTAReader

    (tmp_path / "x.fasta").write_text(FASTA)
    rows = {
        r.seq_id: r
        for r in FASTAReader(data=FastaType(url=str(tmp_path))).read(spark=spark).collect()
    }
    assert rows["seq1"].sequence == "ACGTACGTACGT"
    assert rows["seq1"].description == "first sequence"
    assert rows["seq1"].length == 12
    assert rows["seq2"].sequence == "TTTT"


def test_fastq_reader(spark, tmp_path):
    from intake_spark.bio import FASTQ as FastqType
    from intake_spark.bio import FASTQReader

    (tmp_path / "x.fastq").write_text(FASTQ)
    rows = {
        r.seq_id: r
        for r in FASTQReader(data=FastqType(url=str(tmp_path))).read(spark=spark).collect()
    }
    assert rows["r1"].sequence == "ACGT" and rows["r1"].quality == "IIII"
    assert rows["r2"].quality == "!!!!"


def test_vcf_reader(spark, tmp_path):
    from intake_spark.bio import VCF as VcfType
    from intake_spark.bio import VCFReader

    p = tmp_path / "v.vcf"
    p.write_text(VCF)
    df = VCFReader(data=VcfType(url=str(p))).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: (r.CHROM, r.POS))
    assert [r.POS for r in rows] == [100, 200, 5]
    assert rows[1].QUAL is None  # '.' -> null
    assert rows[0].INFO == "DP=10"
    # distributed predicate: filter pushes into the scan plan
    assert df.filter("CHROM = 'chr2'").count() == 1


def test_kml_gpx_readers(spark, tmp_path):
    from intake_spark.geo import GPX as GpxType
    from intake_spark.geo import KML as KmlType
    from intake_spark.geo import GPXReader, KMLReader

    (tmp_path / "a.kml").write_text(KML)
    rows = {r.name: r for r in KMLReader(data=KmlType(url=str(tmp_path))).read(spark=spark).collect()}
    assert rows["pin"].geom_type == "Point"
    assert rows["pin"].coordinates == [[-122.08, 37.42]]
    assert rows["line"].geom_type == "LineString"
    assert len(rows["line"].coordinates) == 3

    (tmp_path / "t.gpx").write_text(GPX)
    pts = GPXReader(data=GpxType(url=str(tmp_path))).read(spark=spark).collect()
    assert len(pts) == 3
    segs = {(r.segment, r.lat) for r in pts}
    assert (0, 47.0) in segs and (1, 47.2) in segs
    assert {r.track for r in pts} == {"morning"}


def test_fasta_single_fna_file(spark, tmp_path):
    """A single .fna file (advertised by the FASTA datatype's filepattern)
    must read through the standard path — previously the default
    pathGlobFilter '*.fa*' silently returned zero rows for it."""
    from intake_spark.bio import FASTA as FastaType
    from intake_spark.bio import FASTAReader

    p = tmp_path / "genome.fna"
    p.write_text(">chr1 assembly\nACGTACGT\nTTTT\n")
    rows = FASTAReader(data=FastaType(url=str(p))).read(spark=spark).collect()
    assert len(rows) == 1
    assert rows[0].seq_id == "chr1" and rows[0].sequence == "ACGTACGTTTTT"
    # directory form still picks up every advertised extension
    d = tmp_path / "dir"
    d.mkdir()
    for ext in ("fa", "fasta", "fna", "faa"):
        (d / f"x.{ext}").write_text(f">s_{ext}\nAC\n")
    got = {r.seq_id for r in FASTAReader(data=FastaType(url=str(d))).read(spark=spark).collect()}
    assert got == {"s_fa", "s_fasta", "s_fna", "s_faa"}


def test_mbtiles_reader(spark, tmp_path):
    import sqlite3

    from intake_spark.geo import MBTiles, MBTilesReader

    p = str(tmp_path / "m.mbtiles")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE metadata (name text, value text)")
    con.execute("INSERT INTO metadata VALUES ('name', 'demo'), ('format', 'png')")
    con.execute(
        "CREATE TABLE tiles (zoom_level int, tile_column int, tile_row int, tile_data blob)"
    )
    for z, c, r in [(0, 0, 0), (1, 0, 0), (1, 1, 0)]:
        con.execute("INSERT INTO tiles VALUES (?,?,?,?)", (z, c, r, b"\x89PNGdata"))
    con.commit()
    con.close()

    r = MBTilesReader(data=MBTiles(url=p))
    meta = {x.name: x.value for x in r.read(spark=spark, table="metadata").collect()}
    assert meta["name"] == "demo"
    tiles = r.read(spark=spark)
    assert tiles.count() == 3
    assert tiles.filter("zoom_level = 1").count() == 2
    z1 = r.read(spark=spark, zoom=1)
    assert z1.count() == 2
    assert z1.first().tile_data == bytearray(b"\x89PNGdata")


def test_stata_reader_roundtrip(spark, tmp_path):
    import pandas as pd

    from intake_spark.stats import Stata, StataReader

    pdf = pd.DataFrame({"city": ["ames", "basel"], "pop": [67000, 173000]})
    p = str(tmp_path / "cities.dta")
    pdf.to_stata(p, write_index=False)
    df = StataReader(data=Stata(url=p)).read(spark=spark)
    rows = sorted((r.city, int(r.pop)) for r in df.collect())
    assert rows == [("ames", 67000), ("basel", 173000)]


def test_stata_reader_glob_distributed(spark, tmp_path):
    import pandas as pd

    from intake_spark.stats import Stata, StataReader

    for i in range(3):
        pd.DataFrame({"x": [i, i + 10]}).to_stata(
            str(tmp_path / f"part{i}.dta"), write_index=False
        )
    df = StataReader(data=Stata(url=f"{tmp_path}/*.dta")).read(spark=spark)
    assert df.count() == 6
    assert {int(r.x) for r in df.collect()} == {0, 1, 2, 10, 11, 12}


def _make_fits(arr) -> bytes:
    """Minimal FITS primary HDU written from the spec (80-char cards in
    2880-byte blocks, big-endian data), independent of the reader."""
    import numpy as np

    cards = [
        "SIMPLE  =                    T",
        "BITPIX  =                  -64",
        f"NAXIS   =                    {arr.ndim}",
    ]
    # NAXIS1 is the fastest-varying axis: reverse of C-order shape
    for i, n in enumerate(reversed(arr.shape), start=1):
        cards.append(f"NAXIS{i}  =                 {n:4d}")
    cards.append("END")
    header = "".join(c.ljust(80) for c in cards).ljust(2880).encode("ascii")
    data = arr.astype(">f8").tobytes()
    pad = (-len(data)) % 2880
    return header + data + b"\x00" * pad


def test_fits_reader(spark, tmp_path):
    import numpy as np

    from intake_spark.sci import FITS, FITSReader

    arr = np.arange(6 * 4, dtype=float).reshape(6, 4) * 2.0
    p = tmp_path / "img.fits"
    p.write_bytes(_make_fits(arr))
    data = FITS(url=str(p))
    df = FITSReader(data=data).read(spark=spark, rows_per_chunk=2)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    assert rows[0].shape == [6, 4]
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 4) for r in rows])
    np.testing.assert_array_equal(rebuilt, arr)
    assert data.metadata["BITPIX"] == "-64"


def test_nifti_reader(spark, tmp_path):
    import struct

    import numpy as np

    from intake_spark.sci import NIfTI, NIfTIReader

    arr = np.arange(5 * 3 * 2, dtype="<f4").reshape(5, 3, 2)
    hdr = bytearray(352)
    hdr[0:4] = struct.pack("<i", 348)
    # dim[0]=ndim, then sizes fastest-first (NIfTI order = reverse C order)
    hdr[40:56] = struct.pack("<8h", 3, 2, 3, 5, 1, 1, 1, 1)
    hdr[70:72] = struct.pack("<h", 16)  # float32
    hdr[108:112] = struct.pack("<f", 352.0)
    hdr[344:348] = b"n+1\x00"
    p = tmp_path / "vol.nii"
    p.write_bytes(bytes(hdr) + arr.tobytes())
    df = NIfTIReader(data=NIfTI(url=str(p))).read(spark=spark, rows_per_chunk=2)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    assert rows[0].shape == [5, 3, 2]
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 3, 2) for r in rows])
    np.testing.assert_array_equal(rebuilt, arr.astype(float))


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_len(field: int, payload: bytes) -> bytes:
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def _make_tfrecord(examples: list[dict]) -> bytes:
    """Hand-encode tf.train.Example protobufs + TFRecord framing (spec-built,
    independent of the reader's parser)."""
    import struct

    out = bytearray()
    for ex in examples:
        feats = b""
        for key, (bv, fv, iv) in ex.items():
            feature = b""
            if bv:
                feature += _pb_len(1, b"".join(_pb_len(1, x) for x in bv))
            if fv:
                feature += _pb_len(2, _pb_len(1, struct.pack(f"<{len(fv)}f", *fv)))
            if iv:
                packed = b"".join(_varint(x & ((1 << 64) - 1)) for x in iv)
                feature += _pb_len(3, _pb_len(1, packed))
            entry = _pb_len(1, key.encode()) + _pb_len(2, feature)
            feats += _pb_len(1, entry)
        example = _pb_len(1, feats)
        out += struct.pack("<Q", len(example)) + b"\x00" * 4 + example + b"\x00" * 4
    return bytes(out)


def test_tfrecord_reader(spark, tmp_path):
    from intake_spark.mlds import TFRecord, TFRecordReader

    blob = _make_tfrecord(
        [
            {"text": ([b"hello"], [], []), "score": ([], [0.5, 1.5], []), "ids": ([], [], [7, -3])},
            {"text": ([b"world"], [], [])},
        ]
    )
    (tmp_path / "d.tfrecord").write_bytes(blob)
    df = TFRecordReader(data=TFRecord(url=str(tmp_path))).read(spark=spark)
    rows = {(r.record_idx, r.key): r for r in df.collect()}
    assert bytes(rows[(0, "text")].bytes_vals[0]) == b"hello"
    assert rows[(0, "score")].float_vals == [0.5, 1.5]
    assert rows[(0, "ids")].int64_vals == [7, -3]
    assert bytes(rows[(1, "text")].bytes_vals[0]) == b"world"
    assert len(rows) == 4


def test_entrypoints_catalog(monkeypatch):
    from intake_spark import catalog as catmod
    from intake_spark import datatypes as dt
    from intake_spark.readers import SparkParquet

    class FakeEP:
        name = "plugin"

        @staticmethod
        def load():
            def make():
                c = catmod.Catalog()
                c["tbl"] = SparkParquet(data=dt.Parquet(url="/tmp/x.parquet"))
                return c

            return make

    class BrokenEP:
        name = "broken"

        @staticmethod
        def load():
            raise ImportError("nope")

    import importlib.metadata as md

    monkeypatch.setattr(md, "entry_points", lambda group=None: [FakeEP, BrokenEP])
    cat = catmod.entrypoints_catalog()
    assert "plugin.tbl" in cat.aliases
    assert len(cat.entries) == 1


def _make_netcdf3(var_name: str, arr) -> bytes:
    """Spec-encoded classic netCDF (CDF-1) file with one fixed variable
    (big-endian, padded names) — independent of the reader."""
    import struct as st

    import numpy as np

    def name(s):
        b = s.encode()
        return st.pack(">I", len(b)) + b + b"\x00" * ((4 - len(b) % 4) % 4)

    dims = b"".join(
        name(f"d{i}") + st.pack(">I", n) for i, n in enumerate(arr.shape)
    )
    dim_list = st.pack(">II", 0x0A, arr.ndim) + dims
    gatts = st.pack(">II", 0, 0)  # ABSENT
    data = arr.astype(">f8").tobytes()
    # header size must be known to set begin; build var entry with placeholder
    var_entry = (
        name(var_name)
        + st.pack(">I", arr.ndim)
        + b"".join(st.pack(">I", i) for i in range(arr.ndim))
        + st.pack(">II", 0, 0)  # no var atts
        + st.pack(">II", 6, len(data))  # NC_DOUBLE, vsize
    )
    header_wo_begin = (
        b"CDF\x01" + st.pack(">I", 0) + dim_list + gatts
        + st.pack(">II", 0x0B, 1) + var_entry
    )
    begin = len(header_wo_begin) + 4
    return header_wo_begin + st.pack(">I", begin) + data


def test_netcdf3_reader(spark, tmp_path):
    import numpy as np

    from intake_spark.sci import NetCDF3, NetCDF3Reader

    arr = np.arange(6 * 3, dtype=float).reshape(6, 3) + 0.25
    p = tmp_path / "t.nc"
    p.write_bytes(_make_netcdf3("temp", arr))
    data = NetCDF3(url=str(p))
    df = NetCDF3Reader(data=data).read(spark=spark, rows_per_chunk=4)
    rows = sorted(df.collect(), key=lambda r: r.offset0)
    assert rows[0].shape == [6, 3]
    rebuilt = np.concatenate([np.array(r.values).reshape(-1, 3) for r in rows])
    np.testing.assert_array_equal(rebuilt, arr)
    assert data.metadata["variable"] == "temp"
    with pytest.raises(KeyError):
        NetCDF3Reader(data=NetCDF3(url=str(p))).read(spark=spark, variable="nope")


def _hilbert_xy2d(order: int, x: int, y: int) -> int:
    d = 0
    s = (1 << order) // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def _make_pmtiles(tiles: dict, use_leaf: bool = False, gzip_tiles: bool = False) -> bytes:
    """Spec-built PMTiles v3 archive: gzip directories, varint entries,
    hilbert ids (independent encoder). tiles: {(z,x,y): payload};
    gzip_tiles compresses payloads and sets the tile-compression byte."""
    import gzip
    import struct as st

    def varint(v: int) -> bytes:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    ids = []
    for (z, x, y), payload in tiles.items():
        if gzip_tiles:
            payload = gzip.compress(payload)
        acc = sum(1 << (2 * i) for i in range(z))
        ids.append((acc + _hilbert_xy2d(z, x, y), payload))
    ids.sort()
    data = b""
    entries = []
    for tid, payload in ids:
        entries.append((tid, len(data), len(payload), 1))
        data += payload

    def encode_dir(entries):
        out = varint(len(entries))
        prev = 0
        for tid, _, _, _ in entries:
            out += varint(tid - prev)
            prev = tid
        for _, _, _, run in entries:
            out += varint(run)
        for _, _, ln, _ in entries:
            out += varint(ln)
        for i, (_, off, ln, _) in enumerate(entries):
            if i > 0 and off == entries[i - 1][1] + entries[i - 1][2]:
                out += varint(0)
            else:
                out += varint(off + 1)
        return gzip.compress(out)

    if use_leaf:
        leaf = encode_dir(entries)
        root = encode_dir([(entries[0][0], 0, len(leaf), 0)])  # run=0 -> leaf ptr
        leaf_blob = leaf
    else:
        root = encode_dir(entries)
        leaf_blob = b""
    root_off = 127
    leaf_off = root_off + len(root)
    data_off = leaf_off + len(leaf_blob)
    hdr = bytearray(127)
    hdr[:7] = b"PMTiles"
    hdr[7] = 3
    st.pack_into("<8Q", hdr, 8, root_off, len(root), 0, 0, leaf_off, len(leaf_blob), data_off, len(data))
    hdr[97] = 2  # gzip internal compression
    hdr[98] = 2 if gzip_tiles else 1  # tile compression
    return bytes(hdr) + root + leaf_blob + data


@pytest.mark.parametrize("use_leaf", [False, True])
def test_pmtiles_reader(spark, tmp_path, use_leaf):
    from intake_spark.geo import PMTiles, PMTilesReader

    tiles = {
        (0, 0, 0): b"tile-root",
        (1, 0, 0): b"tile-a",
        (1, 1, 1): b"tile-b",
        (2, 3, 1): b"tile-c",
    }
    p = tmp_path / "m.pmtiles"
    p.write_bytes(_make_pmtiles(tiles, use_leaf=use_leaf))
    df = PMTilesReader(data=PMTiles(url=str(p))).read(spark=spark)
    got = {(r.z, r.x, r.y): bytes(r.tile_data) for r in df.collect()}
    assert got == tiles


def test_pmtiles_gzip_tile_payloads(spark, tmp_path):
    """Tile-compression byte (hdr[98]) honored: gzip tile payloads come
    back decompressed, not as raw gzip bytes."""
    from intake_spark.geo import PMTiles, PMTilesReader

    tiles = {(1, 0, 0): b"vector-tile-a", (1, 1, 1): b"vector-tile-b"}
    p = tmp_path / "gz.pmtiles"
    p.write_bytes(_make_pmtiles(tiles, gzip_tiles=True))
    df = PMTilesReader(data=PMTiles(url=str(p))).read(spark=spark)
    got = {(r.z, r.x, r.y): bytes(r.tile_data) for r in df.collect()}
    assert got == tiles


def test_pmtiles_unsupported_tile_compression_raises(spark, tmp_path):
    from intake_spark.geo import PMTiles, PMTilesReader

    blob = bytearray(_make_pmtiles({(0, 0, 0): b"t"}))
    blob[98] = 4  # zstd tiles
    p = tmp_path / "zt.pmtiles"
    p.write_bytes(bytes(blob))
    with pytest.raises(ValueError, match="tile compression"):
        PMTilesReader(data=PMTiles(url=str(p))).read(spark=spark)


def test_osm_pbf_reader(spark, tmp_path):
    """Spec-encoded OSM PBF fixture (BlobHeader/Blob framing, zlib
    PrimitiveBlock, DenseNodes zigzag deltas) → node rows."""
    import struct as st
    import zlib

    def zz(v: int) -> int:
        return v * 2 if v >= 0 else -v * 2 - 1

    def packed_sint(vals):
        out, prev = b"", 0
        for v in vals:
            out += _varint(zz(v - prev))
            prev = v
        return out

    strings = [b"", b"name", b"cafe"]
    stringtable = b"".join(_pb_len(1, s) for s in strings)
    ids = [1001, 1002]
    lats = [515000000, 516000000]   # *1e-9*100 -> 51.5, 51.6
    lons = [-1000000, 2000000]      # -0.1, 0.2
    keys_vals = _varint(1) + _varint(2) + _varint(0) + _varint(0)  # n1: name=cafe; n2: none
    dense = (
        _pb_len(1, packed_sint(ids))
        + _pb_len(8, packed_sint(lats))
        + _pb_len(9, packed_sint(lons))
        + _pb_len(10, keys_vals)
    )
    group = _pb_len(2, dense)
    block = _pb_len(1, stringtable) + _pb_len(2, group)
    blob = _pb_len(3, zlib.compress(block))
    header = _pb_len(1, b"OSMData") + _varint(3 << 3) + _varint(len(blob))
    p = tmp_path / "map.osm.pbf"
    p.write_bytes(st.pack(">I", len(header)) + header + blob)

    from intake_spark.geo import OSMPBF, OSMPBFReader

    df = OSMPBFReader(data=OSMPBF(url=str(p))).read(spark=spark)
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {1001, 1002}
    assert abs(rows[1001].lat - 51.5) < 1e-9 and abs(rows[1001].lon - (-0.1)) < 1e-9
    assert rows[1001].tags == {"name": "cafe"}
    assert abs(rows[1002].lat - 51.6) < 1e-9
    assert rows[1002].tags == {}


def test_mbtiles_view_fallback(spark, tmp_path):
    """tiles-as-VIEW layout (map+images dedup) has no rowid: the reader
    must paginate with keyset windows on (zoom, col, row) fetched on
    executors — exact row counts even across many windows, including
    duplicate keys (which any OFFSET scheme can double-count or drop)."""
    import sqlite3

    from intake_spark.geo import MBTiles, MBTilesReader

    p = str(tmp_path / "v.mbtiles")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE map (zoom_level int, tile_column int, tile_row int, tile_id text)")
    con.execute("CREATE TABLE images (tile_id text, tile_data blob)")
    con.execute(
        "CREATE VIEW tiles AS SELECT zoom_level, tile_column, tile_row, tile_data "
        "FROM map JOIN images ON map.tile_id = images.tile_id"
    )
    for c in range(17):
        con.execute("INSERT INTO map VALUES (1, ?, 0, 'a')", (c,))
    con.execute("INSERT INTO map VALUES (1, 4, 0, 'a')")  # duplicate key
    con.execute("INSERT INTO map VALUES (1, 4, 0, 'a')")
    con.execute("INSERT INTO images VALUES ('a', X'89504E47')")
    con.commit(); con.close()
    # rows_per_task=5 → 4 keyset windows over 19 rows
    df = MBTilesReader(data=MBTiles(url=p)).read(spark=spark, rows_per_task=5)
    rows = df.collect()
    assert len(rows) == 19
    assert sorted(r.tile_column for r in rows) == sorted(list(range(17)) + [4, 4])
    assert all(bytes(r.tile_data) == b"\x89PNG" for r in rows)
    z9 = MBTilesReader(data=MBTiles(url=p)).read(spark=spark, zoom=9)
    assert z9.count() == 0


def test_osm_unsupported_compression_raises(spark, tmp_path):
    import struct as st

    from intake_spark.geo import OSMPBF, OSMPBFReader

    blob = _pb_len(7, b"zstd-payload")  # field 7 = zstd
    header = _pb_len(1, b"OSMData") + _varint(3 << 3) + _varint(len(blob))
    p = tmp_path / "z.osm.pbf"
    p.write_bytes(st.pack(">I", len(header)) + header + blob)
    with pytest.raises(Exception, match="zstd"):
        OSMPBFReader(data=OSMPBF(url=str(p))).read(spark=spark).collect()


def test_pmtiles_unsupported_compression_raises(spark, tmp_path):
    from intake_spark.geo import PMTiles, PMTilesReader

    blob = bytearray(_make_pmtiles({(0, 0, 0): b"t"}))
    blob[97] = 4  # zstd
    p = tmp_path / "z.pmtiles"
    p.write_bytes(bytes(blob))
    with pytest.raises(ValueError, match="internal compression"):
        PMTilesReader(data=PMTiles(url=str(p))).read(spark=spark)


def _sav_var(name: str, vtype: int) -> bytes:
    import struct as st

    return (
        st.pack("<4i", 2, vtype, 0, 0)
        + st.pack("<ii", 0, 0)  # print/write formats
        + name.ljust(8).encode()
    )


def make_sav(path, compressed: bool = True) -> str:
    """Spec-built SPSS system file: numeric 'age' (one sysmis), numeric
    'score' (literal doubles), string 'city' (12 bytes → 2 slots)."""
    import struct as st

    hdr = b"$FL2" + b"@(#) test fixture".ljust(60)
    hdr += st.pack("<5i", 2, 4, 1 if compressed else 0, 0, 3)  # 4 slots/case
    hdr += st.pack("<d", 100.0)
    hdr += b"01 Jan 26" + b"00:00:00" + b"fixture".ljust(64) + b"\x00" * 3
    assert len(hdr) == 176
    body = _sav_var("AGE", 0) + _sav_var("SCORE", 0)
    body += _sav_var("CITY", 12) + _sav_var("", -1)  # continuation slot
    body += st.pack("<2i", 999, 0)
    cases = [
        (42.0, 3.25, "springfield"),
        (None, -1.5, "rome"),
        (7.0, 99.0, "ulaanbaatar"),
    ]
    data = b""
    if compressed:
        cmds, extra = [], []
        for age, score, city in cases:
            if age is None:
                cmds.append(255)  # sysmis
            else:
                cmds.append(int(age) + 100)  # bias-compressed integer
            cmds.append(253)
            extra_for = [st.pack("<d", score)]
            raw = city.ljust(16).encode()
            cmds += [253, 253]
            extra_for += [raw[:8], raw[8:16]]
            extra.append((list(cmds), list(extra_for)))
            cmds = []
        stream = b""
        pending_cmds: list[int] = []
        pending_blocks: list[bytes] = []
        for cs, blocks in extra:
            pending_cmds += cs
            pending_blocks += blocks
        pending_cmds.append(252)  # EOF
        i = 0
        bi = 0
        while i < len(pending_cmds):
            group = pending_cmds[i : i + 8]
            i += 8
            n_literals = sum(1 for c in group if c == 253)
            stream += bytes(group) + b"\x00" * (8 - len(group))
            stream += b"".join(pending_blocks[bi : bi + n_literals])
            bi += n_literals
        data = stream
    else:
        for age, score, city in cases:
            data += st.pack("<d", age if age is not None else -1.7976931348623157e308)
            data += st.pack("<d", score)
            data += city.ljust(16).encode()
    path.write_bytes(hdr + body + data)
    return str(path)


@pytest.mark.parametrize("compressed", [True, False])
def test_spss_sav_reader(spark, tmp_path, compressed):
    import math

    from intake_spark.stats import SPSS, SPSSReader

    url = make_sav(tmp_path / f"s{compressed}.sav", compressed=compressed)
    df = SPSSReader(data=SPSS(url=url)).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.CITY)
    assert [r.CITY for r in rows] == ["rome", "springfield", "ulaanbaatar"]
    by_city = {r.CITY: r for r in rows}
    assert by_city["springfield"].AGE == 42.0
    assert abs(by_city["springfield"].SCORE - 3.25) < 1e-12
    assert by_city["ulaanbaatar"].AGE == 7.0
    if compressed:
        assert by_city["rome"].AGE is None or math.isnan(by_city["rome"].AGE)
    assert abs(by_city["rome"].SCORE - (-1.5)) < 1e-12


def test_spss_magic_rejected(tmp_path):
    from intake_spark.stats import _parse_sav

    with pytest.raises(ValueError, match="FL2"):
        _parse_sav(b"NOPE" + b"\x00" * 200)


def test_mbtiles_view_null_keys_not_dropped(spark, tmp_path):
    """NULL key columns compare UNKNOWN in row-value ranges — they get a
    dedicated window instead of silently vanishing from every window."""
    import sqlite3

    from intake_spark.geo import MBTiles, MBTilesReader

    p = str(tmp_path / "n.mbtiles")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE map (zoom_level int, tile_column int, tile_row int, tile_id text)")
    con.execute("CREATE TABLE images (tile_id text, tile_data blob)")
    con.execute(
        "CREATE VIEW tiles AS SELECT zoom_level, tile_column, tile_row, tile_data "
        "FROM map JOIN images ON map.tile_id = images.tile_id"
    )
    for c in range(6):
        con.execute("INSERT INTO map VALUES (1, ?, 0, 'a')", (c,))
    con.execute("INSERT INTO map VALUES (NULL, 9, 9, 'a')")
    con.execute("INSERT INTO map VALUES (2, NULL, 0, 'a')")
    con.execute("INSERT INTO images VALUES ('a', X'00')")
    con.commit(); con.close()
    rows = MBTilesReader(data=MBTiles(url=p)).read(spark=spark, rows_per_task=3).collect()
    assert len(rows) == 8
    assert sum(1 for r in rows if r.zoom_level is None or r.tile_column is None) == 2


PDB_FIXTURE = """HEADER    TEST PROTEIN                            01-JAN-24   XXXX
REMARK   1 SPEC-BUILT FIXTURE
ATOM      1  N   MET A   1      11.104  13.207   9.100  1.00 20.00           N
ATOM      2  CA  MET A   1      12.560  13.329   9.000  0.98 21.50           C
HETATM    3  O   HOH B  101     -1.500   0.250   3.750  1.00 30.00           O
TER       4      MET A   1
END
"""


def test_pdb_reader(spark, tmp_path):
    from intake_spark.bio import PDB as PdbType
    from intake_spark.bio import PDBReader

    p = tmp_path / "m.pdb"
    p.write_text(PDB_FIXTURE)
    df = PDBReader(data=PdbType(url=str(p))).read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r.serial)
    assert [r.record for r in rows] == ["ATOM", "ATOM", "HETATM"]
    a1 = rows[0]
    assert (a1.atom_name, a1.res_name, a1.chain_id, a1.res_seq) == ("N", "MET", "A", 1)
    assert (a1.x, a1.y, a1.z) == (11.104, 13.207, 9.1)
    assert rows[2].element == "O" and rows[2].x == -1.5
    # hetatm=False drops waters; TER/HEADER/REMARK never parsed
    assert PDBReader(data=PdbType(url=str(p))).read(spark=spark, hetatm=False).count() == 2
    # JVM-only plan: no Python stages
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def _make_dcd(frames_xyz, endian="<", crystal=False, ntitle=1):
    """Spec-built DCD: Fortran-blocked header records + fixed-size frames."""
    import struct as _s

    nframes = len(frames_xyz)
    natoms = len(frames_xyz[0])

    def rec(payload):
        return _s.pack(endian + "i", len(payload)) + payload + _s.pack(endian + "i", len(payload))

    icntrl = [0] * 20
    icntrl[0] = nframes
    icntrl[10] = 1 if crystal else 0
    out = rec(b"CORD" + _s.pack(endian + "20i", *icntrl))
    out += rec(_s.pack(endian + "i", ntitle) + b"T" * 80 * ntitle)
    out += rec(_s.pack(endian + "i", natoms))
    for xyz in frames_xyz:
        if crystal:
            out += rec(_s.pack(endian + "6d", 10, 90, 10, 90, 90, 10))
        for axis in range(3):
            vals = [a[axis] for a in xyz]
            out += rec(_s.pack(endian + f"{natoms}f", *vals))
    return out


@pytest.mark.parametrize("endian,crystal", [("<", False), (">", True)])
def test_dcd_reader_roundtrip(spark, tmp_path, endian, crystal):
    from intake_spark.bio import DCD, DCDReader

    f0 = [(1.0, 2.0, 3.0), (4.0, 5.0, 6.0), (7.0, 8.0, 9.0)]
    f1 = [(1.5, 2.5, 3.5), (4.5, 5.5, 6.5), (7.5, 8.5, 9.5)]
    p = tmp_path / f"t_{endian == '<'}.dcd"
    p.write_bytes(_make_dcd([f0, f1], endian=endian, crystal=crystal))
    rdr = DCDReader(data=DCD(url=str(p)))
    rows = rdr.read(spark=spark).orderBy("frame", "atom").collect()
    assert rdr.data.metadata["natoms"] == 3
    assert rdr.data.metadata["nframes"] == 2
    assert [(r.frame, r.atom, r.x, r.y, r.z) for r in rows[:3]] == [
        (0, 0, 1.0, 2.0, 3.0), (0, 1, 4.0, 5.0, 6.0), (0, 2, 7.0, 8.0, 9.0)]
    assert rows[3].x == 1.5 and rows[5].z == 9.5


def test_dcd_frame_stride_and_recommend(spark, tmp_path):
    from intake_spark.bio import DCD, DCDReader
    from intake_spark.datatypes import recommend

    frames = [[(float(i), 0.0, 0.0), (0.0, float(i), 0.0)] for i in range(5)]
    p = tmp_path / "s.dcd"
    p.write_bytes(_make_dcd(frames))
    df = DCDReader(data=DCD(url=str(p))).read(spark=spark, frame_stride=2)
    assert sorted({r.frame for r in df.collect()}) == [0, 2, 4]
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__ for c in recommend(str(p))]
    assert "DCD" in kinds


# --- XTC (GROMACS) -------------------------------------------------------


class _XW:
    """MSB-first bit writer mirroring the 3dfcoord packing conventions."""

    def __init__(self):
        self.acc, self.n = 0, 0

    def w(self, v, nbits):
        self.acc = (self.acc << nbits) | (v & ((1 << nbits) - 1))
        self.n += nbits

    def ints(self, qs, sizes, nbits):
        """Pack three ints as one mixed-radix number emitted in 8-bit
        groups, FIRST group least-significant (the codec's byte order)."""
        v = (qs[0] * sizes[1] + qs[1]) * sizes[2] + qs[2]
        while nbits > 8:
            self.w(v & 0xFF, 8)
            v >>= 8
            nbits -= 8
        if nbits:
            self.w(v & ((1 << nbits) - 1), nbits)

    def tobytes(self):
        pad = (-self.n) % 8
        return ((self.acc << pad).to_bytes((self.n + pad) // 8, "big")
                if self.n else b"")


def _xtc_frame_bytes(natoms, step, time, payload, precision=None, minint=None,
                     maxint=None, smallidx=None):
    import struct

    out = struct.pack(">iiif", 1995, natoms, step, time)
    out += struct.pack(">9f", *([0.0] * 9))
    out += struct.pack(">i", natoms)
    if natoms <= 9:
        flat = [c for xyz in payload for c in xyz]
        return out + struct.pack(f">{len(flat)}f", *flat)
    data = payload
    out += struct.pack(">f", precision)
    out += struct.pack(">3i", *minint) + struct.pack(">3i", *maxint)
    out += struct.pack(">ii", smallidx, len(data))
    return out + data + b"\x00" * ((-len(data)) % 4)


def test_xtc_small_system_frames_and_stride(spark, tmp_path):
    from intake_spark.bio import XTC, XTCReader
    from intake_spark.datatypes import recommend

    frames = [
        [(0.1 * f + 0.01 * a, 0.2 * f, 0.3 * f) for a in range(3)]
        for f in range(4)
    ]
    raw = b"".join(
        _xtc_frame_bytes(3, 10 * f, 2.0 * f, frames[f]) for f in range(4)
    )
    p = tmp_path / "t.xtc"
    p.write_bytes(raw)
    rdr = XTCReader(data=XTC(url=str(p)))
    rows = rdr.read(spark=spark).collect()
    assert len(rows) == 12
    by = {(r.frame, r.atom): r for r in rows}
    assert by[(2, 1)].step == 20 and abs(by[(2, 1)].time_ps - 4.0) < 1e-6
    assert abs(by[(3, 2)].x - (0.3 + 0.02)) < 1e-5
    # stride decodes every other frame; recommend sees the XDR magic
    s = rdr.read(spark=spark, frame_stride=2).collect()
    assert sorted({r.frame for r in s}) == [0, 2]
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__
             for c in recommend(str(p))]
    assert "XTC" in kinds


def test_xtc_compressed_no_runs(spark, tmp_path):
    """12 atoms, every atom a standalone large encoding (flag=0)."""
    from intake_spark.bio import XTC, XTCReader, _xtc_sizeofints

    qs = [(100 + i, 200 + 2 * i, 300 + 3 * i) for i in range(12)]
    minint, maxint = (100, 200, 300), (111, 222, 333)
    sizes = tuple(maxint[j] - minint[j] + 1 for j in range(3))
    nbits = _xtc_sizeofints(sizes)
    w = _XW()
    for q in qs:
        w.ints([q[j] - minint[j] for j in range(3)], sizes, nbits)
        w.w(0, 1)  # flag: no run
    raw = _xtc_frame_bytes(12, 7, 1.5, w.tobytes(), precision=1000.0,
                           minint=minint, maxint=maxint, smallidx=10)
    p = tmp_path / "c.xtc"
    p.write_bytes(raw)
    rows = XTCReader(data=XTC(url=str(p))).read(spark=spark).collect()
    assert len(rows) == 12
    by = {r.atom: r for r in sorted(rows, key=lambda r: r.atom)}
    for i, q in enumerate(qs):
        assert abs(by[i].x - q[0] / 1000.0) < 1e-9
        assert abs(by[i].y - q[1] / 1000.0) < 1e-9
        assert abs(by[i].z - q[2] / 1000.0) < 1e-9


def test_xtc_compressed_run_ordering(spark, tmp_path):
    """Anchor + 9-atom small run + 2 standalone atoms: the decoder swaps
    the anchor with the first run atom (codec water heuristic)."""
    from intake_spark.bio import XTC, XTCReader, _xtc_sizeofints

    A = (5000, 6000, 7000)
    d = (1, 2, 3)
    S1, S2 = (5100, 6100, 7100), (5120, 6130, 7140)
    minint = A
    maxint = S2
    sizes = tuple(maxint[j] - minint[j] + 1 for j in range(3))
    nbits = _xtc_sizeofints(sizes)
    w = _XW()
    # anchor with run of 9 smalls, smallidx=9 -> base 8, smallnum 4, 9 bits
    w.ints([A[j] - minint[j] for j in range(3)], sizes, nbits)
    w.w(1, 1)
    w.w(3 * 9 + 1, 5)  # run=27, is_smaller stays 0
    for _ in range(9):
        w.ints([d[j] + 4 for j in range(3)], (8, 8, 8), 9)
    for S in (S1, S2):
        w.ints([S[j] - minint[j] for j in range(3)], sizes, nbits)
        w.w(0, 1)
    raw = _xtc_frame_bytes(12, 0, 0.0, w.tobytes(), precision=100.0,
                           minint=minint, maxint=maxint, smallidx=9)
    p = tmp_path / "r.xtc"
    p.write_bytes(raw)
    rows = XTCReader(data=XTC(url=str(p))).read(spark=spark).collect()
    got = [(round(r.x * 100), round(r.y * 100), round(r.z * 100))
           for r in sorted(rows, key=lambda r: r.atom)]
    smalls = [tuple(A[j] + k * d[j] for j in range(3)) for k in range(1, 10)]
    expect = [smalls[0], A] + smalls[1:] + [S1, S2]
    assert got == expect


def test_xtc_decode_smallidx_transitions():
    """Direct codec test: a run that grows the small range (+1) then one
    that shrinks it (-1) — the adaptive-ladder bookkeeping."""
    from intake_spark.bio import _xtc_decode_coords, _xtc_sizeofints

    minint, maxint = (0, 0, 0), (1023, 1023, 1023)
    sizes = (1024, 1024, 1024)
    nbits = _xtc_sizeofints(sizes)
    A1, A2 = (100, 100, 100), (500, 500, 500)
    w = _XW()
    # anchor1 + 1 small, encoded v=3+2 -> is_smaller=+1 (next run base grows)
    w.ints(A1, sizes, nbits)
    w.w(1, 1)
    w.w(3 + 2, 5)
    w.ints((7, 6, 5), (8, 8, 8), 9)       # smallnum=4: delta (3, 2, 1)
    # anchor2 + 1 small decoded at smallidx=10 (base 10, smallnum 5, 10 bits)
    w.ints(A2, sizes, nbits)
    w.w(1, 1)
    w.w(3 + 0, 5)                          # is_smaller=-1 after this run
    w.ints((9, 5, 0), (10, 10, 10), 10)   # delta (4, 0, -5)
    out = _xtc_decode_coords(w.tobytes(), 4, minint, maxint, 9)
    assert out[0] == [103, 102, 101]       # small1 (swapped first)
    assert out[1] == list(A1)
    assert out[2] == [504, 500, 495]       # small2 (swapped first)
    assert out[3] == list(A2)
    # a 2-byte body: a named error from the bit reader's end check
    with pytest.raises(ValueError, match="XTC bitstream truncated"):
        _xtc_decode_coords(w.tobytes()[:2], 4, minint, maxint, 9)


def test_osm_pbf_ways_and_relations(spark, tmp_path):
    """Way and Relation groups in the same PrimitiveBlock: refs/memids
    zigzag-delta decode, tag stringtable lookups, member type/role."""
    import struct as st
    import zlib

    def zz(v: int) -> int:
        return v * 2 if v >= 0 else -v * 2 - 1

    def packed_sint(vals):
        out, prev = b"", 0
        for v in vals:
            out += _varint(zz(v - prev))
            prev = v
        return out

    def packed_plain(vals):
        return b"".join(_varint(v) for v in vals)

    strings = [b"", b"highway", b"primary", b"outer", b"type", b"multipolygon"]
    stringtable = b"".join(_pb_len(1, s) for s in strings)
    way = (
        _varint(1 << 3) + _varint(7001)                 # id
        + _pb_len(2, packed_plain([1]))                 # keys: highway
        + _pb_len(3, packed_plain([2]))                 # vals: primary
        + _pb_len(8, packed_sint([1001, 1002, 1003]))   # refs (delta)
    )
    rel = (
        _varint(1 << 3) + _varint(9001)
        + _pb_len(2, packed_plain([4]))                 # type
        + _pb_len(3, packed_plain([5]))                 # multipolygon
        + _pb_len(8, packed_plain([3, 0]))              # roles: outer, ""
        + _pb_len(9, packed_sint([7001, 1001]))         # memids (delta)
        + _pb_len(10, packed_plain([1, 0]))             # types: way, node
    )
    group = _pb_len(3, way) + _pb_len(4, rel)
    block = _pb_len(1, stringtable) + _pb_len(2, group)
    blob = _pb_len(3, zlib.compress(block))
    header = _pb_len(1, b"OSMData") + _varint(3 << 3) + _varint(len(blob))
    p = tmp_path / "wr.osm.pbf"
    p.write_bytes(st.pack(">I", len(header)) + header + blob)

    from intake_spark.geo import OSMPBF, OSMPBFReader

    rdr = OSMPBFReader(data=OSMPBF(url=str(p)))
    ways = rdr.read(spark=spark, elements="ways").collect()
    assert len(ways) == 1
    assert ways[0].id == 7001
    assert list(ways[0].refs) == [1001, 1002, 1003]
    assert ways[0].tags == {"highway": "primary"}
    rels = rdr.read(spark=spark, elements="relations").collect()
    assert len(rels) == 1 and rels[0].id == 9001
    ms = [(m.type, m.ref, m.role) for m in rels[0].members]
    assert ms == [("way", 7001, "outer"), ("node", 1001, "")]
    assert rels[0].tags == {"type": "multipolygon"}
    # node pass over the same file sees no nodes (none encoded)
    assert rdr.read(spark=spark, elements="nodes").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="elements"):
        rdr.read(spark=spark, elements="bogus")


def _make_trr(frames, real=4, velocities=True):
    """Spec-built TRR: magic 1993, GMX_trn_file tag, 13-int header,
    box + positions (+ velocities) blocks at the chosen precision."""
    import struct as st

    rfmt = ">d" if real == 8 else ">f"
    out = b""
    for fi, (step, time, xyz, vel) in enumerate(frames):
        n = len(xyz)
        box_size = 9 * real
        x_size = 3 * n * real
        v_size = 3 * n * real if velocities else 0
        out += st.pack(">i", 1993)
        out += st.pack(">ii", 13, 12) + b"GMX_trn_file"
        out += st.pack(
            ">13i", 0, 0, box_size, 0, 0, 0, 0, x_size, v_size, 0, n, step, 0
        )
        out += st.pack(rfmt, time) * 1 + st.pack(rfmt, 0.0)
        for v in [0.0] * 9:
            out += st.pack(rfmt, v)
        for atom in xyz:
            for c in atom:
                out += st.pack(rfmt, c)
        if velocities:
            for atom in vel:
                for c in atom:
                    out += st.pack(rfmt, c)
    return out


@pytest.mark.parametrize("real", [4, 8])
def test_trr_reader_roundtrip(spark, tmp_path, real):
    from intake_spark.bio import TRR, TRRReader
    from intake_spark.datatypes import recommend

    frames = [
        (10 * f, 2.0 * f,
         [(f + 0.125, 0.25, 0.5), (1.0, f + 0.75, 2.0)],
         [(0.5, 0.5, 0.5), (f + 0.0, 1.0, -1.0)])
        for f in range(3)
    ]
    p = tmp_path / f"t{real}.trr"
    p.write_bytes(_make_trr(frames, real=real))
    rows = TRRReader(data=TRR(url=str(p))).read(spark=spark).collect()
    assert len(rows) == 6
    by = {(r.frame, r.atom): r for r in rows}
    tol = 1e-12 if real == 8 else 1e-6
    assert abs(by[(2, 0)].x - 2.125) < tol
    assert abs(by[(1, 1)].y - 1.75) < tol
    assert abs(by[(2, 1)].vx - 2.0) < tol
    assert by[(1, 0)].step == 10 and abs(by[(1, 0)].time_ps - 2.0) < tol
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__
             for c in recommend(str(p))]
    assert "TRR" in kinds


def test_trr_no_velocities_null_and_stride(spark, tmp_path):
    from intake_spark.bio import TRR, TRRReader

    frames = [(f, float(f), [(0.1, 0.2, 0.3)], None) for f in range(4)]
    p = tmp_path / "nv.trr"
    p.write_bytes(_make_trr(frames, velocities=False))
    df = TRRReader(data=TRR(url=str(p))).read(spark=spark, frame_stride=2)
    rows = df.collect()
    assert sorted({r.frame for r in rows}) == [0, 2]
    # absent velocity/force blocks surface as nulls, present positions don't
    assert all(r.vx is None and r.fz is None and r.x is not None for r in rows)


def test_trr_double_velocity_only_frame(spark, tmp_path):
    """Frames carrying ONLY velocity (or force) blocks — e.g. separate
    force dumps — must still infer real=8 from v_size/f_size; falling
    back to float32 would mis-read the double time/lambda header and
    shift every subsequent frame offset."""
    import struct as st

    n = 2
    out = b""
    for fi in range(2):
        v_size = 3 * n * 8
        out += st.pack(">i", 1993)
        out += st.pack(">ii", 13, 12) + b"GMX_trn_file"
        out += st.pack(">13i", 0, 0, 0, 0, 0, 0, 0, 0, v_size, 0, n, fi, 0)
        out += st.pack(">dd", 5.0 * fi, 0.0)  # double time/lambda
        for a in range(n):
            for c in range(3):
                out += st.pack(">d", fi + a + 0.125 * c)
    p = tmp_path / "vonly.trr"
    p.write_bytes(out)

    from intake_spark.bio import TRR, TRRReader

    rows = TRRReader(data=TRR(url=str(p))).read(spark=spark).collect()
    assert len(rows) == 4
    by = {(r.frame, r.atom): r for r in rows}
    assert by[(1, 0)].time_ps == 5.0  # double header read correctly
    assert by[(1, 1)].vy == 1 + 1 + 0.125
    assert all(r.x is None for r in rows)  # no position block


def test_torch_and_tfds_catalogs_mocked(tmp_path):
    """Torch/TFDS registry catalogs (reference catalogs.py:581-665 shape)
    with injectable listings: entries enumerate, carry section/description
    metadata, rehydrate to import-gated readers, and YAML round-trip. A
    section that is not installed is skipped; any other import error
    propagates."""
    import types

    import pytest

    from intake_spark.catalog import Catalog
    from intake_spark.mlds import tfds_catalog, torch_datasets_catalog

    def fake_import(modname):
        if modname != "torchvision":
            raise ImportError(modname)
        mod = types.SimpleNamespace()

        class MNIST:
            """The MNIST handwritten-digit dataset.

            More docs."""

        class CIFAR10:
            pass

        mod.datasets = types.SimpleNamespace(__all__=["MNIST", "CIFAR10"],
                                             MNIST=MNIST, CIFAR10=CIFAR10)
        return mod

    cat = torch_datasets_catalog(rootdir="/data/torch", importer=fake_import)
    assert set(cat.aliases) == {"MNIST", "CIFAR10"}
    r = cat["MNIST"]
    assert type(r).__name__ == "TorchDatasetReader"
    assert r.data.metadata["section"] == "vision"
    assert r.data.metadata["description"].startswith("The MNIST")
    assert r.data.rootdir == "/data/torch"

    # YAML round-trip keeps the entries rehydratable
    p = tmp_path / "torch.yaml"
    cat.to_yaml_file(str(p))
    back = Catalog.from_yaml_file(str(p))
    assert set(back.aliases) == {"MNIST", "CIFAR10"}
    assert back["CIFAR10"].data.name == "CIFAR10"

    def broken_import(modname):
        if modname == "torchaudio":
            raise RuntimeError("torchaudio is broken")
        return fake_import(modname)

    with pytest.raises(RuntimeError, match="torchaudio is broken"):
        torch_datasets_catalog(rootdir="/data/torch", importer=broken_import)

    tf = tfds_catalog(lister=lambda: ["xnli", "c4"])
    assert set(tf.aliases) == {"xnli", "c4"}
    assert type(tf["c4"]).__name__ == "TFDSReader"


def test_grib2_negative_origin_sign_magnitude():
    """GRIB2 La1/Lo1 are sign-magnitude, not two's complement: a grid at
    (-40.0, -100.0) must decode to those coordinates."""
    import struct as _s

    from intake_spark.sci import _grib_s32

    assert _grib_s32(_s.pack(">I", 40_000_000)) == 40_000_000
    assert _grib_s32(_s.pack(">I", 0x80000000 | 40_000_000)) == -40_000_000


def test_dup_groups_empty_pairs(spark):
    from intake_spark.llm import dedup

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dedup.dup_groups(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "group_id"]


def test_minhash_bands_must_divide(spark):
    import pytest as _pytest

    from intake_spark.llm import dedup

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, num_hashes=16)
    with _pytest.raises(ValueError, match="divide"):
        dedup.minhash_band_keys(sigs, num_hashes=16, bands=32)
    with _pytest.raises(ValueError, match="divide"):
        dedup.minhash_band_keys(sigs, num_hashes=16, bands=5)


def test_fits_naxis0_header_only(spark, tmp_path):
    from intake_spark.sci import FITS, FITSReader

    cards = [
        "SIMPLE  =                    T",
        "BITPIX  =                    8",
        "NAXIS   =                    0",
        "END",
    ]
    hdr = "".join(c.ljust(80) for c in cards).encode().ljust(2880, b" ")
    p = tmp_path / "empty.fits"
    p.write_bytes(hdr + b"XTENSION= 'IMAGE   '".ljust(2880, b" "))
    df = FITSReader(data=FITS(url=str(p))).read(spark=spark)
    assert df.count() == 0


def _to_zsav(sav: bytes, n_blocks: int = 2) -> bytes:
    """Rewrap a bytecode-compressed .sav fixture as .zsav: compression
    code 2 and the case data inside the PSPP-documented ZLIB container
    (24-byte header, deflate blocks, per-block descriptor trailer)."""
    import struct as _s
    import zlib as _z

    hdr = bytearray(sav[:176])
    comp = _s.unpack_from("<i", hdr, 72)[0]
    assert comp == 1, "fixture must be bytecode-compressed"
    _s.pack_into("<i", hdr, 72, 2)
    # the dictionary runs to the 999 terminator; case data follows
    term = sav.index(_s.pack("<ii", 999, 0), 176) + 8
    dic, stream = sav[176:term], sav[term:]
    pos = 176 + len(dic)
    cut = -(-len(stream) // n_blocks)
    pieces = [stream[i : i + cut] for i in range(0, len(stream), cut)]
    blobs = [_z.compress(p_) for p_ in pieces]
    zt_ofs = pos + 24 + sum(len(b) for b in blobs)
    zt_len = 24 + 24 * len(blobs)
    out = bytes(hdr) + dic
    out += _s.pack("<qqq", pos, zt_ofs, zt_len)
    trailer = _s.pack("<qqii", 100, 0, 0x3FF000, len(blobs))
    u_ofs, c_ofs = pos, pos + 24
    for p_, b_ in zip(pieces, blobs):
        out += b_
        trailer += _s.pack("<qqii", u_ofs, c_ofs, len(p_), len(b_))
        u_ofs += len(p_)
        c_ofs += len(b_)
    return out + trailer


def test_spss_zsav_and_unknown_ncases(spark, tmp_path):
    """compression==2 (zsav): the ZLIB container inflates to the
    ordinary bytecode stream — values must match the .sav fixture
    exactly; corrupt descriptors fail loudly; uncompressed ncases=-1
    reads to EOF."""
    import math
    import struct as _s

    import pytest as _pytest

    from intake_spark.stats import _parse_sav

    sav = (tmp_path / "z.sav")
    make_sav(sav, compressed=True)
    zsav = _to_zsav(sav.read_bytes())
    pdf = _parse_sav(zsav)
    rows = sorted(zip(pdf["AGE"], pdf["SCORE"], pdf["CITY"]),
                  key=lambda r: r[2])
    assert [c for _a, _s2, c in rows] == ["rome", "springfield",
                                          "ulaanbaatar"]
    assert math.isnan(rows[0][0]) and rows[1][0] == 42.0
    assert abs(rows[0][1] - (-1.5)) < 1e-12

    # descriptor/stream mismatch fails loudly (never garbage rows)
    with _pytest.raises(ValueError):
        _parse_sav(zsav[:-24])  # trailer missing its last descriptor

    def sav_blob(compression, ncases, payload=b""):
        hdr = bytearray(176)
        hdr[0:4] = b"$FL2"
        _s.pack_into("<5i", hdr, 64, 2, 1, compression, 0, ncases)
        _s.pack_into("<d", hdr, 84, 100.0)  # bias
        var = _s.pack("<iiii", 2, 0, 0, 0) + bytes(8) + b"VAR1    "
        term = _s.pack("<ii", 999, 0)
        return bytes(hdr) + var + term + payload

    # an UNDEFINED compression code still names itself
    with _pytest.raises(NotImplementedError, match="compression code"):
        _parse_sav(sav_blob(3, 10))

    # uncompressed, ncases=-1: two 8-byte case values present -> 2 rows
    payload = _s.pack("<d", 1.5) + _s.pack("<d", 2.5)
    pdf = _parse_sav(sav_blob(0, -1, payload))
    assert pdf["VAR1"].tolist() == [1.5, 2.5]


def test_vcf_does_not_cap_samples(spark, tmp_path):
    from intake_spark.bio import VCF, VCFReader

    n_samples = 1200
    header = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" + "\t".join(
        f"S{i}" for i in range(n_samples)
    )
    row = "1\t100\trs1\tA\tG\t50\tPASS\tDP=10\tGT\t" + "\t".join(
        "0/1" for _ in range(n_samples)
    )
    p = tmp_path / "big.vcf"
    p.write_text("##fileformat=VCFv4.2\n" + header + "\n" + row + "\n")
    df = VCFReader(data=VCF(url=str(p))).read(spark=spark)
    r = df.collect()[0]
    assert len(r.extra) == 1 + n_samples  # FORMAT + every sample


def test_tfrecord_write_roundtrip(spark, tmp_path):
    """to_tfrecord → TFRecordReader round trip with typed columns, plus
    full masked-CRC verification of the written framing (the writer is
    spec-framed, not just parser-compatible)."""
    from intake_spark.compress import crc32c
    from intake_spark.mlds import (
        TFRecord,
        TFRecordReader,
        to_tfrecord,
        tfrecord_verify_frames,
    )

    # the canonical CRC-32C check value pins the table derivation
    assert crc32c(b"123456789") == 0xE3069283

    rows = [
        (1, "alpha", 0.5, [1.25, -2.5], [10, -7], bytearray(b"\x00\x01")),
        (2, "beta", -1.0, [], [0], bytearray(b"")),
    ]
    df = spark.createDataFrame(
        rows,
        "rid long, name string, score double, fvals array<float>, "
        "ivals array<long>, blob binary",
    ).repartition(2)
    url = str(tmp_path / "out_tfr")
    out = to_tfrecord(df, url)
    assert out.metadata["rows_written"] == 2

    import glob as _glob

    parts = sorted(_glob.glob(f"{url}/part-*.tfrecord"))
    assert parts
    assert sum(tfrecord_verify_frames(open(p, "rb").read()) for p in parts) == 2

    back = TFRecordReader(data=TFRecord(url=url)).read(spark=spark)
    recs = {}
    for r in back.collect():
        recs.setdefault((r.path, r.record_idx), {})[r.key] = r
    assert len(recs) == 2
    rec1 = next(v for v in recs.values() if v["rid"].int64_vals == [1])
    assert rec1["name"].bytes_vals == [b"alpha"]
    assert rec1["score"].float_vals == [0.5]
    assert rec1["fvals"].float_vals == [1.25, -2.5]
    assert rec1["ivals"].int64_vals == [10, -7]
    assert rec1["blob"].bytes_vals == [b"\x00\x01"]
    rec2 = next(v for v in recs.values() if v["rid"].int64_vals == [2])
    assert rec2["score"].float_vals == [-1.0]
    assert "fvals" not in rec2 or rec2["fvals"].float_vals == []


def test_tfrecord_crc_detects_corruption(tmp_path):
    from intake_spark.mlds import _frame_record, tfrecord_verify_frames

    blob = bytearray(_frame_record(b"payload-bytes") + _frame_record(b"x" * 40))
    assert tfrecord_verify_frames(bytes(blob)) == 2
    blob[14] ^= 0xFF  # flip a payload byte
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CRC mismatch"):
        tfrecord_verify_frames(bytes(blob))


def test_webdataset_roundtrip_and_external(spark, tmp_path):
    """to_webdataset → WebDatasetReader round trip (key adjacency,
    deterministic bytes) + reading an independently-built tar shard."""
    import io
    import tarfile

    from intake_spark.mlds import WebDatasetReader, WebDatasetShards, to_webdataset

    rows = [
        ("s1", "jpg", bytearray(b"JPGDATA1")),
        ("s1", "cls.txt", bytearray(b"7")),
        ("s2", "jpg", bytearray(b"JPGDATA2")),
        ("s2", "cls.txt", bytearray(b"3")),
    ]
    df = spark.createDataFrame(rows, "key string, ext string, content binary")
    url = str(tmp_path / "wds")
    out = to_webdataset(df.repartition(1), url)
    assert out.metadata["rows_written"] == 4

    # a sample's files must be adjacent in the tar
    import glob as _glob

    shard = _glob.glob(f"{url}/shard-*.tar")[0]
    with tarfile.open(shard) as tf:
        names = [m.name for m in tf]
    assert names == ["s1.cls.txt", "s1.jpg", "s2.cls.txt", "s2.jpg"]

    back = WebDatasetReader(data=WebDatasetShards(url=url)).read(spark=spark)
    got = {(r.key, r.ext): bytes(r.content) for r in back.collect()}
    assert got[("s1", "jpg")] == b"JPGDATA1" and got[("s2", "cls.txt")] == b"3"
    assert all(r.size == len(bytes(r.content)) for r in back.collect())

    # externally-built shard (nested member paths, first-dot key split)
    ext_dir = tmp_path / "ext"
    ext_dir.mkdir()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in [("d/a0001.png", b"P1"), ("d/a0001.json", b"{}")]:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    (ext_dir / "x.tar").write_bytes(buf.getvalue())
    df2 = WebDatasetReader(data=WebDatasetShards(url=str(ext_dir))).read(spark=spark)
    got2 = {(r.key, r.ext): bytes(r.content) for r in df2.collect()}
    # base_plus_ext: the directory stays IN the key ('train/0001' and
    # 'val/0001' are different samples — r6 review)
    assert got2 == {("d/a0001", "png"): b"P1", ("d/a0001", "json"): b"{}"}


def test_webdataset_key_rules(spark, tmp_path):
    """Dotted key basenames are rejected (they would re-split as extension
    on read, silently merging samples); directory prefixes are fine and
    round-trip inside the key."""
    import pytest as _pytest

    from intake_spark.mlds import WebDatasetReader, WebDatasetShards, to_webdataset

    bad = spark.createDataFrame(
        [("img.001", "jpg", bytearray(b"x"))], "key string, ext string, content binary"
    )
    with _pytest.raises(Exception, match="contains '.' in its basename"):
        to_webdataset(bad, str(tmp_path / "w1"))

    ok = spark.createDataFrame(
        [("train/0001", "jpg", bytearray(b"a")), ("val/0001", "jpg", bytearray(b"b"))],
        "key string, ext string, content binary",
    )
    url = str(tmp_path / "w2")
    to_webdataset(ok.repartition(1), url)
    back = WebDatasetReader(data=WebDatasetShards(url=url)).read(spark=spark)
    got = {r.key: bytes(r.content) for r in back.collect()}
    assert got == {"train/0001": b"a", "val/0001": b"b"}


def test_tfrecord_verify_rejects_truncation(tmp_path):
    """Regression (r6 review): the verifier must raise on files cut
    mid-frame — both a short trailing header and a payload overrun."""
    import pytest as _pytest

    from intake_spark.mlds import _frame_record, tfrecord_verify_frames

    blob = _frame_record(b"payload")
    with _pytest.raises(ValueError, match="truncated"):
        tfrecord_verify_frames(blob + b"\x08\x00\x00")  # 3 trailing bytes
    with _pytest.raises(ValueError, match="truncated|CRC"):
        tfrecord_verify_frames(blob[:-6])  # cut inside the data CRC


def test_crc32c_slice8_matches_bytewise():
    """Regression: the slicing-by-8 fast path must agree with the
    byte-at-a-time table CRC on every length/alignment."""
    import hashlib

    from intake_spark.compress import _crc32c_table, crc32c

    tbl = _crc32c_table()

    def ref(data):
        c = 0xFFFFFFFF
        for b in data:
            c = tbl[(c ^ b) & 0xFF] ^ (c >> 8)
        return c ^ 0xFFFFFFFF

    for n in (0, 1, 7, 8, 9, 15, 64, 1000, 4097):
        blob = (hashlib.sha256(str(n).encode()).digest() * (n // 32 + 2))[:n]
        assert crc32c(blob) == ref(blob), n
    assert crc32c(b"123456789") == 0xE3069283


def test_to_tfrecord_null_array_element_and_int_precision(spark, tmp_path):
    """Regression: (a) a null element inside an array column must raise a
    named error, not write the literal b'None'; (b) a long column that
    shares a batch with a null must keep values above 2^53 exact (pandas
    would hand the executor float64s)."""
    import pytest as _pytest

    from intake_spark.mlds import TFRecord, TFRecordReader, to_tfrecord

    bad = spark.createDataFrame(
        [(1, [None, "a"])], "id long, tags array<string>"
    ).repartition(1)
    with _pytest.raises(Exception, match="null element"):
        to_tfrecord(bad, str(tmp_path / "t1"))

    big = 9007199254740993  # 2^53 + 1: not representable in float64
    df = spark.createDataFrame(
        [(big,), (None,)], "id long"
    ).repartition(1)
    url = str(tmp_path / "t2")
    to_tfrecord(df, url)
    got = TFRecordReader(TFRecord(url=url)).read(spark).collect()
    vals = sorted(
        v for r in got if r.key == "id" for v in (r.int64_vals or [])
    )
    assert vals == [big]


def test_to_webdataset_rejects_bad_ext(spark, tmp_path):
    """Regression: an ext containing '/' (or empty) silently mangled the
    key/ext split on the read round trip — now rejected at write time."""
    import pytest as _pytest

    from intake_spark.mlds import to_webdataset

    bad = spark.createDataFrame(
        [("k", "a/b", bytearray(b"x"))], "key string, ext string, content binary"
    ).repartition(1)
    with _pytest.raises(Exception, match="ext"):
        to_webdataset(bad, str(tmp_path / "w2"))

    empty = spark.createDataFrame(
        [("k", "", bytearray(b"x"))], "key string, ext string, content binary"
    ).repartition(1)
    with _pytest.raises(Exception, match="ext"):
        to_webdataset(empty, str(tmp_path / "w3"))


def test_dicom_rle_truncation_named_errors():
    """Regression: truncated RLE fragments raised raw struct.error /
    IndexError from executors — now named ValueErrors."""
    import pytest as _pytest

    from intake_spark.sci import _dicom_rle_decode, packbits_decode

    with _pytest.raises(ValueError, match="truncated"):
        _dicom_rle_decode(b"\x01\x00", 2, 2, 8, 1, False)
    with _pytest.raises(ValueError, match="truncated"):
        packbits_decode(b"\xfe")  # repeat marker, no fill byte


def test_single_file_url_is_read_as_given(spark, tmp_path):
    """A URL that names one file is read whatever its spelling: only a
    directory listing is filtered by the reader's glob, in either case.
    Filtered against ``*.md`` / ``*.kml``, ``notes.markdown`` (a Markdown
    file) and ``PLACES.KML`` were each read as 0 rows."""
    from intake_spark.documents import Markdown, MarkdownReader
    from intake_spark.geo import KML as KmlType
    from intake_spark.geo import KMLReader

    md = tmp_path / "notes.markdown"
    md.write_text("# Title\n\nbody\n")
    reader = Markdown(url=str(md)).to_reader()
    assert isinstance(reader, MarkdownReader)
    assert [r.title for r in reader.read(spark=spark).collect()] == ["Title"]

    kml = tmp_path / "PLACES.KML"
    kml.write_text(KML)
    rows = KMLReader(data=KmlType(url=str(kml))).read(spark=spark).collect()
    assert {r.name for r in rows} == {"pin", "line"}
    # the same file in a directory listing: the glob matches either case
    rows = KMLReader(data=KmlType(url=str(tmp_path))).read(spark=spark).collect()
    assert {r.name for r in rows} == {"pin", "line"}
