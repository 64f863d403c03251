"""ShapefileReader vs spec-built .shp/.dbf/.shx fixtures — point, polyline,
polygon, multipoint records with dBASE attributes, with and without the
.shx index."""

from __future__ import annotations

import json
import struct

import pytest

from intake_spark.geo import Shapefile, ShapefileReader, _shape_to_geojson


def _shp_record(stype: int, coords) -> bytes:
    if stype == 0:
        return struct.pack("<i", 0)
    if stype == 1:
        return struct.pack("<i2d", 1, *coords)
    if stype == 8:
        flat = [v for pt in coords for v in pt]
        xs, ys = flat[0::2], flat[1::2]
        return (
            struct.pack("<i4d", 8, min(xs), min(ys), max(xs), max(ys))
            + struct.pack("<i", len(coords))
            + struct.pack(f"<{len(flat)}d", *flat)
        )
    # 3 = polyline, 5 = polygon: coords = list of parts (lists of points)
    pts = [pt for part in coords for pt in part]
    flat = [v for pt in pts for v in pt]
    xs, ys = flat[0::2], flat[1::2]
    parts, acc = [], 0
    for part in coords:
        parts.append(acc)
        acc += len(part)
    return (
        struct.pack("<i4d", stype, min(xs), min(ys), max(xs), max(ys))
        + struct.pack("<2i", len(coords), len(pts))
        + struct.pack(f"<{len(parts)}i", *parts)
        + struct.pack(f"<{len(flat)}d", *flat)
    )


def make_shapefile(tmp_path, name: str, shapes: list[bytes], attrs: list[dict] | None = None, with_shx: bool = True):
    """Write minimal-but-valid .shp (+ .shx, + .dbf when attrs given)."""
    recs = b""
    index = []
    pos = 100
    for i, content in enumerate(shapes):
        index.append((pos // 2, len(content) // 2))
        recs += struct.pack(">2i", i + 1, len(content) // 2) + content
        pos += 8 + len(content)
    flen = (100 + len(recs)) // 2

    def header(file_len_words: int) -> bytes:
        h = struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_len_words)
        h += struct.pack("<2i", 1000, struct.unpack("<i", shapes[0][:4])[0] if shapes else 0)
        h += struct.pack("<8d", 0, 0, 0, 0, 0, 0, 0, 0)
        assert len(h) == 100
        return h

    shp = tmp_path / f"{name}.shp"
    shp.write_bytes(header(flen) + recs)
    if with_shx:
        shx_recs = b"".join(struct.pack(">2i", off, ln) for off, ln in index)
        (tmp_path / f"{name}.shx").write_bytes(header((100 + len(shx_recs)) // 2) + shx_recs)
    if attrs is not None:
        fields = sorted({k for a in attrs for k in a})
        descs, flens = b"", []
        for fname in fields:
            width = max(18, *(len(str(a.get(fname, ""))) for a in attrs))
            ftype, dec = b"C", 0
            if all(isinstance(a.get(fname), (int, float)) or a.get(fname) is None for a in attrs):
                ftype = b"N"
                dec = 0 if all(isinstance(a.get(fname, 0), int) for a in attrs) else 3
            descs += fname.encode().ljust(11, b"\x00") + ftype + b"\x00" * 4 + bytes([width, dec]) + b"\x00" * 14
            flens.append((fname, ftype, width, dec))
        hsize = 32 + len(descs) + 1
        rsize = 1 + sum(w for _, _, w, _ in flens)
        body = b""
        for a in attrs:
            rec = b" "
            for fname, ftype, width, dec in flens:
                v = a.get(fname)
                if v is None:
                    cell = b" " * width
                elif ftype == b"N":
                    s = f"{v:.{dec}f}" if dec else str(int(v))
                    cell = s.rjust(width).encode()
                else:
                    cell = str(v).ljust(width).encode()
                rec += cell[:width]
            body += rec
        head = struct.pack("<B3BIHH20x", 3, 24, 1, 1, len(attrs), hsize, rsize)
        (tmp_path / f"{name}.dbf").write_bytes(head + descs + b"\x0d" + body + b"\x1a")
    return str(shp)


POINT = _shp_record(1, [2.5, -3.5])
LINE = _shp_record(3, [[[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]]])
POLY = _shp_record(5, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]], [[1.0, 1.0], [2.0, 1.0], [1.0, 2.0], [1.0, 1.0]]])
MPOINT = _shp_record(8, [[5.0, 6.0], [7.0, 8.0]])


@pytest.mark.parametrize("with_shx", [True, False])
def test_shapefile_geometries(spark, tmp_path, with_shx):
    url = make_shapefile(
        tmp_path,
        f"geoms_{with_shx}",
        [POINT, LINE, POLY, MPOINT],
        attrs=[
            {"NAME": "pt", "POP": 120},
            {"NAME": "ln", "POP": 0},
            {"NAME": "pg", "POP": 7},
            {"NAME": "mp", "POP": None},
        ],
        with_shx=with_shx,
    )
    rows = {r.id: r for r in ShapefileReader(data=Shapefile(url=url)).read(spark=spark).collect()}
    assert len(rows) == 4
    assert rows["0"].geometry_type == "Point"
    assert json.loads(rows["0"].geometry) == {"type": "Point", "coordinates": [2.5, -3.5]}
    assert rows["1"].geometry_type == "LineString"
    assert json.loads(rows["1"].geometry)["coordinates"] == [[0, 0], [1, 1], [2, 0.5]]
    pg = json.loads(rows["2"].geometry)
    assert rows["2"].geometry_type == "Polygon" and len(pg["coordinates"]) == 2
    assert pg["coordinates"][0][1] == [4, 0]
    assert rows["3"].geometry_type == "MultiPoint"
    props = {k: json.loads(rows[k].properties) for k in rows}
    assert props["0"] == {"NAME": "pt", "POP": 120}
    assert props["3"]["POP"] is None


def test_shapefile_distributed_ranges(spark, tmp_path):
    """records_per_task smaller than the record count → multiple manifest
    ranges, still exact and duplicate-free."""
    shapes = [_shp_record(1, [float(i), float(-i)]) for i in range(23)]
    url = make_shapefile(tmp_path, "many", shapes, attrs=[{"I": i} for i in range(23)])
    df = ShapefileReader(data=Shapefile(url=url)).read(spark=spark, records_per_task=5)
    rows = df.collect()
    assert len(rows) == 23
    got = {int(r.id): json.loads(r.geometry)["coordinates"] for r in rows}
    assert got[7] == [7.0, -7.0]
    assert sorted(json.loads(r.properties)["I"] for r in rows) == list(range(23))


def test_shape_z_type_rejected():
    with pytest.raises(ValueError, match="shape type 11"):
        _shape_to_geojson(struct.pack("<i", 11))


def test_recommend_picks_shapefile(tmp_path):
    from intake_spark.datatypes import recommend

    url = make_shapefile(tmp_path, "rec", [POINT])
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__ for c in recommend(url)]
    assert any("Shapefile" in k for k in kinds)


def test_shapefile_decode_does_not_carry_the_record_index(tmp_path, monkeypatch):
    """Each manifest row carries its own (offset, length) pairs, so the
    pickled decode every task receives does not grow with the record
    count."""
    import intake_spark.geo as geo
    from pyspark import cloudpickle

    def capture(spark, manifest, ddl, schema, decode, source=None):
        return decode, manifest

    monkeypatch.setattr(geo, "manifest_rows", capture)
    sizes, units = [], []
    for n in (10, 2000):
        (tmp_path / f"{n:05d}").mkdir()  # equal path lengths
        url = make_shapefile(
            tmp_path / f"{n:05d}", "s", [_shp_record(1, [float(i), 0.0]) for i in range(n)]
        )
        decode, manifest = ShapefileReader(data=Shapefile(url=url))._read(
            None, records_per_task=5
        )
        sizes.append(len(cloudpickle.dumps(decode)))
        units.append(sum(len(offs) for _start, offs, _lens in manifest))
    assert units == [10, 2000]
    assert sizes[0] == sizes[1]
