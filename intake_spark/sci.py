"""Scientific/medical image formats: FITS and NIfTI-1 readers (stdlib +
numpy — the formats are fixed-layout headers plus raw arrays), DICOM
import-gated (parity: FITSReader readers.py:1616, NibabelNiftiReader
readers.py:1604, DicomReader readers.py:1644 — the reference gates all
three on astropy/nibabel/pydicom).

Both real readers emit the engine's chunk-row encoding
(arrays.CHUNK_SCHEMA): the header parses driver-side (tiny), the payload
decodes on executors via a byte-range manifest (arrays.byte_range_df,
the same distributed recipe as NumpyArrayReader).
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import types as T

from intake_spark import datatypes as dt
from intake_spark.arrays import CHUNK_SCHEMA, byte_range_df, cut_axis0
from intake_spark.readers import BaseReader
from intake_spark.session import local_frame, map_in_pandas


class FITS(dt.FileData):
    filepattern = r"(fits|fts|fit)$"
    magic = (b"SIMPLE  =",)
    structure = {"array"}


class NIfTI(dt.FileData):
    filepattern = r"nii$"
    structure = {"array"}


class DICOM(dt.FileData):
    filepattern = r"(dcm|dicom)$"
    magic = ((128, b"DICM"),)
    structure = {"array", "image"}


_FITS_BITPIX = {8: ">u1", 16: ">i2", 32: ">i4", 64: ">i8", -32: ">f4", -64: ">f8"}


def _parse_fits_header(f) -> tuple[dict, int]:
    """Parse the primary HDU header (2880-byte blocks of 80-char cards);
    returns (cards, data_offset)."""
    cards: dict[str, str] = {}
    off = 0
    done = False
    while not done:
        block = f.read(2880)
        if len(block) < 2880:
            raise ValueError("truncated FITS header")
        off += 2880
        for i in range(36):
            card = block[i * 80 : (i + 1) * 80].decode("ascii", errors="replace")
            key = card[:8].strip()
            if key == "END":
                done = True
                break
            if "=" in card:
                val = card[9:].split("/")[0].strip()
                cards[key] = val
    return cards, off


class FITSReader(BaseReader):
    """FITS primary-HDU image → chunk-row DataFrame. Header cards land in
    the data's ``metadata`` dict; data is big-endian per BITPIX."""

    implements = {FITS}

    def _read(self, spark, rows_per_chunk: int = 1024, **kwargs):
        url = self.data.url
        with open(url, "rb") as f:
            cards, data_off = _parse_fits_header(f)
        if cards.get("SIMPLE", "").strip() != "T":
            raise ValueError("not a standard FITS file")
        naxis = int(cards["NAXIS"])
        self.data.metadata.update({k: v for k, v in cards.items() if k not in ("SIMPLE",)})
        if naxis == 0:
            # header-only primary HDU (data lives in extensions): there IS
            # no data array — emit an empty chunk frame, never read the
            # bytes after the header (they are the next HDU's header)
            return local_frame(spark, [], CHUNK_SCHEMA)
        # FITS axis order is fortran-like: NAXIS1 varies fastest → reverse
        shape = [int(cards[f"NAXIS{i}"]) for i in range(naxis, 0, -1)]
        dtype = _FITS_BITPIX[int(cards["BITPIX"])]
        return byte_range_df(spark, url, dtype, shape, data_off, rows_per_chunk)


_NIFTI_DTYPES = {2: "<u1", 4: "<i2", 8: "<i4", 16: "<f4", 64: "<f8", 256: "<i1", 512: "<u2"}


class NIfTIReader(BaseReader):
    """NIfTI-1 (.nii single-file) volume → chunk-row DataFrame. The 348-byte
    header is fixed-layout struct fields: dim[8] @40 (int16), datatype @70
    (int16), vox_offset @108 (float32), magic 'n+1' @344."""

    implements = {NIfTI}

    def _read(self, spark, rows_per_chunk: int = 64, **kwargs):
        url = self.data.url
        with open(url, "rb") as f:
            hdr = f.read(352)
        if hdr[344:347] != b"n+1":
            raise ValueError("not a single-file NIfTI-1 (.nii) file")
        dim = struct.unpack("<8h", hdr[40:56])
        ndim = dim[0]
        # spec endianness rule: dim[0] outside 1..7 ⇒ the header is
        # byte-swapped (big-endian writer); the magic is endian-independent
        # so without this check a BE file would silently decode to garbage
        if not 1 <= ndim <= 7:
            raise ValueError(
                f"dim[0]={ndim}: header is byte-swapped (big-endian NIfTI) "
                "or corrupt; only little-endian .nii supported"
            )
        shape = list(dim[1 : 1 + ndim])[::-1]  # row-major: slowest axis first
        (datatype,) = struct.unpack("<h", hdr[70:72])
        if datatype not in _NIFTI_DTYPES:
            raise ValueError(f"unsupported NIfTI datatype code {datatype}")
        (vox_offset,) = struct.unpack("<f", hdr[108:112])
        return byte_range_df(
            spark, url, _NIFTI_DTYPES[datatype], shape, int(vox_offset), rows_per_chunk
        )


# ---------------------------------------------------------------------------
# TIFF — stdlib IFD walk; strips are the natural distribution unit.
# The reference reaches TIFF three ways, all via third-party decoders
# (XArrayDatasetReader readers.py:1340-1440, RasterIOXarray :1496,
# PILImageReader :2228); this parses the baseline format directly:
# classic (42-magic) AND BigTIFF (43-magic, 8-byte offsets) layouts,
# II/MM byte order, strip- and tile-based storage, uncompressed or
# PackBits or Deflate, 8/16-bit unsigned samples, chunky planar.
# ---------------------------------------------------------------------------

_TIFF_TYPE_SIZES = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8,
    16: 8, 17: 8, 18: 8,  # BigTIFF LONG8/SLONG8/IFD8
}


def _tiff_open(f) -> tuple[str, bool, int]:
    """TIFF header → (byte order, is_bigtiff, first IFD offset). BigTIFF
    (magic 43) uses 8-byte offsets/counts and 20-byte IFD entries."""
    f.seek(0)
    head = f.read(16)
    if head[:2] == b"II":
        bo = "<"
    elif head[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF file (no II/MM byte-order mark)")
    (magic,) = struct.unpack(bo + "H", head[2:4])
    if magic == 42:
        return bo, False, struct.unpack(bo + "I", head[4:8])[0]
    if magic == 43:
        osize, zero = struct.unpack(bo + "HH", head[4:8])
        if osize != 8 or zero != 0:
            raise ValueError(f"bad BigTIFF header (offset size {osize})")
        return bo, True, struct.unpack(bo + "Q", head[8:16])[0]
    raise ValueError(f"bad TIFF magic {magic}")


def _tiff_read_ifd(f, bo: str, big: bool, ifd_off: int) -> tuple[dict, int]:
    """One IFD → (tags, next_ifd_offset); handles classic 12-byte and
    BigTIFF 20-byte entries, inline vs out-of-line values, and the numeric
    types incl. LONG8."""
    f.seek(ifd_off)
    n = struct.unpack(bo + ("Q" if big else "H"), f.read(8 if big else 2))[0]
    esize, inline = (20, 8) if big else (12, 4)
    raw = f.read(esize * n)
    (next_ifd,) = struct.unpack(bo + ("Q" if big else "I"), f.read(8 if big else 4))
    tags: dict[int, list] = {}
    for i in range(n):
        base = i * esize
        tag, typ = struct.unpack(bo + "HH", raw[base : base + 4])
        cnt = struct.unpack(
            bo + ("Q" if big else "I"), raw[base + 4 : base + 4 + inline]
        )[0]
        valb = raw[base + 4 + inline : base + esize]
        sz = _TIFF_TYPE_SIZES.get(typ, 1) * cnt
        if sz <= inline:
            data = valb[:sz]
        else:
            (voff,) = struct.unpack(bo + ("Q" if big else "I"), valb)
            pos = f.tell()
            f.seek(voff)
            data = f.read(sz)
            f.seek(pos)
        if typ == 3:
            tags[tag] = list(struct.unpack(bo + f"{cnt}H", data))
        elif typ == 4:
            tags[tag] = list(struct.unpack(bo + f"{cnt}I", data))
        elif typ == 16:
            tags[tag] = list(struct.unpack(bo + f"{cnt}Q", data))
        elif typ == 1:
            tags[tag] = list(data)
        elif typ == 12:  # DOUBLE — GeoTIFF ModelPixelScale/Tiepoint/etc.
            tags[tag] = list(struct.unpack(bo + f"{cnt}d", data))
        elif typ == 11:  # FLOAT
            tags[tag] = list(struct.unpack(bo + f"{cnt}f", data))
        elif typ == 2:  # ASCII (NUL-terminated)
            tags[tag] = [data.split(b"\x00")[0].decode("ascii", "replace")]
        else:
            tags[tag] = [data]
    return tags, next_ifd


def _tiff_geo(tags: dict) -> dict | None:
    """GeoTIFF georeferencing from the public spec (OGC GeoTIFF 1.1):
    raster→model transform out of ModelPixelScale(33550)+ModelTiepoint
    (33922) or ModelTransformation(34264), plus the GeoKeyDirectory(34735)
    short entries (values inline or indexed into GeoDoubleParams 34736 /
    GeoAsciiParams 34737). Returns None when the IFD carries no geo tags;
    otherwise a dict with the affine terms (x = ox + col*sx + row*rx;
    y = oy + col*ry + row*sy) and the decoded geokeys."""
    scale = tags.get(33550)
    tie = tags.get(33922)
    xform = tags.get(34264)
    keydir = tags.get(34735)
    if not (scale or tie or xform or keydir):
        return None
    geo: dict = {"geokeys": {}}
    if keydir and len(keydir) >= 4 and not isinstance(keydir[0], bytes):
        n_keys = int(keydir[3])
        doubles = tags.get(34736, [])
        ascii_params = (tags.get(34737) or [""])[0]
        for k in range(n_keys):
            ent = keydir[4 + 4 * k : 8 + 4 * k]
            if len(ent) < 4:
                break
            key_id, loc, cnt, val = (int(v) for v in ent)
            if loc == 0:
                geo["geokeys"][key_id] = val
            elif loc == 34736 and val + cnt <= len(doubles):
                vs = doubles[val : val + cnt]
                geo["geokeys"][key_id] = vs[0] if cnt == 1 else list(vs)
            elif loc == 34737 and isinstance(ascii_params, str):
                geo["geokeys"][key_id] = ascii_params[val : val + cnt].rstrip("|")
    if xform and len(xform) == 16 and not isinstance(xform[0], bytes):
        m = [float(v) for v in xform]
        geo.update(sx=m[0], rx=m[1], ox=m[3], ry=m[4], sy=m[5], oy=m[7])
    elif (
        scale and tie
        and len(scale) >= 2 and len(tie) >= 6
        and not isinstance(scale[0], bytes) and not isinstance(tie[0], bytes)
    ):
        sx, syv = float(scale[0]), float(scale[1])
        ti, tj, _, tx, ty, _ = (float(v) for v in tie[:6])
        # tiepoint maps raster (I,J) to model (X,Y); Y decreases with row
        geo.update(sx=sx, rx=0.0, ox=tx - ti * sx,
                   ry=0.0, sy=-syv, oy=ty + tj * syv)
    gk = geo["geokeys"]
    geo["model_type"] = int(gk.get(1024, 0)) if isinstance(gk.get(1024, 0), (int, float)) else 0
    geo["raster_type"] = int(gk.get(1025, 1)) if isinstance(gk.get(1025, 1), (int, float)) else 1
    epsg = gk.get(3072) or gk.get(2048)
    geo["epsg"] = int(epsg) if isinstance(epsg, (int, float)) and epsg not in (0, 32767) else None
    return geo


def tiff_meta(f, page: int = 0) -> dict:
    """Parse one IFD of a TIFF (classic 42 or BigTIFF 43) from a seekable
    file-like — small reads only (header + IFD + out-of-line tag values).
    ``page`` follows the next-IFD chain: page 0 is the base image; later
    pages are the extra frames of a multi-page TIFF or the downsampled
    levels of an OpenSlide-style pyramid."""
    bo, big, ifd_off = _tiff_open(f)
    n_pages = 0
    while True:
        tags, next_ifd = _tiff_read_ifd(f, bo, big, ifd_off)
        if n_pages == page:
            break
        ifd_off = next_ifd
        n_pages += 1
        if ifd_off == 0:
            raise ValueError(f"TIFF has only {n_pages} page(s); page {page} requested")

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    width, height = one(256), one(257)
    if width is None or height is None:
        raise ValueError("TIFF IFD lacks ImageWidth/ImageLength")
    spp = one(277, 1)
    bps = tags.get(258, [8] * spp)
    if len(set(bps)) != 1 or bps[0] not in (8, 16):
        raise ValueError(f"unsupported BitsPerSample {bps} (8/16-bit only)")
    comp = one(259, 1)
    if comp not in (1, 5, 8, 32773, 32946):  # none, LZW, Deflate, PackBits, Deflate
        raise ValueError(
            f"unsupported TIFF compression {comp} "
            "(uncompressed/LZW/PackBits/Deflate only)"
        )
    if one(284, 1) != 1:
        raise ValueError("planar (non-chunky) TIFF not supported")
    if one(339, 1) != 1:
        raise ValueError("only unsigned-integer TIFF samples supported")
    rows_per_strip = one(278, height)
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise ValueError(f"TIFF predictor {predictor} not supported (none/horizontal)")
    return {
        "predictor": int(predictor),
        "bo": bo,
        "has_next_page": next_ifd != 0,
        "width": int(width),
        "height": int(height),
        "spp": int(spp),
        "bits": int(bps[0]),
        "compression": int(comp),
        "rows_per_strip": int(rows_per_strip),
        "strip_offsets": [int(v) for v in tags.get(273, [])],
        "strip_counts": [int(v) for v in tags.get(279, [])],
        # tiled layout (Cloud-Optimized GeoTIFF et al.)
        "tiled": 322 in tags,
        "tile_width": int(one(322, 0)),
        "tile_length": int(one(323, 0)),
        "tile_offsets": [int(v) for v in tags.get(324, [])],
        "tile_counts": [int(v) for v in tags.get(325, [])],
        # GeoTIFF georeferencing (None for plain TIFFs)
        "geo": _tiff_geo(tags),
    }


def lzw_decode_tiff(data: bytes) -> bytes:
    """TIFF-variant LZW (MSB-first bit packing, 9→12-bit codes, EARLY
    code-width change — the width bumps one code before the table fills,
    per the TIFF 6.0 spec): Clear=256 resets the table, EOI=257 ends."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        table.clear()
        table.extend(bytes([i]) for i in range(256))
        table.append(b"")  # 256 Clear
        table.append(b"")  # 257 EOI

    reset()
    width = 9
    bitbuf = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                reset()
                width = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"corrupt TIFF LZW stream (code {code})")
            out += entry
            prev = entry
            # early change, decoder side: the decoder's table lags the
            # encoder's by ONE entry (it adds on the FOLLOWING code), so
            # it widens at 2^width - 2 where the encoder widens at
            # 2^width - 1 — the libtiff pairing (tif_lzw.c: decode
            # free_ent > maxcode-1 with maxcode = 2^n - 2; encode
            # free_ent > maxcode with maxcode = 2^n - 1)
            if len(table) + 2 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _tiff_undo_predictor(arr, meta: dict):
    """TIFF predictor 2 (horizontal differencing): cumulative sum along
    the row axis per sample channel, modulo the sample width."""
    import numpy as np

    if meta.get("predictor", 1) != 2:
        return arr
    return np.cumsum(arr.astype(np.uint64), axis=1).astype(arr.dtype)


def packbits_decode(data: bytes) -> bytes:
    """Apple PackBits RLE: n<128 → copy n+1 literal bytes; n>128 → repeat
    next byte 257-n times; n==128 → no-op."""
    out = bytearray()
    i = 0
    ln = len(data)
    while i < ln:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= ln:
                raise ValueError(
                    "PackBits data truncated: repeat marker with no fill byte"
                )
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out)


def _tiff_tile_band(fh, meta: dict, band: int, nrows: int):
    """Stitch the tiles of one tile-row band → (nrows, width, spp)
    ndarray; right/bottom edge tiles trimmed per spec (tiles always store
    full tile_width×tile_length, the image boundary crops the excess)."""
    import zlib

    import numpy as np

    tw, tl = meta["tile_width"], meta["tile_length"]
    tiles_x = -(-meta["width"] // tw)
    dtype = np.dtype(f"{meta['bo']}u{meta['bits'] // 8}")
    parts = []
    for tx in range(tiles_x):
        idx = band * tiles_x + tx
        fh.seek(meta["tile_offsets"][idx])
        raw = fh.read(meta["tile_counts"][idx])
        if meta["compression"] == 32773:
            raw = packbits_decode(raw)
        elif meta["compression"] == 5:
            raw = lzw_decode_tiff(raw)
        elif meta["compression"] in (8, 32946):
            raw = zlib.decompress(raw)
        arr = np.frombuffer(raw, dtype=dtype)[: tl * tw * meta["spp"]]
        parts.append(_tiff_undo_predictor(arr.reshape(tl, tw, meta["spp"]), meta))
    band_arr = np.concatenate(parts, axis=1)[:nrows, : meta["width"]]
    return band_arr


def _tiff_strip_array(raw: bytes, meta: dict, nrows: int):
    """One strip's bytes → (nrows, width, spp) ndarray."""
    import numpy as np

    if meta["compression"] == 32773:
        raw = packbits_decode(raw)
    elif meta["compression"] == 5:
        raw = lzw_decode_tiff(raw)
    elif meta["compression"] in (8, 32946):
        import zlib

        raw = zlib.decompress(raw)
    dtype = np.dtype(f"{meta['bo']}u{meta['bits'] // 8}")
    need = nrows * meta["width"] * meta["spp"]
    vals = np.frombuffer(raw, dtype=dtype)[:need]
    return _tiff_undo_predictor(vals.reshape(nrows, meta["width"], meta["spp"]), meta)


def decode_tiff(content: bytes, page: int = 0):
    """Whole-image decode (bytes → (H, W, C) ndarray) for the multimodal
    column pipeline; strips concatenate in order. ``page`` selects a frame
    of a multi-page TIFF / level of a pyramid."""
    import io

    import numpy as np

    f = io.BytesIO(content)
    meta = tiff_meta(f, page=page)
    parts = []
    if meta["tiled"]:
        bands = -(-meta["height"] // meta["tile_length"])
        for band in range(bands):
            nrows = min(meta["tile_length"], meta["height"] - band * meta["tile_length"])
            parts.append(_tiff_tile_band(f, meta, band, nrows))
    else:
        remaining = meta["height"]
        for off, cnt in zip(meta["strip_offsets"], meta["strip_counts"]):
            nrows = min(meta["rows_per_strip"], remaining)
            f.seek(off)
            parts.append(_tiff_strip_array(f.read(cnt), meta, nrows))
            remaining -= nrows
    return np.concatenate(parts) if parts else np.empty((0, meta["width"], meta["spp"]), "u1")


class TIFFReader(BaseReader):
    """TIFF → chunk-row DataFrame (arrays.CHUNK_SCHEMA). The driver parses
    only the IFD (a few hundred bytes); each strip decodes on an executor
    from its (offset, bytecount) manifest row — strips are TIFF's native
    parallel unit, so a giant scan-line raster fans out without any
    driver-side pixel traffic."""

    implements = {dt.TIFF}

    def _read(self, spark, page: int = 0, **kwargs):
        import numpy as np  # noqa: F401

        url = self.data.url
        with open(url, "rb") as f:
            meta = tiff_meta(f, page=page)
        h, w, spp = meta["height"], meta["width"], meta["spp"]
        shape = [h, w] if spp == 1 else [h, w, spp]
        self.data.metadata.update(
            {"width": w, "height": h, "samples_per_pixel": spp,
             "bits": meta["bits"], "page": page, "tiled": meta["tiled"],
             "has_more_pages": meta["has_next_page"]}
        )
        # GeoTIFF: surface the raster→model transform + CRS, and (for the
        # axis-aligned case) per-chunk x/y coordinate columns — the
        # reference gets these via rasterio/xarray (readers.py:1496,2371);
        # here they come straight from the spec tags parsed above.
        geo = meta["geo"]
        axis_aligned = bool(geo and "sx" in geo and not (geo["rx"] or geo["ry"]))
        if geo and "sx" in geo:
            self.data.metadata["geo"] = {
                "epsg": geo["epsg"],
                "model_type": geo["model_type"],
                "raster_type": geo["raster_type"],
                # row-major 2x3 affine: x = ox + c*sx + r*rx; y = oy + c*ry + r*sy
                "affine": [geo["sx"], geo["rx"], geo["ox"],
                           geo["ry"], geo["sy"], geo["oy"]],
                "geokeys": geo["geokeys"],
            }
        if meta["tiled"]:
            # COG-style layout: each manifest row stitches one tile-row
            # band (ceil(W/tile_width) tiles) into a [nrows, W] chunk
            tl = meta["tile_length"]
            bands = -(-h // tl)
            manifest = [
                (b, b * tl, min(tl, h - b * tl), 0, 0) for b in range(bands)
            ]
        else:
            if not meta["strip_offsets"] or len(meta["strip_offsets"]) != len(meta["strip_counts"]):
                raise ValueError(
                    "TIFF lacks a consistent StripOffsets/StripByteCounts pair"
                )
            manifest = []
            row = 0
            for i, (off, cnt) in enumerate(zip(meta["strip_offsets"], meta["strip_counts"])):
                nrows = min(meta["rows_per_strip"], h - row)
                manifest.append((i, row, nrows, off, cnt))
                row += nrows
        mdf = local_frame(
            spark, manifest, "chunk_id int, row_start long, nrows int, off long, cnt long"
        )
        if len(manifest) > 1:
            mdf = mdf.repartition(
                min(len(manifest), spark.sparkContext.defaultParallelism)
            )
        tiled = meta["tiled"]
        if axis_aligned:
            # coordinate columns at pixel centers (PixelIsArea, geokey
            # 1025==1, the default) or grid points (PixelIsPoint, ==2):
            # xs is per-column (identical for every chunk, width-long),
            # ys is per-row of the chunk (nrows-long) — O(W + nrows) per
            # chunk row, never O(W*H)
            half = 0.5 if geo["raster_type"] != 2 else 0.0
            gsx, gox, gsy, goy = geo["sx"], geo["ox"], geo["sy"], geo["oy"]
            from pyspark.sql import types as T

            # copy — StructType.add mutates in place, and CHUNK_SCHEMA is
            # the shared module-level schema
            out_schema = T.StructType(
                list(CHUNK_SCHEMA.fields)
                + [
                    T.StructField("xs", T.ArrayType(T.DoubleType())),
                    T.StructField("ys", T.ArrayType(T.DoubleType())),
                ]
            )
        else:
            out_schema = CHUNK_SCHEMA

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cols = [f.name for f in out_schema.fields]
            with open(url, "rb") as fh:
                for pdf in batches:
                    out = []
                    for _, r in pdf.iterrows():
                        if tiled:
                            arr = _tiff_tile_band(fh, meta, int(r.chunk_id), int(r.nrows))
                        else:
                            fh.seek(int(r.off))
                            arr = _tiff_strip_array(fh.read(int(r.cnt)), meta, int(r.nrows))
                        (row,) = cut_axis0(arr, shape, r.row_start, r.chunk_id)
                        if axis_aligned:
                            r0 = int(r.row_start)
                            row["xs"] = [gox + (c + half) * gsx for c in range(w)]
                            row["ys"] = [
                                goy + (r0 + i + half) * gsy for i in range(int(r.nrows))
                            ]
                        out.append(row)
                    yield pd.DataFrame(out, columns=cols)

        return map_in_pandas(mdf, decode, schema=out_schema)



def _inflated_chunk_df(
    spark, url: str, dtype, shape, data_off: int, rows_per_chunk: int, codec: str
):
    """Whole-payload-compressed array (NRRD gzip / MetaImage zlib) →
    chunk rows: one executor inflates the stream, then cuts first-axis
    slabs (arrays.cut_axis0) — shared by both readers."""
    mdf = local_frame(spark, [(data_off,)], "data_off long")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip as _gzip
        import zlib as _zlib

        import numpy as np

        inflate = _gzip.decompress if codec == "gzip" else _zlib.decompress
        for pdf in batches:
            for _, r in pdf.iterrows():
                with open(url, "rb") as fh:
                    fh.seek(int(r["data_off"]))
                    raw = inflate(fh.read())
                vals = np.frombuffer(raw, dtype=np.dtype(dtype)).reshape(shape)
                out = cut_axis0(vals, shape, rows_per_chunk=rows_per_chunk)
                yield pd.DataFrame(out, columns=CHUNK_SCHEMA.names)

    return map_in_pandas(mdf, decode, schema=CHUNK_SCHEMA)


class NetCDF3(dt.FileData):
    filepattern = r"(nc|cdf)$"
    magic = (b"CDF\x01", b"CDF\x02")
    structure = {"array", "hierarchy"}

    def __init__(self, url, variable: str = "", storage_options=None, metadata=None):
        super().__init__(url, storage_options, metadata)
        self.variable = variable


_NC_TYPES = {1: (">i1", 1), 2: ("S1", 1), 3: (">i2", 2), 4: (">i4", 4), 5: (">f4", 4), 6: (">f8", 8)}


def _nc_name(buf: bytes, i: int) -> tuple[str, int]:
    (n,) = struct.unpack(">I", buf[i : i + 4])
    name = buf[i + 4 : i + 4 + n].decode("utf-8", errors="replace")
    pad = (4 - n % 4) % 4
    return name, i + 4 + n + pad


def _nc_skip_atts(buf: bytes, i: int) -> int:
    tag, cnt = struct.unpack(">II", buf[i : i + 8])
    i += 8
    if tag == 0:  # ABSENT
        return i
    for _ in range(cnt):
        _, i = _nc_name(buf, i)
        typ, nelems = struct.unpack(">II", buf[i : i + 8])
        i += 8
        size = _NC_TYPES[typ][1] * nelems
        i += size + (4 - size % 4) % 4
    return i


def parse_netcdf3_header(buf: bytes) -> dict:
    """Classic netCDF (CDF-1/CDF-2) header → dims, vars (name → shape,
    dtype, begin, record?) and record geometry. Spec-layout parse, stdlib
    struct only."""
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError("not a classic netCDF3 file")
    offfmt = ">I" if buf[3] == 1 else ">Q"
    offsz = 4 if buf[3] == 1 else 8
    (numrecs,) = struct.unpack(">I", buf[4:8])
    i = 8
    tag, cnt = struct.unpack(">II", buf[i : i + 8])
    i += 8
    dims = []
    if tag == 0x0A:
        for _ in range(cnt):
            name, i = _nc_name(buf, i)
            (size,) = struct.unpack(">I", buf[i : i + 4])
            i += 4
            dims.append((name, size))
    i = _nc_skip_atts(buf, i)
    tag, cnt = struct.unpack(">II", buf[i : i + 8])
    i += 8
    out: dict = {"dims": dims, "numrecs": numrecs, "vars": {}}
    if tag != 0x0B:
        return out
    for _ in range(cnt):
        name, i = _nc_name(buf, i)
        (nd,) = struct.unpack(">I", buf[i : i + 4])
        i += 4
        dimids = struct.unpack(f">{nd}I", buf[i : i + 4 * nd]) if nd else ()
        i += 4 * nd
        i = _nc_skip_atts(buf, i)
        typ, _vsize = struct.unpack(">II", buf[i : i + 8])
        i += 8
        (begin,) = struct.unpack(offfmt, buf[i : i + offsz])
        i += offsz
        is_record = bool(nd) and dims[dimids[0]][1] == 0
        shape = [dims[d][1] for d in dimids]
        if is_record:
            shape[0] = numrecs
        out["vars"][name] = {
            "dtype": _NC_TYPES[typ][0],
            "shape": shape,
            "begin": begin,
            "record": is_record,
        }
    return out


class NetCDF3Reader(BaseReader):
    """Classic netCDF3 variable → chunk-row DataFrame, no netCDF4/xarray
    packages: stdlib header parse (driver), numpy byte-range decode in
    mapInPandas (executors). Fixed-size variables only — record-dimension
    variables interleave per record and need a strided manifest (rejected
    with a clear error; the reference reads them via xarray/scipy).
    Parity: XArrayDatasetReader's netCDF path, readers.py:1340-1440."""

    implements = {NetCDF3}

    def _read(self, spark, variable: str | None = None, rows_per_chunk: int = 1024, **kwargs):
        url = self.data.url
        with open(url, "rb") as f:
            hdr = parse_netcdf3_header(f.read(1 << 20))
        var = variable or getattr(self.data, "variable", "") or ""
        if not var:
            fixed = [k for k, v in hdr["vars"].items() if not v["record"]]
            if not fixed:
                raise ValueError("no fixed-size variables in file")
            var = fixed[0]
        if var not in hdr["vars"]:
            raise KeyError(f"variable {var!r} not in {sorted(hdr['vars'])}")
        meta = hdr["vars"][var]
        if meta["record"]:
            raise ValueError(
                f"variable {var!r} uses the record dimension; strided record "
                "reads not supported by this stdlib reader"
            )
        self.data.metadata.update({"dims": hdr["dims"], "variable": var})
        return byte_range_df(
            spark, url, meta["dtype"], meta["shape"] or [1], meta["begin"], rows_per_chunk
        )


# ---------------------------------------------------------------------------
# MatrixMarket (.mtx) — text COO/dense matrices (parity:
# ScipyMatrixMarketReader, reference readers.py:1593, which delegates to
# scipy.io.mmread). Coordinate files parse fully distributed with
# spark.read.text + JVM expressions; only the banner/size lines are read
# driver-side.
# ---------------------------------------------------------------------------


class MatrixMarket(dt.FileData):
    filepattern = r"mtx$"
    magic = (b"%%MatrixMarket",)
    structure = {"array", "table"}


class MatrixMarketReader(BaseReader):
    """MatrixMarket → (row, col, value) COO rows, 0-based, with symmetry
    expansion (symmetric/skew-symmetric mirror off-diagonal entries) —
    matrix semantics match scipy.io.mmread's dense result.

    Coordinate format: ``spark.read.text`` + one ``zipWithIndex`` pass to
    identify the size line, then pure JVM split/cast expressions — the data
    parse is fully distributed. Array (dense) format: column-major index
    math on the same line index."""

    implements = {MatrixMarket}

    def _read(self, spark, **kwargs):
        from pyspark.sql import functions as F

        url = self.data.url
        with open(url, encoding="ascii", errors="replace") as f:
            banner = f.readline().split()
            size_line = None
            for line in f:
                if line.strip() and not line.startswith("%"):
                    size_line = [int(v) for v in line.split()[:2]]
                    break
        if len(banner) < 5 or banner[0] != "%%MatrixMarket":
            raise ValueError("not a MatrixMarket file (missing banner)")
        fmt, field, sym = banner[2].lower(), banner[3].lower(), banner[4].lower()
        if field == "complex":
            raise ValueError("complex MatrixMarket fields not supported")
        lines = (
            spark.read.text(url)
            .rdd.zipWithIndex()
            .map(lambda t: (t[0].value, t[1]))
            .toDF(["line", "idx"])
        )
        data = lines.filter(
            (~F.col("line").startswith("%")) & (F.trim("line") != "")
        )
        first_idx = data.agg(F.min("idx")).first()[0]
        body = data.filter(F.col("idx") > first_idx)
        parts = F.split(F.trim(F.col("line")), r"\s+")
        if fmt == "coordinate":
            value = F.lit(1.0) if field == "pattern" else parts[2].cast("double")
            df = body.select(
                (parts[0].cast("long") - 1).alias("row"),
                (parts[1].cast("long") - 1).alias("col"),
                value.alias("value"),
            )
            if sym in ("symmetric", "skew-symmetric"):
                sign = -1.0 if sym == "skew-symmetric" else 1.0
                mirror = df.filter(F.col("row") != F.col("col")).select(
                    F.col("col").alias("row"),
                    F.col("row").alias("col"),
                    (F.col("value") * sign).alias("value"),
                )
                df = df.unionByName(mirror)
            elif sym == "hermitian":
                raise ValueError("hermitian needs complex support")
            return df
        if fmt == "array":
            if sym != "general":
                raise ValueError("array-format symmetry expansion not supported")
            if not size_line or len(size_line) < 2:
                raise ValueError("array MatrixMarket lacks a rows/cols size line")
            nrows = size_line[0]
            rel = F.col("idx") - F.lit(first_idx + 1)
            return body.select(
                (rel % nrows).alias("row"),
                (rel / nrows).cast("long").alias("col"),
                parts[0].cast("double").alias("value"),
            )
        raise ValueError(f"unknown MatrixMarket format {fmt!r}")


# ---------------------------------------------------------------------------
# MATLAB v5 .mat — tagged binary elements, optionally zlib-wrapped
# (parity: ScipyMatlabReader, reference readers.py:1583, which delegates to
# scipy.io.loadmat). The driver walks only the top-level element tags (8
# bytes each, plus an incremental-decompress peek for names); the selected
# variable decodes on an executor.
# ---------------------------------------------------------------------------


class MatlabMat(dt.FileData):
    filepattern = r"mat$"
    magic = (b"MATLAB 5.0",)
    structure = {"array", "table"}


_MAT_MI_DTYPES = {
    1: "i1", 2: "u1", 3: "i2", 4: "u2", 5: "i4", 6: "u4",
    7: "f4", 9: "f8", 12: "i8", 13: "u8",
}
_MAT_NUMERIC_CLASSES = set(range(6, 16))


def _mat_subelements(buf: bytes):
    """Iterate (mi_type, data) subelements of a miMATRIX payload,
    honouring the small-data-element (packed) tag format."""
    pos = 0
    while pos + 8 <= len(buf):
        (word,) = struct.unpack_from("<I", buf, pos)
        if word >> 16:  # small element: nbytes in the high half-word
            mtype, nb = word & 0xFFFF, word >> 16
            yield mtype, buf[pos + 4 : pos + 4 + nb]
            pos += 8
        else:
            (nb,) = struct.unpack_from("<I", buf, pos + 4)
            yield word, buf[pos + 8 : pos + 8 + nb]
            pos += 8 + nb + ((8 - nb % 8) % 8)


def _mat_matrix_info(buf: bytes):
    """miMATRIX payload → (name, mxclass, dims, mi_type, data bytes)."""
    it = _mat_subelements(buf)
    _, flags = next(it)
    mxclass = flags[0]
    _, dimraw = next(it)
    dims = list(struct.unpack(f"<{len(dimraw) // 4}i", dimraw))
    _, nameraw = next(it)
    name = nameraw.decode("ascii", errors="replace")
    try:
        mtype, data = next(it)
    except StopIteration:
        mtype, data = 0, b""
    return name, mxclass, dims, mtype, data


def _mat_toplevel(url: str) -> list[tuple[str, int, int, bool]]:
    """Walk top-level tags → [(var name, data offset, nbytes, compressed)].
    Compressed elements are peeked with an incremental zlib decompress of
    the first KiB — names surface without inflating the payload."""
    import zlib

    out = []
    with open(url, "rb") as f:
        head = f.read(128)
        if len(head) < 128:
            raise ValueError("truncated MAT-file header")
        if head[126:128] != b"IM":
            raise ValueError(
                "big-endian or non-v5 MAT-file not supported (v7.3 is HDF5 — "
                "use HDF5Reader)"
            )
        while True:
            tag = f.read(8)
            if len(tag) < 8:
                break
            mtype, nb = struct.unpack("<II", tag)
            off = f.tell()
            if mtype == 15:  # miCOMPRESSED
                peek = f.read(min(nb, 2048))
                inner = zlib.decompressobj().decompress(peek, 512)
                name = _mat_matrix_info(inner[8:])[0] if len(inner) >= 16 else ""
                out.append((name, off, nb, True))
            elif mtype == 14:  # miMATRIX
                peek = f.read(min(nb, 2048))
                name = _mat_matrix_info(peek)[0]
                out.append((name, off, nb, False))
            f.seek(off + nb + ((8 - nb % 8) % 8))
    return out


class MatlabMatReader(BaseReader):
    """MATLAB v5 .mat numeric variable → chunk-row DataFrame
    (arrays.CHUNK_SCHEMA, row-major). ``variable`` selects by name; default
    is the first numeric variable. Column-major storage transposes on the
    executor during decode."""

    implements = {MatlabMat}

    def _read(self, spark, variable: str | None = None, rows_per_chunk: int = 4096, **kwargs):
        url = self.data.url
        variables = _mat_toplevel(url)
        if not variables:
            raise ValueError(f"no variables found in {url}")
        names = [v[0] for v in variables]
        if variable is None:
            pick = variables[0]
        else:
            match = [v for v in variables if v[0] == variable]
            if not match:
                raise KeyError(f"variable {variable!r} not in {names}")
            pick = match[0]
        name, off, nb, compressed = pick
        self.data.metadata.update({"variable": name, "variables": names})
        mdf = local_frame(spark, [(off, nb, compressed)], "off long, nb long, comp boolean")

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import zlib

            import numpy as np

            for pdf in batches:
                for _, r in pdf.iterrows():
                    with open(url, "rb") as f:
                        f.seek(int(r.off))
                        buf = f.read(int(r.nb))
                    if bool(r.comp):
                        buf = zlib.decompress(buf)
                        buf = buf[8:]  # skip the inner miMATRIX tag
                    vname, mxclass, dims, mtype, data = _mat_matrix_info(buf)
                    if mxclass not in _MAT_NUMERIC_CLASSES:
                        raise ValueError(
                            f"variable {vname!r} has class {mxclass} — only "
                            "numeric arrays supported (no cell/struct/sparse/char)"
                        )
                    if mtype not in _MAT_MI_DTYPES:
                        raise ValueError(f"unsupported MAT data type {mtype}")
                    arr = np.frombuffer(data, dtype="<" + _MAT_MI_DTYPES[mtype])
                    arr = arr.reshape(dims, order="F")
                    out = cut_axis0(arr, dims, rows_per_chunk=rows_per_chunk)
                    yield pd.DataFrame(out, columns=CHUNK_SCHEMA.names)

        return map_in_pandas(mdf, decode, schema=CHUNK_SCHEMA)


# ---------------------------------------------------------------------------
# GRIB2 — WMO FM 92 edition-2 messages, stdlib struct + numpy bit-unpack
# (parity: the reference reaches GRIB through cfgrib/xarray,
# XArrayDatasetReader readers.py:1340-1440). Scope: regular lat/lon grids
# (grid template 3.0), simple packing (data template 5.0), no bitmap —
# the bulk of public NWP output (GFS/ERA5 exports).
#
# Scale model: a GRIB file is a concatenation of self-delimiting messages;
# the driver reads only each message's 16-byte indicator to build the
# manifest, and every message decodes on an executor — per-message
# parallelism, the unit the format itself provides.
# ---------------------------------------------------------------------------


class GRIB2(dt.FileData):
    filepattern = r"(grib2?|grb2?)$"
    magic = (b"GRIB",)
    structure = {"array", "hierarchy"}


def _grib_messages(url: str) -> list[tuple[int, int]]:
    """[(offset, length)] of GRIB2 messages — reads 16 bytes per message."""
    out = []
    with open(url, "rb") as f:
        off = 0
        while True:
            f.seek(off)
            head = f.read(16)
            if len(head) < 16:
                break
            if head[:4] != b"GRIB":
                raise ValueError(f"bad GRIB indicator at offset {off}")
            if head[7] != 2:
                raise ValueError(f"GRIB edition {head[7]} not supported (2 only)")
            (total,) = struct.unpack(">Q", head[8:16])
            out.append((off, total))
            off += total
    return out


def _grib_s16(b: bytes) -> int:
    """GRIB signed-magnitude 16-bit: top bit = sign."""
    return _grib_sm(b)


def _grib_s32(b: bytes) -> int:
    """GRIB signed-magnitude 32-bit (La1/Lo1 etc.): top bit = sign —
    NOT two's complement; a southern-hemisphere grid origin decodes to
    garbage through struct '>i'."""
    return _grib_sm(b)


def _grib_sm(b: bytes) -> int:
    """GRIB signed-magnitude integer of any width (top bit = sign)."""
    v = int.from_bytes(b, "big")
    top = 1 << (len(b) * 8 - 1)
    return -(v & (top - 1)) if v & top else v


def _grib_complex_unpack(body: bytes, sec5: dict, np):
    """Section 7 payload for data templates 7.2/7.3 (WMO complex
    packing): NG group references (nbits each), NG group widths, NG
    scaled group lengths, then each group's values at its own width;
    template 7.3 prefixes the stream with the explicit first value(s)
    and the overall minimum of the differences, then integrates the
    spatial differences back. Returns ``(x, miss)``: the scaled
    integers X (the same quantity simple packing unpacks) as float64,
    and — when the template's missing-value management (octet 23) is
    1 or 2 — an int8 array flagging each point 0/1/2 for
    present/primary-missing/secondary-missing (else None).

    Missing-value semantics (WMO regulation 92.9.4, mirrored from the
    public g2clib ``comunpack``): inside a width-``w`` group the
    all-ones code 2**w-1 marks primary missing (2**w-2 secondary when
    management is 2); a width-0 group signals through its REFERENCE
    against the same codes at the reference width ``nbits``; the
    explicit first value(s) and minimum of template 7.3 apply to the
    COMPACTED non-missing sequence, which is integrated and then
    scattered back around the missing slots."""
    n, nbits, ng = sec5["npts"], sec5["nbits"], sec5["ng"]
    data = body[5:]
    pos = 0
    firsts = []
    gmin = 0
    if sec5["tmpl"] == 3:
        ws = sec5["sd_ws"]
        for _ in range(sec5["sd_order"]):
            firsts.append(_grib_sm(data[pos : pos + ws]))
            pos += ws
        gmin = _grib_sm(data[pos : pos + ws])
        pos += ws
    bits = np.unpackbits(np.frombuffer(data[pos:], dtype=np.uint8))
    w = np.flip(2 ** np.arange(64, dtype=np.int64))

    def take(count, width):
        nonlocal bitpos
        if width == 0:
            out = np.zeros(count, dtype=np.int64)
        else:
            seg = bits[bitpos : bitpos + count * width].reshape(count, width)
            out = seg.astype(np.int64) @ w[64 - width :]
            bitpos += count * width
        return out

    def align():
        # WMO 7.2/7.3: the reference/width/length sequences each pad to
        # an octet boundary (g2clib comunpack re-aligns after each) —
        # without this, any ng*bits not divisible by 8 shifts the
        # following sequences and garbles the field
        nonlocal bitpos
        bitpos = (bitpos + 7) & ~7

    bitpos = 0
    grefs = take(ng, nbits)
    align()
    widths = sec5["w_ref"] + take(ng, sec5["w_bits"])
    align()
    lens = sec5["l_ref"] + sec5["l_inc"] * take(ng, sec5["l_bits"])
    align()
    if ng:
        lens[-1] = sec5["l_last"]
    if int(lens.sum()) != n:
        raise ValueError(
            f"GRIB complex packing: group lengths sum to {int(lens.sum())}"
            f", expected {n} points"
        )
    mvm = sec5.get("mvm", 0)

    def integrate(y):
        # template 7.3: add the transmitted minimum, restore the
        # explicit first value(s), then invert the differencing
        # (g2clib comunpack order), vectorized: order 1 is one cumsum;
        # order 2 integrates the first-difference sequence
        # z_i = z_{i-1} + d_i and then y
        order = sec5["sd_order"]
        y = y + gmin
        y[: min(order, len(y))] = firsts[: len(y)]
        if order == 1:
            return np.cumsum(y)
        if len(y) > 2:
            z = np.cumsum(np.concatenate(([y[1] - y[0]], y[2:])))
            return np.concatenate(([y[0]], y[0] + np.cumsum(z)))
        return y

    if not mvm:
        x = np.empty(n, dtype=np.int64)
        o = 0
        for g in range(ng):
            ln, wd = int(lens[g]), int(widths[g])
            x[o : o + ln] = grefs[g] + take(ln, wd)
            o += ln
        if sec5["tmpl"] == 3:
            x = integrate(x)
        return x.astype(np.float64), None

    # missing-value management: decode each group watching for the
    # missing codes, compacting present values (spatial differences
    # are computed over non-missing points only)
    miss = np.zeros(n, dtype=np.int8)
    kept = np.empty(n, dtype=np.int64)
    non = 0
    o = 0
    ref_m1 = (1 << nbits) - 1  # g2clib: width-0 groups signal via gref
    for g in range(ng):
        ln, wd = int(lens[g]), int(widths[g])
        if wd:
            raw = take(ln, wd)
            m1 = (1 << wd) - 1
            is1 = raw == m1
            is2 = (raw == m1 - 1) if mvm == 2 else np.zeros(ln, dtype=bool)
            ok = ~(is1 | is2)
            miss[o : o + ln][is1] = 1
            miss[o : o + ln][is2] = 2
            kv = raw[ok] + grefs[g]
            kept[non : non + kv.size] = kv
            non += kv.size
        else:
            if grefs[g] == ref_m1:
                miss[o : o + ln] = 1
            elif mvm == 2 and grefs[g] == ref_m1 - 1:
                miss[o : o + ln] = 2
            else:
                kept[non : non + ln] = grefs[g]
                non += ln
        o += ln
    y = kept[:non]
    if sec5["tmpl"] == 3:
        y = integrate(y)
    x = np.zeros(n, dtype=np.int64)
    x[miss == 0] = y
    return x.astype(np.float64), miss


def _grib_decode_message(buf: bytes) -> list[dict]:
    """One GRIB2 message → one dict per data field (repeated sections
    3–7 supported): grid geometry, parameter ids, decoded value grid."""
    import numpy as np

    fields = []
    pos = 16
    sec3 = sec4 = sec5 = None
    bitmap = None
    ref_time = ""
    while pos < len(buf) - 4:
        if buf[pos : pos + 4] == b"7777":
            break
        (slen,) = struct.unpack(">I", buf[pos : pos + 4])
        snum = buf[pos + 4]
        body = buf[pos : pos + slen]
        if snum == 1:
            y, mo, d, h, mi, s = struct.unpack(">HBBBBB", body[12:19])
            ref_time = f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}"
        elif snum == 3:
            (tmpl,) = struct.unpack(">H", body[12:14])
            if tmpl in (0, 40):
                # 3.0 regular lat/lon and 3.40 Gaussian (ERA5's native
                # grid) share the layout: basic-angle octets 39-46, so
                # La1/Lo1 sit at octets 47-54
                ni, nj = struct.unpack(">II", body[30:38])
                la1 = _grib_s32(body[46:50])
                lo1 = _grib_s32(body[50:54])
            elif tmpl in (20, 30):
                # 3.20 polar stereographic / 3.30 Lambert conformal
                # (HRRR/NAM): no basic-angle block — La1/Lo1 at 39-46
                ni, nj = struct.unpack(">II", body[30:38])
                la1 = _grib_s32(body[38:42])
                lo1 = _grib_s32(body[42:46])
            else:
                raise ValueError(
                    f"grid definition template 3.{tmpl} not supported "
                    "(lat/lon 3.0, polar-stereo 3.20, Lambert 3.30, "
                    "Gaussian 3.40)"
                )
            sec3 = {"ni": ni, "nj": nj, "lat0": la1 / 1e6,
                    "lon0": lo1 / 1e6, "grid_template": tmpl}
        elif snum == 4:
            (tmpl,) = struct.unpack(">H", body[7:9])
            sec4 = {"template": tmpl, "category": body[9], "parameter": body[10]}
        elif snum == 5:
            (tmpl,) = struct.unpack(">H", body[9:11])
            if tmpl not in (0, 2, 3, 4):
                raise ValueError(
                    f"data representation template 5.{tmpl} not supported "
                    "(simple 5.0 / complex 5.2 / complex+spatial-diff 5.3 "
                    "/ IEEE float 5.4)"
                )
            (npts,) = struct.unpack(">I", body[5:9])
            if tmpl == 4:
                # IEEE floating point (template 5.4): octet 12 is the
                # precision code, section 7 carries raw big-endian floats
                prec_code = body[11]
                if prec_code not in (1, 2):
                    raise ValueError(
                        f"GRIB IEEE precision code {prec_code} (1 = 32-bit"
                        ", 2 = 64-bit)"
                    )
                sec5 = {"tmpl": 4, "npts": npts, "ref": 0.0, "e": 0,
                        "d": 0, "nbits": 0, "ieee": prec_code}
            else:
                (ref,) = struct.unpack(">f", body[11:15])
                e = _grib_s16(body[15:17])
                d = _grib_s16(body[17:19])
                nbits = body[19]
                sec5 = {"tmpl": tmpl, "npts": npts, "ref": ref, "e": e,
                        "d": d, "nbits": nbits}
            if tmpl in (2, 3):
                # complex packing (WMO template 5.2/5.3): values travel
                # as NG groups, each with its own reference and width
                mvm = body[22]
                if mvm not in (0, 1, 2):
                    raise ValueError(
                        f"GRIB missing-value management code {mvm} "
                        "(0 = none, 1 = primary, 2 = primary+secondary)"
                    )
                sec5["mvm"] = mvm
                if mvm:
                    # octets 24-27 / 28-31: substitute values, typed by
                    # octet 21 (0 = IEEE float, 1 = integer) — GFS/NAM
                    # precipitation fields ship 9.999e20 floats here
                    if body[20] == 0:
                        r1 = struct.unpack(">f", body[23:27])[0]
                        r2 = struct.unpack(">f", body[27:31])[0]
                    else:
                        r1 = float(int.from_bytes(body[23:27], "big"))
                        r2 = float(int.from_bytes(body[27:31], "big"))
                    sec5["rmiss1"], sec5["rmiss2"] = r1, r2
                (ng,) = struct.unpack(">I", body[31:35])
                sec5.update(
                    ng=ng,
                    w_ref=body[35], w_bits=body[36],
                    l_ref=struct.unpack(">I", body[37:41])[0],
                    l_inc=body[41],
                    l_last=struct.unpack(">I", body[42:46])[0],
                    l_bits=body[46],
                )
            if tmpl == 3:
                order, ws = body[47], body[48]
                if order not in (1, 2) or ws == 0:
                    raise ValueError(
                        f"GRIB spatial differencing order {order} / "
                        f"descriptor width {ws}"
                    )
                sec5.update(sd_order=order, sd_ws=ws)
        elif snum == 6:
            if body[5] == 0:
                # bitmap applies: bit i set = grid point i has a coded
                # value; unset points take NaN (masked ocean/land grids)
                import numpy as _np

                bitmap = _np.unpackbits(
                    _np.frombuffer(body[6:], dtype=_np.uint8)
                )
            elif body[5] == 254:
                # WMO code 254: re-use the bitmap PREVIOUSLY DEFINED in
                # this same GRIB2 message (repeated sections 4-7) — keep
                # the current one
                if bitmap is None:
                    raise ValueError(
                        "GRIB bitmap indicator 254 but no previously "
                        "defined bitmap in this message"
                    )
            elif body[5] == 255:
                bitmap = None
            else:
                raise ValueError(
                    f"GRIB bitmap indicator {body[5]} not supported "
                    "(0 = bitmap present, 254 = previously defined, "
                    "255 = none; predefined bitmaps 1-253 need "
                    "out-of-band centre tables)"
                )
        elif snum == 7:
            if sec3 is None or sec5 is None:
                raise ValueError("data section before grid/representation sections")
            n, nbits = sec5["npts"], sec5["nbits"]
            miss = None
            if sec5["tmpl"] == 4:
                dt_ = ">f4" if sec5["ieee"] == 1 else ">f8"
                x = np.frombuffer(body, dtype=dt_, count=n,
                                  offset=5).astype(np.float64)
            elif sec5["tmpl"] in (2, 3):
                x, miss = _grib_complex_unpack(body, sec5, np)
            elif nbits == 0:
                x = np.zeros(n)
            else:
                bits = np.unpackbits(np.frombuffer(body[5:], dtype=np.uint8))
                bits = bits[: n * nbits].reshape(n, nbits)
                weights = (1 << np.arange(nbits - 1, -1, -1)).astype(np.float64)
                x = bits @ weights
            vals = (sec5["ref"] + x * (2.0 ** sec5["e"])) / (10.0 ** sec5["d"])
            if miss is not None:
                # missing-managed points take the substitute values the
                # message itself transmits (template octets 24-31) —
                # what wgrib2/g2clib emit for GFS precip/soil fields
                vals[miss == 1] = sec5["rmiss1"]
                vals[miss == 2] = sec5["rmiss2"]
            if bitmap is not None:
                # sec5 npts counts CODED points; scatter them onto the
                # grid, NaN where the bitmap is unset (WMO section 6)
                grid_n = sec3["ni"] * sec3["nj"]
                bm = bitmap[:grid_n].astype(bool)
                if int(bm.sum()) != n:
                    raise ValueError(
                        f"GRIB bitmap marks {int(bm.sum())} points but "
                        f"section 5 codes {n}"
                    )
                full = np.full(grid_n, np.nan)
                full[bm] = vals
                vals = full
            fields.append(
                {
                    **sec3,
                    **(sec4 or {"template": -1, "category": -1, "parameter": -1}),
                    "ref_time": ref_time,
                    "values": vals,
                }
            )
        pos += slen
    return fields


_GRIB_SCHEMA = T.StructType(
    [
        T.StructField("msg_id", T.IntegerType()),
        T.StructField("category", T.IntegerType()),
        T.StructField("parameter", T.IntegerType()),
        T.StructField("ref_time", T.StringType()),
        T.StructField("ni", T.IntegerType()),
        T.StructField("nj", T.IntegerType()),
        T.StructField("lat0", T.DoubleType()),
        T.StructField("lon0", T.DoubleType()),
        T.StructField("values", T.ArrayType(T.DoubleType())),
    ]
)


def dicom_bytes(frames, transfer_syntax: str = "1.2.840.10008.1.2.1") -> bytes:
    """One DICOM Part-10 file (fixture-grade but conformant writer) from
    a list of 2-D numpy frames: 128-byte preamble + DICM, explicit-VR
    file meta group, the image-pixel module elements, and PixelData —
    native little-endian for Explicit VR Little Endian (1.2.840.10008.
    1.2.1) or encapsulated (BOT item + one even-length item per frame +
    sequence delimiter, PS3.5 A.4) with per-frame JPEG-LS lossless
    payloads for 1.2.840.10008.1.2.4.80.

    Exists so the REAL DicomReader executor path can be driven
    end-to-end by registered queries (q136) — the round-trip-prover
    role encode_grib2_complex plays for GRIB2."""
    import numpy as np

    frames = [np.asarray(f) for f in frames]
    h, w = frames[0].shape[:2]
    if any(f.shape != frames[0].shape for f in frames):
        raise ValueError("dicom_bytes: frames must share one shape")
    spp = 1 if frames[0].ndim == 2 else frames[0].shape[2]
    maxv = max(int(f.max()) if f.size else 0 for f in frames)
    bits = 8 if maxv < 256 else 16

    def el_short(group, elem, vr, val: bytes) -> bytes:
        if len(val) % 2:
            # PS3.5: string VRs pad with SPACE, UI (and binary) with NUL
            val += b"\x00" if vr in (b"UI", b"UL", b"US") else b" "
        return struct.pack("<HH2sH", group, elem, vr, len(val)) + val

    def el_long(group, elem, vr, val: bytes) -> bytes:
        # explicit-VR long form (OB/OW/...): 2 reserved bytes + 4-byte len
        if len(val) % 2:
            val += b"\x00"
        return struct.pack("<HH2sHI", group, elem, vr, 0, len(val)) + val

    # SOP Class: Secondary Capture Image Storage (PS3.6 standard UID);
    # SOP Instance: the registration-free "2.25." + decimal-UUID form
    # (ITU-T X.667 / PS3.5 B.2), derived deterministically from the pixel
    # content so repeated writes of the same frames are byte-identical.
    import uuid as _uuid

    sop_class = b"1.2.840.10008.5.1.4.1.1.7"
    content_id = _uuid.uuid5(
        _uuid.NAMESPACE_URL,
        "intake-spark-dicom:" + ",".join(
            str(int(x)) for f in frames for x in f.ravel()[:64]
        ) + f":{h}x{w}x{len(frames)}:{transfer_syntax}",
    )
    sop_inst = f"2.25.{content_id.int}".encode()

    # file meta group (PS3.10 7.1): mandatory (0002,0001..0003,0010),
    # ascending element order, group length first
    meta = el_long(0x0002, 0x0001, b"OB", b"\x00\x01")
    meta += el_short(0x0002, 0x0002, b"UI", sop_class)
    meta += el_short(0x0002, 0x0003, b"UI", sop_inst)
    meta += el_short(0x0002, 0x0010, b"UI", transfer_syntax.encode())
    meta = el_short(0x0002, 0x0000, b"UL", struct.pack("<I", len(meta))) + meta
    ds = el_short(0x0008, 0x0016, b"UI", sop_class)
    ds += el_short(0x0008, 0x0018, b"UI", sop_inst)
    ds += el_short(0x0008, 0x0060, b"CS", b"OT")
    ds += el_short(0x0028, 0x0002, b"US", struct.pack("<H", spp))
    if len(frames) > 1:
        ds += el_short(0x0028, 0x0008, b"IS", str(len(frames)).encode())
    ds += el_short(0x0028, 0x0010, b"US", struct.pack("<H", h))
    ds += el_short(0x0028, 0x0011, b"US", struct.pack("<H", w))
    ds += el_short(0x0028, 0x0100, b"US", struct.pack("<H", bits))
    ds += el_short(0x0028, 0x0103, b"US", struct.pack("<H", 0))
    if transfer_syntax == "1.2.840.10008.1.2.1":
        dt_ = "<u1" if bits == 8 else "<u2"
        payload = b"".join(f.astype(dt_).tobytes() for f in frames)
        if len(payload) % 2:
            payload += b"\x00"
        vr = b"OB" if bits == 8 else b"OW"
        ds += struct.pack("<HH2sHI", 0x7FE0, 0x0010, vr, 0, len(payload))
        ds += payload
    elif transfer_syntax == "1.2.840.10008.1.2.4.80":
        from intake_spark.llm.jpegls import encode_jpegls

        ds += struct.pack("<HH2sHI", 0x7FE0, 0x0010, b"OB", 0, 0xFFFFFFFF)
        ds += struct.pack("<HHI", 0xFFFE, 0xE000, 0)  # empty BOT
        for f in frames:
            blob = encode_jpegls(f)
            if len(blob) % 2:
                blob += b"\x00"
            ds += struct.pack("<HHI", 0xFFFE, 0xE000, len(blob)) + blob
        ds += struct.pack("<HHI", 0xFFFE, 0xE0DD, 0)  # sequence delimiter
    else:
        raise ValueError(
            f"dicom_bytes: transfer syntax {transfer_syntax} not supported "
            "(Explicit VR LE 1.2.840.10008.1.2.1, JPEG-LS lossless .4.80)"
        )
    return b"\x00" * 128 + b"DICM" + meta + ds


def encode_grib2_complex(values, e: int = 0, d: int = 0,
                         group_len: int = 10, sd_order: int = 0,
                         sd_ws: int = 3, mvm: int = 0, miss1=None,
                         rmiss: float = 9.999e20,
                         category: int = 0, parameter: int = 0) -> bytes:
    """One GRIB2 message (fixture-grade but conformant encoder) carrying
    ``values`` (2-D, row-major) under complex packing — template 5.2, or
    5.3 with spatial differencing when ``sd_order`` is 1/2 — optionally
    with primary missing-value management (``mvm=1`` + boolean ``miss1``
    mask, substitute ``rmiss``).

    Exists so the REAL decode path (:func:`_grib_decode_message`, the
    GRIB2Reader executor stage) can be driven end-to-end by registered
    queries and sinks with a full-value oracle — the same
    round-trip-prover role encode_vorbis/encode_jpegls play for their
    decoders. The independent test-suite builder in tests/test_grib2.py
    stays the decoder's adversarial validator."""
    import numpy as np

    vals = np.asarray(values)
    nj, ni = vals.shape
    n = vals.size
    flat = vals.ravel()
    m1 = (np.zeros(n, dtype=bool) if miss1 is None
          else np.asarray(miss1).ravel().astype(bool))
    if m1.any() and not mvm:
        raise ValueError("missing mask given but mvm=0")
    present = ~m1
    scaled = flat[present] * (10.0 ** d)
    ref = float(scaled.min()) if scaled.size else 0.0
    xs_p = np.rint((scaled - ref) / (2.0 ** e)).astype(np.int64)
    firsts = b""

    def sm(v: int, width: int) -> bytes:
        top = 1 << (width * 8 - 1)
        return ((top | -v) if v < 0 else v).to_bytes(width, "big")

    if sd_order:
        orig = xs_p.copy()
        diffs = xs_p.copy()
        if sd_order == 1:
            diffs[1:] = orig[1:] - orig[:-1]
        elif sd_order == 2:
            diffs[2:] = orig[2:] - 2 * orig[1:-1] + orig[:-2]
        else:
            raise ValueError(f"spatial differencing order {sd_order}")
        gmin = int(diffs[sd_order:].min()) if xs_p.size > sd_order else 0
        stream = diffs.copy()
        stream[sd_order:] -= gmin
        stream[: min(sd_order, len(stream))] = 0
        k = min(sd_order, orig.size)
        firsts = b"".join(sm(int(orig[i]), sd_ws) for i in range(k))
        firsts += sm(0, sd_ws) * (sd_order - k)
        firsts += sm(gmin, sd_ws)
        xs_p = stream
    # grid-order stream with -1 marking missing slots (difference-coded
    # values are >= 0 by construction: minima subtracted)
    xs = np.empty(n, dtype=np.int64)
    xs[present] = xs_p
    xs[m1] = -1
    groups = [xs[i: i + group_len] for i in range(0, n, group_len)]

    grefs, widths, payloads = [], [], []
    for g in groups:
        pres = g[g >= 0]
        if mvm and not pres.size:
            grefs.append("M1")
            widths.append(0)
            payloads.append([])
            continue
        gref = int(pres.min()) if pres.size else 0
        maxd = int((pres - gref).max()) if pres.size else 0
        if mvm:
            w = 1
            while (1 << w) - 1 - mvm < maxd:
                w += 1
        else:
            w = maxd.bit_length()
        grefs.append(gref)
        widths.append(w)
        row = []
        if w:
            marker = (1 << w) - 1
            for v in g:
                row.append(marker if v < 0 else int(v) - gref)
        payloads.append(row)

    real = [g for g in grefs if not isinstance(g, str)]
    nbits = max((int(g).bit_length() for g in real), default=1) or 1
    if mvm:
        nbits = max(nbits, 2)
        while (1 << nbits) - 1 - mvm < max(real, default=0):
            nbits += 1
    ref_marker = (1 << nbits) - 1
    grefs = [ref_marker if g == "M1" else g for g in grefs]
    w_bits = max(w.bit_length() for w in widths) or 1
    l_bits = max(group_len.bit_length(), 1)
    ng = len(groups)

    # ---- sections ----
    sec1 = (struct.pack(">IB", 21, 1)
            + struct.pack(">HHBBB", 7, 0, 2, 1, 1)
            + struct.pack(">HBBBBB", 2026, 1, 1, 0, 0, 0)
            + bytes([0, 1]))
    sec3 = (struct.pack(">IBB", 72, 3, 0)
            + struct.pack(">I", n) + bytes([0, 0])
            + struct.pack(">H", 0)      # grid template 3.0
            + bytes(16)                  # shape of earth
            + struct.pack(">II", ni, nj)
            + struct.pack(">II", 0, 0)
            + struct.pack(">ii", 40_000_000, 250_000_000)
            + bytes([48]) + struct.pack(">ii", 0, 0)
            + struct.pack(">II", 1_000_000, 1_000_000) + bytes([0]))
    sec4 = (struct.pack(">IB", 34, 4) + struct.pack(">HH", 0, 0)
            + bytes([category, parameter]) + bytes(23))
    subst = (struct.pack(">ff", rmiss, 0.0) if mvm else bytes(8))
    sec5 = (struct.pack(">IB", 49 if sd_order else 47, 5)
            + struct.pack(">I", n)
            + struct.pack(">H", 3 if sd_order else 2)
            + struct.pack(">f", ref)
            + struct.pack(">HH", e if e >= 0 else (0x8000 | -e),
                          d if d >= 0 else (0x8000 | -d))
            + bytes([nbits, 0])          # octets 20-21 (orig type float)
            + bytes([1, mvm])            # split method / missing mgmt
            + subst
            + struct.pack(">I", ng)
            + bytes([0, w_bits])
            + struct.pack(">I", 0) + bytes([1])
            + struct.pack(">I", len(groups[-1])) + bytes([l_bits])
            + (bytes([sd_order, sd_ws]) if sd_order else b""))
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])

    bits: list[int] = []

    def put(v, width):
        bits.extend((int(v) >> (width - 1 - i)) & 1 for i in range(width))

    def pad():
        while len(bits) % 8:
            bits.append(0)

    for g in grefs:
        put(g, nbits)
    pad()
    for w in widths:
        put(w, w_bits)
    pad()
    for g in groups:
        put(len(g), l_bits)
    pad()
    for row, w in zip(payloads, widths):
        for v in row:
            put(v, w)
    pad()
    payload = bytes(sum(b << (7 - i) for i, b in enumerate(bits[k: k + 8]))
                    for k in range(0, len(bits), 8))
    sec7 = struct.pack(">IB", 5 + len(firsts) + len(payload), 7)
    sec7 += firsts + payload
    body = sec1 + sec3 + sec4 + sec5 + sec6 + sec7 + b"7777"
    return b"GRIB\x00\x00\x00\x02" + struct.pack(">Q", 16 + len(body)) + body


class GRIB2Reader(BaseReader):
    """GRIB2 → one row per data field: parameter ids, reference time, grid
    geometry and the decoded value grid (row-major, nj×ni flattened).
    Messages decode on executors from the indicator-scan manifest."""

    implements = {GRIB2}

    def _read(self, spark, **kwargs):
        url = self.data.url
        manifest = _grib_messages(url)
        if not manifest:
            return local_frame(spark, [], _GRIB_SCHEMA)
        mdf = local_frame(
            spark, [(i, off, ln) for i, (off, ln) in enumerate(manifest)],
            "msg_id int, msg_off long, msg_len long",
        )
        if len(manifest) > 1:
            mdf = mdf.repartition(min(len(manifest), spark.sparkContext.defaultParallelism))

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            with open(url, "rb") as fh:
                for pdf in batches:
                    rows = []
                    for _, r in pdf.iterrows():
                        fh.seek(int(r["msg_off"]))
                        buf = fh.read(int(r["msg_len"]))
                        for fld in _grib_decode_message(buf):
                            rows.append(
                                {
                                    "msg_id": int(r["msg_id"]),
                                    "category": fld["category"],
                                    "parameter": fld["parameter"],
                                    "ref_time": fld["ref_time"],
                                    "ni": fld["ni"],
                                    "nj": fld["nj"],
                                    "lat0": fld["lat0"],
                                    "lon0": fld["lon0"],
                                    "values": fld["values"].tolist(),
                                }
                            )
                    yield pd.DataFrame(
                        rows,
                        columns=[
                            "msg_id", "category", "parameter", "ref_time",
                            "ni", "nj", "lat0", "lon0", "values",
                        ],
                    )

        return map_in_pandas(mdf, decode, schema=_GRIB_SCHEMA)


# ---------------------------------------------------------------------------
# NRRD — "nearly raw raster data": text header + raw/gzip payload
# (parity: NRRDReader, reference readers.py:3519, which needs pynrrd).
# Raw encoding reuses the executor byte-range chunk decode; gzip decodes
# in one executor task (the stream is not splittable).
# ---------------------------------------------------------------------------


class NRRD(dt.FileData):
    filepattern = r"nrrd$"
    magic = (b"NRRD",)
    structure = {"array"}


_NRRD_TYPES = {
    "signed char": "i1", "int8": "i1", "int8_t": "i1",
    "uchar": "u1", "unsigned char": "u1", "uint8": "u1", "uint8_t": "u1",
    "short": "i2", "int16": "i2", "int16_t": "i2",
    "ushort": "u2", "uint16": "u2", "uint16_t": "u2",
    "int": "i4", "int32": "i4", "int32_t": "i4",
    "uint": "u4", "uint32": "u4", "uint32_t": "u4",
    "longlong": "i8", "int64": "i8", "int64_t": "i8",
    "float": "f4", "double": "f8",
}


def _nrrd_header(f) -> tuple[dict, int]:
    magic = f.readline()
    if not magic.startswith(b"NRRD"):
        raise ValueError("not a NRRD file")
    fields: dict[str, str] = {}
    while True:
        line = f.readline()
        if line in (b"\n", b"\r\n", b""):
            break
        if line.startswith(b"#"):
            continue
        text = line.decode("ascii", errors="replace").strip()
        if ": " in text:
            k, _, v = text.partition(": ")
            fields[k.lower()] = v
        elif ":=" in text:
            k, _, v = text.partition(":=")
            fields[k.lower()] = v
    return fields, f.tell()


class NRRDReader(BaseReader):
    """NRRD → chunk-row DataFrame. Header parses driver-side; ``raw``
    encoding decodes on executors via the shared byte-range manifest,
    ``gzip`` in a single executor task (non-splittable stream)."""

    implements = {NRRD}

    def _read(self, spark, rows_per_chunk: int = 1024, **kwargs):
        url = self.data.url
        with open(url, "rb") as f:
            fields, data_off = _nrrd_header(f)
        if "data file" in fields or "datafile" in fields:
            raise ValueError("detached NRRD data files not supported")
        tkey = fields.get("type", "")
        if tkey not in _NRRD_TYPES:
            raise ValueError(f"unsupported NRRD type {tkey!r}")
        base = _NRRD_TYPES[tkey]
        endian = fields.get("endian", "little")
        dtype = (">" if endian == "big" else "<") + base if base[1] != "1" else base
        sizes = [int(s) for s in fields["sizes"].split()]
        # NRRD sizes list the FASTEST axis first → row-major shape reverses
        shape = sizes[::-1]
        enc = fields.get("encoding", "raw")
        self.data.metadata.update({"fields": fields, "shape": shape})
        if enc == "raw":
            return byte_range_df(spark, url, dtype, shape, data_off, rows_per_chunk)
        if enc in ("gz", "gzip"):
            return _inflated_chunk_df(
                spark, url, dtype, shape, data_off, rows_per_chunk, "gzip"
            )
        raise ValueError(f"unsupported NRRD encoding {enc!r} (raw/gzip only)")


# ---------------------------------------------------------------------------
# DICOM — Part 10 files, stdlib element walk (parity: DicomReader,
# reference readers.py:1644, which delegates to pydicom). Scope:
# uncompressed little-endian transfer syntaxes (implicit 1.2.840.10008.1.2
# and explicit .1.2.1); compressed pixel data (JPEG/RLE syntaxes) raises a
# clear error naming the gate. The element walk locates PixelData and the
# geometry tags; pixels decode on executors via the shared byte-range
# manifest.
# ---------------------------------------------------------------------------

_DICOM_LONG_VRS = {b"OB", b"OW", b"OF", b"OL", b"OD", b"SQ", b"UC", b"UR", b"UT", b"UN"}


def _dicom_walk(f, explicit: bool, stop_group: int | None = None):
    """Yield (group, element, value_offset, length, VR) until EOF or a
    group past ``stop_group``; descends past undefined-length sequences."""
    import struct as st

    while True:
        head = f.read(8)
        if len(head) < 8:
            return
        group, elem = st.unpack("<HH", head[:4])
        if stop_group is not None and group > stop_group:
            f.seek(-8, 1)
            return
        if group == 0xFFFE:  # item/delimiter inside sequences
            (ln,) = st.unpack("<I", head[4:8])
            if elem in (0xE00D, 0xE0DD):
                continue
            if ln != 0xFFFFFFFF:
                f.seek(ln, 1)
            continue
        if explicit:
            vr = head[4:6]
            if vr in _DICOM_LONG_VRS:
                (ln,) = st.unpack("<I", f.read(4))
            else:
                (ln,) = st.unpack("<H", head[6:8])
        else:
            vr = b"UN"
            (ln,) = st.unpack("<I", head[4:8])
        if ln == 0xFFFFFFFF:  # undefined length: walk nested items
            yield group, elem, f.tell(), -1, vr
            continue
        yield group, elem, f.tell(), ln, vr
        f.seek(ln, 1)


def _dicom_meta(url: str) -> dict:
    """Parse the Part 10 meta group + dataset tags needed for pixel decode."""
    import struct as st

    out: dict = {"tags": {}}
    with open(url, "rb") as f:
        f.seek(128)
        if f.read(4) != b"DICM":
            raise ValueError("not a DICOM Part 10 file (no DICM marker)")
        transfer = "1.2.840.10008.1.2.1"
        for group, elem, off, ln, vr in _dicom_walk(f, explicit=True, stop_group=0x0002):
            if (group, elem) == (0x0002, 0x0010) and ln > 0:
                pos = f.tell()
                f.seek(off)
                transfer = f.read(ln).rstrip(b"\x00").decode("ascii")
                f.seek(pos)
        if transfer == "1.2.840.10008.1.2":
            explicit = False
        elif transfer == "1.2.840.10008.1.2.1" or transfer in _DICOM_ENCAPSULATED:
            explicit = True  # encapsulated syntaxes are explicit VR
        else:
            raise ValueError(
                f"transfer syntax {transfer} not supported (uncompressed "
                "little-endian, RLE Lossless, JPEG Baseline, JPEG Lossless "
                "P14/SV1, JPEG-LS, and JPEG 2000 lossless all decode "
                "natively; remaining: HTJ2K and the retired big-endian "
                "syntaxes)"
            )
        out["transfer"] = transfer
        want_text = {
            (0x0008, 0x0060): "modality",
            (0x0010, 0x0010): "patient_name",
            (0x0010, 0x0020): "patient_id",
        }
        for group, elem, off, ln, vr in _dicom_walk(f, explicit=explicit):
            tag = (group, elem)
            if tag == (0x7FE0, 0x0010):
                if ln < 0:
                    if transfer not in _DICOM_ENCAPSULATED:
                        raise ValueError(
                            "encapsulated (undefined-length) PixelData with "
                            f"an uncompressed transfer syntax {transfer}"
                        )
                    out["fragments"] = _dicom_fragments(f, off)
                else:
                    if transfer in _DICOM_ENCAPSULATED:
                        # PS3.5 A.4: compressed syntaxes MUST encapsulate;
                        # a defined-length PixelData here would silently
                        # reinterpret compressed bytes as raw samples
                        raise ValueError(
                            "defined-length PixelData with compressed "
                            f"transfer syntax {transfer} is nonconformant "
                            "(PS3.5 A.4 requires encapsulation)"
                        )
                    out["pixel_off"], out["pixel_len"] = off, ln
                break
            if ln < 0 or ln > 1 << 20:
                continue
            pos = f.tell()
            f.seek(off)
            raw = f.read(ln)
            f.seek(pos)
            if tag in want_text:
                out["tags"][want_text[tag]] = raw.rstrip(b"\x00 ").decode(
                    "ascii", errors="replace"
                )
            elif group == 0x0028 and elem in (0x0002, 0x0008, 0x0010, 0x0011, 0x0100, 0x0103):
                val = int.from_bytes(raw[:2], "little") if len(raw) >= 2 else 0
                key = {
                    0x0002: "samples_per_pixel", 0x0008: "number_of_frames",
                    0x0010: "rows", 0x0011: "cols",
                    0x0100: "bits_allocated", 0x0103: "pixel_representation",
                }[elem]
                if elem == 0x0008:  # IS (text) value
                    try:
                        val = int(raw.strip(b"\x00 ").decode("ascii") or 1)
                    except ValueError:
                        val = 1
                out["tags"][key] = val
    if "pixel_off" not in out and "fragments" not in out:
        raise ValueError("no PixelData element found")
    return out


_DICOM_RLE = "1.2.840.10008.1.2.5"
_DICOM_JPEG_BASELINE = "1.2.840.10008.1.2.4.50"
_DICOM_JPEG_EXTENDED = "1.2.840.10008.1.2.4.51"    # JPEG Extended (12-bit SOF1)
_DICOM_JPEG_LS = "1.2.840.10008.1.2.4.80"          # JPEG-LS Lossless
_DICOM_JPEG_LS_NEAR = "1.2.840.10008.1.2.4.81"     # JPEG-LS Near-Lossless
_DICOM_JPEG_LOSSLESS = "1.2.840.10008.1.2.4.57"    # JPEG Lossless P14
_DICOM_JPEG_LOSSLESS_SV1 = "1.2.840.10008.1.2.4.70"  # JPEG Lossless P14 SV1
_DICOM_J2K_LOSSLESS = "1.2.840.10008.1.2.4.90"     # JPEG 2000 Lossless only
_DICOM_J2K = "1.2.840.10008.1.2.4.91"              # JPEG 2000 (may be lossy)
# encapsulated syntaxes this package decodes with its OWN codecs
_DICOM_ENCAPSULATED = (
    _DICOM_RLE, _DICOM_JPEG_BASELINE, _DICOM_JPEG_EXTENDED,
    _DICOM_JPEG_LS, _DICOM_JPEG_LS_NEAR,
    _DICOM_JPEG_LOSSLESS, _DICOM_JPEG_LOSSLESS_SV1,
    _DICOM_J2K_LOSSLESS, _DICOM_J2K,
)


def _dicom_fragments(f, items_off: int) -> list[tuple[int, int]]:
    """Encapsulated PixelData item walk (PS3.5 §A.4): the first item is
    the Basic Offset Table (skipped — fragment offsets are re-derived
    from the items themselves), each following item is one fragment,
    terminated by a Sequence Delimitation Item. Returns [(offset, length)]
    per fragment."""
    import struct as st

    f.seek(items_off)
    frags: list[tuple[int, int]] = []
    first = True
    while True:
        head = f.read(8)
        if len(head) < 8:
            raise ValueError("truncated encapsulated PixelData")
        group, elem, ln = st.unpack("<HHI", head)
        if (group, elem) == (0xFFFE, 0xE0DD):
            break
        if (group, elem) != (0xFFFE, 0xE000):
            raise ValueError(
                f"unexpected tag ({group:04x},{elem:04x}) in encapsulated PixelData"
            )
        if first:
            first = False  # Basic Offset Table
            f.seek(ln, 1)
            continue
        frags.append((f.tell(), ln))
        f.seek(ln, 1)
    return frags


def _dicom_rle_decode(blob: bytes, rows: int, cols: int, bits: int, spp: int, signed: bool):
    """DICOM RLE Lossless frame (PS3.5 Annex G): 64-byte header of
    uint32 segment count + 15 offsets; each segment is a PackBits-coded
    byte plane, MSB plane first per sample, samples in order. Planes
    recompose into (rows, cols[, spp])."""
    import struct as st

    import numpy as np

    if len(blob) < 64:
        raise ValueError(
            f"RLE fragment truncated: {len(blob)} bytes, 64-byte header needed"
        )
    counts = st.unpack("<16I", blob[:64])
    n_seg = counts[0]
    bytes_per = bits // 8
    if n_seg != spp * bytes_per:
        raise ValueError(
            f"RLE segment count {n_seg} != samples {spp} x {bytes_per} bytes"
        )
    offsets = list(counts[1 : 1 + n_seg]) + [len(blob)]
    planes = []
    for i in range(n_seg):
        seg = packbits_decode(blob[offsets[i] : offsets[i + 1]])
        if len(seg) < rows * cols:
            raise ValueError(f"RLE segment {i} short: {len(seg)} < {rows * cols}")
        planes.append(np.frombuffer(seg[: rows * cols], dtype=np.uint8))
    samples = []
    for s in range(spp):
        acc = np.zeros(rows * cols, dtype=np.uint32)
        for b in range(bytes_per):  # MSB plane first
            acc = (acc << 8) | planes[s * bytes_per + b]
        if bits == 16:
            acc = acc.astype(np.uint16)
            if signed:
                acc = acc.view(np.int16)
        else:
            acc = acc.astype(np.uint8)
            if signed:
                acc = acc.view(np.int8)
        samples.append(acc.reshape(rows, cols))
    if spp == 1:
        return samples[0]
    return np.stack(samples, axis=-1)


class DicomReader(BaseReader):
    """DICOM → pixel chunk rows (arrays.CHUNK_SCHEMA) + tag metadata,
    stdlib-only for uncompressed little-endian files; the compressed
    transfer syntaxes that genuinely need pydicom's codec plugins raise
    with that gate named. Pixels decode on executors via byte ranges."""

    implements = {DICOM}

    def _read(self, spark, rows_per_chunk: int = 256, **kwargs):
        url = self.data.url
        meta = _dicom_meta(url)
        t = meta["tags"]
        rows, cols = t.get("rows", 0), t.get("cols", 0)
        if not rows or not cols:
            raise ValueError("DICOM lacks Rows/Columns tags")
        bits = t.get("bits_allocated", 16)
        if bits not in (8, 16):
            raise ValueError(f"BitsAllocated {bits} not supported (8/16)")
        signed = t.get("pixel_representation", 0) == 1
        spp = t.get("samples_per_pixel", 1)
        frames = t.get("number_of_frames", 1)
        dtype = ("<" if bits == 16 else "") + ("i" if signed else "u") + str(bits // 8)
        shape = [rows, cols] if spp == 1 else [rows, cols, spp]
        if frames > 1:
            shape = [frames] + shape
        self.data.metadata.update({**t, "transfer_syntax": meta["transfer"]})
        if "fragments" in meta:
            return self._read_encapsulated(spark, url, meta, t, shape)
        return byte_range_df(
            spark, url, dtype, shape, meta["pixel_off"], rows_per_chunk
        )

    def _read_encapsulated(self, spark, url: str, meta: dict, t: dict, shape):
        """RLE-Lossless / JPEG-Baseline / JPEG-LS frames: one fragment
        per frame (the PS3.5 rule for RLE; multi-fragment JPEG frames
        raise, named), decoded executor-side from a byte-range manifest
        with the package's OWN codecs (packbits / baseline-JPEG DCT /
        T.87 LOCO-I, llm/jpegls.py) — no external codec plugins."""
        transfer = meta["transfer"]
        frames = t.get("number_of_frames", 1)
        frags = meta["fragments"]
        merge = frames == 1 and len(frags) > 1
        if len(frags) != frames and not merge:
            # PS3.5 A.4 allows splitting ONE frame across fragments (the
            # single-frame case is unambiguous and merged below); a
            # multi-frame file without 1:1 fragmentation would need the
            # Basic Offset Table to attribute fragments to frames
            raise ValueError(
                f"{len(frags)} pixel fragments for {frames} frames — "
                "multi-fragment MULTI-frame files not supported "
                "(re-encapsulate 1:1)"
            )
        rows, cols = t.get("rows", 0), t.get("cols", 0)
        bits = t.get("bits_allocated", 16)
        spp = t.get("samples_per_pixel", 1)
        signed = t.get("pixel_representation", 0) == 1
        import json as _json

        if merge:  # all fragments concatenate into the single frame
            manifest = [(0, _json.dumps(frags))]
        else:
            manifest = [
                (i, _json.dumps([[off, nb]]))
                for i, (off, nb) in enumerate(frags)
            ]
        mdf = local_frame(spark, manifest, "frame long, frags string")
        multi = frames > 1
        # the driver-validated per-frame shape: every decoded frame is
        # cross-checked against it (an spp mismatch between the tags and
        # the JPEG stream would otherwise pass silently — only rows/cols
        # were compared before)
        exp_frame = tuple(shape[1:]) if multi else tuple(shape)

        def decode(batches):
            import json as _j

            import numpy as np  # noqa: F401
            import pandas as pd_

            from intake_spark.sci import _dicom_rle_decode

            for pdf in batches:
                out = []
                with open(url, "rb") as f:
                    for _, r in pdf.iterrows():
                        blob = b""
                        for off, nb in _j.loads(r.frags):
                            f.seek(int(off))
                            blob += f.read(int(nb))
                        if transfer == _DICOM_RLE:
                            arr = _dicom_rle_decode(blob, rows, cols, bits, spp, signed)
                        elif transfer in (_DICOM_JPEG_LS, _DICOM_JPEG_LS_NEAR):
                            from intake_spark.llm.jpegls import decode_jpegls

                            arr = decode_jpegls(blob)
                            if signed and arr.dtype == np.uint16:
                                arr = arr.view(np.int16)
                            elif signed and arr.dtype == np.uint8:
                                arr = arr.view(np.int8)
                        elif transfer in (
                            _DICOM_JPEG_LOSSLESS, _DICOM_JPEG_LOSSLESS_SV1
                        ):
                            from intake_spark.llm.multimodal import (
                                decode_jpeg_lossless,
                            )

                            arr = decode_jpeg_lossless(blob)
                            if signed and arr.dtype == np.uint16:
                                arr = arr.view(np.int16)
                            elif signed and arr.dtype == np.uint8:
                                arr = arr.view(np.int8)
                        elif transfer in (_DICOM_J2K_LOSSLESS, _DICOM_J2K):
                            from intake_spark.llm.jpeg2000 import (
                                decode_jpeg2000,
                            )

                            # .90 lossless (5/3) and .91 incl. lossy (9/7 +
                            # quantized QCD) both decode natively
                            arr = decode_jpeg2000(blob)
                            if signed and arr.dtype == np.uint16:
                                arr = arr.view(np.int16)
                            elif signed and arr.dtype == np.uint8:
                                arr = arr.view(np.int8)
                        else:
                            # .4.50 baseline (SOF0) and .4.51 extended
                            # (SOF1, 12-bit) through the same DCT decoder
                            from intake_spark.llm.multimodal import decode_jpeg

                            arr = decode_jpeg(blob)
                            if signed and arr.dtype == np.uint16:
                                arr = arr.view(np.int16)
                            elif signed and arr.dtype == np.uint8:
                                arr = arr.view(np.int8)
                        if tuple(arr.shape) != exp_frame:
                            raise ValueError(
                                f"decoded frame shape {tuple(arr.shape)} != "
                                f"tag-declared {exp_frame}"
                            )
                        out += cut_axis0(arr, shape, r.frame if multi else 0, r.frame)
                yield pd_.DataFrame(out, columns=CHUNK_SCHEMA.names)

        return map_in_pandas(mdf, decode, schema=CHUNK_SCHEMA)


# ---------------------------------------------------------------------------
# LAS — ASPRS lidar point clouds (parity: LASReader, reference
# readers.py:2344, which needs laspy). Fixed-size point records make this
# the textbook byte-range format: the driver reads one header, executors
# decode disjoint record ranges with a numpy structured dtype — a
# billion-point tile fans out with zero driver traffic.
# Point formats 0-3 (core + GPS time + RGB), LAS 1.0-1.4 headers.
# ---------------------------------------------------------------------------


class LAS(dt.FileData):
    filepattern = r"las$"
    magic = (b"LASF",)
    structure = {"table"}


_LAS_FIELDS = {
    0: [("X", "<i4"), ("Y", "<i4"), ("Z", "<i4"), ("intensity", "<u2"),
        ("flags", "u1"), ("classification", "u1"), ("scan_angle", "i1"),
        ("user_data", "u1"), ("point_source_id", "<u2")],
}
_LAS_FIELDS[1] = _LAS_FIELDS[0] + [("gps_time", "<f8")]
_LAS_FIELDS[2] = _LAS_FIELDS[0] + [("red", "<u2"), ("green", "<u2"), ("blue", "<u2")]
_LAS_FIELDS[3] = _LAS_FIELDS[1] + [("red", "<u2"), ("green", "<u2"), ("blue", "<u2")]


def _las_header(f) -> dict:
    f.seek(0)
    raw = f.read(375)
    if raw[:4] != b"LASF":
        raise ValueError("not a LAS file")
    major, minor = raw[24], raw[25]
    (point_off,) = struct.unpack("<I", raw[96:100])
    fmt = raw[104] & 0x3F  # high bits flag internal compression (LAZ)
    if raw[104] & 0xC0:
        raise ValueError("LAZ (compressed LAS) not supported — decompress first")
    (rec_len,) = struct.unpack("<H", raw[105:107])
    (n_legacy,) = struct.unpack("<I", raw[107:111])
    n = n_legacy
    if minor >= 4 and len(raw) >= 255:
        (n64,) = struct.unpack("<Q", raw[247:255])
        n = n64 or n_legacy
    scales = struct.unpack("<3d", raw[131:155])
    offsets = struct.unpack("<3d", raw[155:179])
    if fmt not in _LAS_FIELDS:
        raise ValueError(f"LAS point format {fmt} not supported (0-3)")
    return {
        "version": f"{major}.{minor}", "point_off": point_off, "fmt": fmt,
        "rec_len": rec_len, "n": n, "scales": scales, "offsets": offsets,
    }


class LASReader(BaseReader):
    """LAS → typed point rows: scaled (x, y, z) doubles, intensity,
    classification and the format's extra columns. ``points_per_task``
    controls manifest granularity."""

    implements = {LAS}

    def _read(self, spark, points_per_task: int = 1_000_000, **kwargs):
        url = self.data.url
        with open(url, "rb") as f:
            hdr = _las_header(f)
        fields = _LAS_FIELDS[hdr["fmt"]]
        self.data.metadata.update(
            {"version": hdr["version"], "point_format": hdr["fmt"], "n_points": hdr["n"]}
        )
        extra = [name for name, _ in fields if name in ("gps_time", "red", "green", "blue")]
        schema = T.StructType(
            [
                T.StructField("x", T.DoubleType()),
                T.StructField("y", T.DoubleType()),
                T.StructField("z", T.DoubleType()),
                T.StructField("intensity", T.IntegerType()),
                T.StructField("classification", T.IntegerType()),
                T.StructField("point_source_id", T.IntegerType()),
            ]
            + [
                T.StructField(c, T.DoubleType() if c == "gps_time" else T.IntegerType())
                for c in extra
            ]
        )
        if not hdr["n"]:
            return local_frame(spark, [], schema)
        ranges = [
            (start, min(start + points_per_task, hdr["n"]))
            for start in range(0, hdr["n"], points_per_task)
        ]
        mdf = local_frame(spark, ranges, "p_start long, p_end long")
        if len(ranges) > 1:
            mdf = mdf.repartition(min(len(ranges), spark.sparkContext.defaultParallelism))
        cols = ["x", "y", "z", "intensity", "classification", "point_source_id"] + extra
        point_off, rec_len = hdr["point_off"], hdr["rec_len"]
        scales, offsets = hdr["scales"], hdr["offsets"]

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np

            dt_np = np.dtype(fields)
            with open(url, "rb") as fh:
                for pdf in batches:
                    for _, r in pdf.iterrows():
                        n_pts = int(r["p_end"] - r["p_start"])
                        fh.seek(point_off + int(r["p_start"]) * rec_len)
                        raw = fh.read(n_pts * rec_len)
                        # honour rec_len (may exceed the format's core size:
                        # extra bytes per point are vendor extensions)
                        arr = np.frombuffer(raw, dtype=np.uint8).reshape(n_pts, rec_len)
                        rec = np.frombuffer(
                            arr[:, : dt_np.itemsize].tobytes(), dtype=dt_np
                        )
                        out = {
                            "x": rec["X"] * scales[0] + offsets[0],
                            "y": rec["Y"] * scales[1] + offsets[1],
                            "z": rec["Z"] * scales[2] + offsets[2],
                            "intensity": rec["intensity"].astype("int32"),
                            "classification": rec["classification"].astype("int32"),
                            "point_source_id": rec["point_source_id"].astype("int32"),
                        }
                        for c in extra:
                            out[c] = (
                                rec[c] if c == "gps_time" else rec[c].astype("int32")
                            )
                        yield pd.DataFrame(out, columns=cols)

        return map_in_pandas(mdf, decode, schema=schema)


# ---------------------------------------------------------------------------
# ASDF — Advanced Scientific Data Format: a YAML tree + appended binary
# blocks (parity: ASDFReader, reference readers.py:1630, which needs the
# asdf package). The YAML header and 54-byte block headers parse
# driver-side; uncompressed ndarray blocks decode on executors via the
# shared chunk-row byte-range manifest.
# ---------------------------------------------------------------------------


class ASDF(dt.FileData):
    filepattern = r"asdf$"
    magic = (b"#ASDF",)
    structure = {"array", "hierarchy"}


def _asdf_parse(url: str) -> tuple[dict, list[dict]]:
    """(yaml tree, block descriptors) — blocks: {offset, data_size, comp}."""
    import yaml

    class _Loader(yaml.SafeLoader):
        pass

    def _any(loader, _suffix, node):
        if isinstance(node, yaml.MappingNode):
            return loader.construct_mapping(node, deep=True)
        if isinstance(node, yaml.SequenceNode):
            return loader.construct_sequence(node, deep=True)
        return loader.construct_scalar(node)

    _Loader.add_multi_constructor("!", _any)
    _Loader.add_multi_constructor("tag:", _any)

    with open(url, "rb") as f:
        raw = f.read()
    if not raw.startswith(b"#ASDF"):
        raise ValueError("not an ASDF file")
    blk_at = raw.find(b"\xd3BLK")
    yaml_end = blk_at if blk_at >= 0 else len(raw)
    header = raw[:yaml_end].decode("utf-8", errors="replace")
    yaml_text = "\n".join(
        line for line in header.splitlines() if not line.startswith("#")
    )
    tree = yaml.load(yaml_text, Loader=_Loader) or {}
    blocks = []
    pos = blk_at
    while pos >= 0 and pos + 6 <= len(raw):
        (hsize,) = struct.unpack(">H", raw[pos + 4 : pos + 6])
        head = raw[pos + 6 : pos + 6 + hsize]
        flags = struct.unpack(">I", head[0:4])[0] if len(head) >= 4 else 0
        comp = head[4:8].rstrip(b"\x00").decode("ascii") if len(head) >= 8 else ""
        alloc, used, data_size = (
            struct.unpack(">QQQ", head[8:32]) if len(head) >= 32 else (0, 0, 0)
        )
        data_off = pos + 6 + hsize
        blocks.append(
            {"offset": data_off, "used": used, "data_size": data_size, "comp": comp, "flags": flags}
        )
        nxt = raw.find(b"\xd3BLK", data_off + max(alloc, used))
        pos = nxt
    return tree, blocks


def _asdf_ndarrays(tree, prefix: str = "") -> dict[str, dict]:
    """Flatten the tree → {path: ndarray descriptor} (mappings that carry
    source/datatype/shape keys)."""
    out: dict[str, dict] = {}
    if isinstance(tree, dict):
        if {"source", "datatype", "shape"} <= set(tree):
            out[prefix.rstrip("/") or "/"] = tree
            return out
        for k, v in tree.items():
            out.update(_asdf_ndarrays(v, f"{prefix}{k}/"))
    elif isinstance(tree, list):
        for i, v in enumerate(tree):
            out.update(_asdf_ndarrays(v, f"{prefix}{i}/"))
    return out


_ASDF_DTYPES = {
    "int8": "i1", "uint8": "u1", "int16": "i2", "uint16": "u2",
    "int32": "i4", "uint32": "u4", "int64": "i8", "uint64": "u8",
    "float32": "f4", "float64": "f8",
}


class ASDFReader(BaseReader):
    """ASDF ndarray → chunk-row DataFrame. ``array`` selects by tree path
    (e.g. ``"data/temperature"``); default is the first ndarray in sorted
    path order. Uncompressed blocks stream through the byte-range decode;
    zlib blocks raise (install-time choice in the reference too)."""

    implements = {ASDF}

    def _read(self, spark, array: str | None = None, rows_per_chunk: int = 4096, **kwargs):
        url = self.data.url
        tree, blocks = _asdf_parse(url)
        arrays = _asdf_ndarrays(tree)
        if not arrays:
            raise ValueError(f"no ndarray entries in {url}")
        if array is None:
            array = sorted(arrays)[0]
        key = array.strip("/") or "/"
        if key not in arrays:
            raise KeyError(f"array {array!r} not in {sorted(arrays)}")
        desc = arrays[key]
        src = int(desc["source"])
        if src >= len(blocks):
            raise ValueError(f"block {src} out of range ({len(blocks)} blocks)")
        blk = blocks[src]
        if blk["comp"]:
            raise ValueError(
                f"compressed ASDF block ({blk['comp']!r}) not supported — "
                "re-save uncompressed"
            )
        dkey = str(desc["datatype"])
        if dkey not in _ASDF_DTYPES:
            raise ValueError(f"unsupported ASDF datatype {dkey!r}")
        order = ">" if desc.get("byteorder", "little") == "big" else "<"
        shape = [int(s) for s in desc["shape"]]
        self.data.metadata.update({"array": key, "arrays": sorted(arrays), "shape": shape})
        return byte_range_df(
            spark, url, order + _ASDF_DTYPES[dkey], shape, blk["offset"], rows_per_chunk
        )


# ---------------------------------------------------------------------------
# OpenEXR — ILM scanline images (parity: OpenEXRReader, reference
# readers.py:3575, which needs the OpenEXR bindings). Stdlib struct/zlib +
# numpy: header attributes, channel list, line-offset table, NONE/ZIPS/ZIP
# compression (deflate + the ImfZip byte predictor/interleave transform),
# HALF/FLOAT/UINT pixel types. Scanline blocks are the native parallel
# unit: the driver reads the header + offset table, executors decode their
# blocks.
# ---------------------------------------------------------------------------


class OpenEXR(dt.FileData):
    filepattern = r"exr$"
    magic = (b"\x76\x2f\x31\x01",)
    structure = {"array", "image"}


_EXR_PIXEL = {0: ("<u4", 4), 1: ("<f2", 2), 2: ("<f4", 4)}
_EXR_LINES_PER_BLOCK = {0: 1, 1: 1, 2: 1, 3: 16}


def _exr_cstr(buf: bytes, pos: int) -> tuple[str, int]:
    end = buf.index(b"\x00", pos)
    return buf[pos:end].decode("ascii", errors="replace"), end + 1


def _exr_header(url: str) -> dict:
    import numpy as np

    with open(url, "rb") as f:
        raw = f.read(1 << 20)  # headers are small; offset table follows
        if raw[:4] != b"\x76\x2f\x31\x01":
            raise ValueError("not an OpenEXR file")
        (version,) = struct.unpack("<I", raw[4:8])
        if version & 0x200:
            raise ValueError("tiled EXR not supported (scanline only)")
        if version & 0x1800:
            raise ValueError("deep/multipart EXR not supported")
        pos = 8
        attrs: dict[str, tuple[str, bytes]] = {}
        while raw[pos] != 0:
            name, pos = _exr_cstr(raw, pos)
            atype, pos = _exr_cstr(raw, pos)
            (sz,) = struct.unpack("<i", raw[pos : pos + 4])
            pos += 4
            attrs[name] = (atype, raw[pos : pos + sz])
            pos += sz
        pos += 1  # header-terminating NUL
        if "dataWindow" not in attrs or "channels" not in attrs:
            raise ValueError("EXR lacks dataWindow/channels attributes")
        x0, y0, x1, y1 = struct.unpack("<4i", attrs["dataWindow"][1][:16])
        comp = attrs.get("compression", ("", b"\x00"))[1][0]
        if comp not in _EXR_LINES_PER_BLOCK:
            raise ValueError(
                f"EXR compression {comp} not supported (NONE/RLE/ZIPS/ZIP only — "
                "PIZ/PXR24/B44 need the OpenEXR library)"
            )
        chans = []
        craw, cpos = attrs["channels"][1], 0
        while craw[cpos] != 0:
            cname, cpos = _exr_cstr(craw, cpos)
            (ptype,) = struct.unpack("<i", craw[cpos : cpos + 4])
            cpos += 16  # pixel type + pLinear/reserved + x/y sampling
            if ptype not in _EXR_PIXEL:
                raise ValueError(f"unknown EXR pixel type {ptype}")
            chans.append((cname, ptype))
        chans.sort()  # channels are stored in alphabetical order
        width = x1 - x0 + 1
        height = y1 - y0 + 1
        lpb = _EXR_LINES_PER_BLOCK[comp]
        n_blocks = -(-height // lpb)
        # the offset table can outgrow the initial header read for tall
        # images (8 bytes/scanline-block); fetch the remainder explicitly
        # rather than silently truncating the manifest
        need = pos + 8 * n_blocks
        if need > len(raw):
            f.seek(len(raw))
            raw += f.read(need - len(raw))
            if len(raw) < need:
                raise ValueError(
                    f"EXR offset table truncated: need {need} bytes, file has {len(raw)}"
                )
        offsets = np.frombuffer(raw[pos : pos + 8 * n_blocks], dtype="<u8").tolist()
        return {
            "width": width, "height": height, "y_min": y0,
            "compression": int(comp), "lines_per_block": lpb,
            "channels": chans, "block_offsets": offsets,
        }


def _exr_postprocess(t: bytearray) -> bytes:
    """Shared ImfZip/ImfRle postprocess: undo byte predictor, undo the
    two-half interleave (OpenEXR's 'reorder + delta' scheme)."""
    import numpy as np

    for i in range(1, len(t)):
        t[i] = (t[i - 1] + t[i] - 128) & 0xFF
    n = len(t)
    half = (n + 1) // 2
    out = np.empty(n, dtype=np.uint8)
    out[0::2] = np.frombuffer(bytes(t[:half]), dtype=np.uint8)[: len(out[0::2])]
    out[1::2] = np.frombuffer(bytes(t[half:]), dtype=np.uint8)[: len(out[1::2])]
    return out.tobytes()


def _exr_unzip(data: bytes) -> bytes:
    import zlib

    return _exr_postprocess(bytearray(zlib.decompress(data)))


def _exr_unrle(data: bytes) -> bytes:
    """OpenEXR RLE: signed count byte — negative → |n| literals follow,
    non-negative → n+1 copies of the next byte; then the shared
    predictor/interleave postprocess."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if n < 0:
            out += data[i : i - n]
            i += -n
        else:
            out += bytes([data[i]]) * (n + 1)
            i += 1
    return _exr_postprocess(out)


def _exr_decode_block(buf: bytes, hdr: dict) -> list[tuple[int, str, list]]:
    """One scanline block → [(y, channel, float64 row values)]."""
    import numpy as np

    y, size = struct.unpack("<ii", buf[:8])
    data = buf[8 : 8 + size]
    if hdr["compression"] in (1, 2, 3):
        raw_len = sum(
            _EXR_PIXEL[pt][1] * hdr["width"] for _, pt in hdr["channels"]
        ) * min(hdr["lines_per_block"], hdr["y_min"] + hdr["height"] - y)
        if size < raw_len:  # EXR stores raw when compression didn't help
            data = _exr_unrle(data) if hdr["compression"] == 1 else _exr_unzip(data)
    n_lines = min(hdr["lines_per_block"], hdr["y_min"] + hdr["height"] - y)
    out = []
    pos = 0
    for line in range(n_lines):
        for cname, ptype in hdr["channels"]:
            dt_np, itemsize = _EXR_PIXEL[ptype]
            nbytes = itemsize * hdr["width"]
            vals = np.frombuffer(data[pos : pos + nbytes], dtype=dt_np)
            pos += nbytes
            out.append((y + line, cname, vals.astype(np.float64).tolist()))
    return out


class OpenEXRReader(BaseReader):
    """OpenEXR scanline image → (y, channel, values) rows — one row per
    scanline per channel, pixel values widened to float64. Blocks decode
    on executors from the line-offset-table manifest."""

    implements = {OpenEXR}

    def _read(self, spark, **kwargs):
        url = self.data.url
        hdr = _exr_header(url)
        self.data.metadata.update(
            {
                "width": hdr["width"], "height": hdr["height"],
                "channels": [c for c, _ in hdr["channels"]],
                "compression": hdr["compression"],
            }
        )
        schema = T.StructType(
            [
                T.StructField("y", T.IntegerType()),
                T.StructField("channel", T.StringType()),
                T.StructField("values", T.ArrayType(T.DoubleType())),
            ]
        )
        if not hdr["block_offsets"]:
            return local_frame(spark, [], schema)
        mdf = local_frame(
            spark, [(int(o),) for o in hdr["block_offsets"]], "blk_off long"
        )
        if len(hdr["block_offsets"]) > 1:
            mdf = mdf.repartition(
                min(len(hdr["block_offsets"]), spark.sparkContext.defaultParallelism)
            )

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            with open(url, "rb") as fh:
                for pdf in batches:
                    rows = []
                    for _, r in pdf.iterrows():
                        fh.seek(int(r["blk_off"]))
                        head = fh.read(8)
                        (_, size) = struct.unpack("<ii", head)
                        rows.extend(
                            _exr_decode_block(head + fh.read(size), hdr)
                        )
                    yield pd.DataFrame(rows, columns=["y", "channel", "values"])

        return map_in_pandas(mdf, decode, schema=schema)


# ---------------------------------------------------------------------------
# MetaImage (.mha/.mhd) — ITK's tag-based text header + raw/zlib payload
# (parity: SimpleITKReader, reference readers.py:3546, which delegates to
# SimpleITK/libITK; this parses the public MetaIO format directly).
# ---------------------------------------------------------------------------


class MetaImage(dt.FileData):
    filepattern = r"(mha|mhd)$"
    magic = (b"ObjectType",)
    structure = {"array"}


_MET_TYPES = {
    "MET_CHAR": "i1", "MET_UCHAR": "u1",
    "MET_SHORT": "i2", "MET_USHORT": "u2",
    "MET_INT": "i4", "MET_UINT": "u4",
    "MET_LONG": "i8", "MET_ULONG": "u8",
    "MET_FLOAT": "f4", "MET_DOUBLE": "f8",
}


def _metaimage_header(f) -> tuple[dict, int]:
    """Read `Key = Value` lines until ElementDataFile (always the LAST
    header field by spec); returns (fields, data_offset_after_header)."""
    fields: dict[str, str] = {}
    off = 0
    while True:
        line = f.readline()
        if not line:
            raise ValueError("MetaImage header has no ElementDataFile field")
        off += len(line)
        text = line.decode("ascii", errors="replace").strip()
        if not text or "=" not in text:
            continue
        key, _, val = text.partition("=")
        fields[key.strip()] = val.strip()
        if key.strip() == "ElementDataFile":
            return fields, off


class MetaImageReader(BaseReader):
    """MetaImage → chunk-row DataFrame. Header parses driver-side (KiB);
    raw payloads decode on executors via the shared byte-range manifest
    (inline for .mha after the header, or the external .raw file a .mhd
    points at); zlib-compressed payloads decode in a single executor task
    (non-splittable stream). Multi-channel volumes append the channel
    count as the last (fastest) axis."""

    implements = {MetaImage}

    def _read(self, spark, rows_per_chunk: int = 1024, **kwargs):
        import os as _os

        import numpy as np

        url = self.data.url
        with open(url, "rb") as f:
            fields, data_off = _metaimage_header(f)
        tkey = fields.get("ElementType", "")
        if tkey not in _MET_TYPES:
            raise ValueError(f"unsupported MetaImage ElementType {tkey!r}")
        msb = fields.get("BinaryDataByteOrderMSB", fields.get("ElementByteOrderMSB", "False"))
        dtype = (">" if msb.lower() == "true" else "<") + _MET_TYPES[tkey]
        if np.dtype(dtype).itemsize == 1:
            dtype = _MET_TYPES[tkey]
        if fields.get("BinaryData", "True").lower() != "true":
            raise ValueError("ASCII MetaImage data not supported (BinaryData = False)")
        # DimSize is fastest-axis-first; C-order shape reverses it, and
        # multi-channel data interleaves channels as the fastest axis
        shape = [int(s) for s in fields["DimSize"].split()][::-1]
        nch = int(fields.get("ElementNumberOfChannels", "1"))
        if nch > 1:
            shape = shape + [nch]
        datafile = fields.get("ElementDataFile", "LOCAL")
        if datafile.upper() == "LIST" or "%" in datafile:
            raise ValueError("MetaImage slice-list data files not supported")
        if datafile.upper() == "LOCAL":
            data_url = url
        else:
            data_url = _os.path.join(_os.path.dirname(url), datafile)
            data_off = 0
        compressed = fields.get("CompressedData", "False").lower() == "true"
        self.data.metadata.update({"fields": fields, "shape": shape, "dtype": dtype})
        if not compressed:
            return byte_range_df(spark, data_url, dtype, shape, data_off, rows_per_chunk)

        return _inflated_chunk_df(
            spark, data_url, dtype, shape, data_off, rows_per_chunk, "zlib"
        )
# ---------------------------------------------------------------------------
# SVS / whole-slide images — Aperio slides are TIFF pyramids whose page-0
# ImageDescription carries the slide properties ('Aperio ...|AppMag = 40
# |MPP = 0.25|...'). (Parity: OpenSlideReader/TiffSlideReader, reference
# readers.py:3592,3623, which delegate to openslide/tiffslide; this walks
# the public TIFF structure directly.) Level SELECTION is metadata-only
# (geometry from each IFD, no pixel decode), so it works even when deep
# levels use gated codecs; level DECODE goes through the standard
# TIFFReader page path and is subject to its codec support.
# ---------------------------------------------------------------------------


class SVS(dt.FileData):
    filepattern = r"svs$"
    magic = (b"II*\x00", b"MM\x00*")
    structure = {"array", "image"}


def tiff_level_index(f) -> list[dict]:
    """Lenient walk of EVERY IFD in the chain (classic or BigTIFF) →
    [{page, width, height, compression, description}] — geometry only, no
    codec validation, so slides whose levels use unsupported compressions
    still enumerate."""
    bo, big, ifd_off = _tiff_open(f)
    out = []
    page = 0
    while ifd_off and page < 4096:
        tags, ifd_off = _tiff_read_ifd(f, bo, big, ifd_off)
        desc = tags.get(270, [""])[0]
        if isinstance(desc, int):  # type-1 bytes land as int lists
            desc = bytes(tags[270])
        if isinstance(desc, (bytes, bytearray)):
            desc = desc.rstrip(b"\x00").decode("ascii", "replace")
        info = {
            "page": page,
            "width": int(tags[256][0]) if 256 in tags else None,
            "height": int(tags[257][0]) if 257 in tags else None,
            "compression": int(tags.get(259, [1])[0]),
            # ASCII(2) entries now arrive pre-decoded from the IFD walk
            "description": desc if isinstance(desc, str) else "",
        }
        out.append(info)
        page += 1
    return out


def parse_aperio_description(desc: str) -> dict:
    """Aperio ImageDescription → properties dict: '|'-separated segments,
    'Key = Value' pairs after the free-text header segment."""
    props: dict[str, str] = {}
    parts = desc.split("|")
    if parts:
        props["aperio.Header"] = parts[0].strip()
    for seg in parts[1:]:
        key, eq, val = seg.partition("=")
        if eq:
            props["aperio." + key.strip()] = val.strip()
    return props


class SVSSlideReader(BaseReader):
    """Whole-slide image → chunk rows for ONE selected pyramid level.

    ``level=`` selects by index (0 = base); ``max_pixels=`` instead picks
    the largest level that fits the budget — the openslide
    ``get_best_level_for_downsample`` idiom inverted for batch pipelines
    where the cap is decode cost. Slide properties (AppMag, MPP, ...) and
    the full level geometry land in ``.data.metadata`` without decoding
    any pixels."""

    implements = {SVS}

    def _read(self, spark, level: int | None = None, max_pixels: int | None = None, **kwargs):
        url = self.data.url
        with open(url, "rb") as f:
            levels = tiff_level_index(f)
        if not levels or levels[0]["width"] is None:
            raise ValueError(f"{url}: no image levels found")
        base_w = levels[0]["width"]
        for lv in levels:
            lv["downsample"] = round(base_w / lv["width"], 4) if lv["width"] else None
        props = parse_aperio_description(levels[0]["description"])
        if level is None:
            if max_pixels is not None:
                fitting = [
                    lv["page"] for lv in levels
                    if lv["width"] and lv["width"] * lv["height"] <= max_pixels
                ]
                if not fitting:
                    raise ValueError(
                        f"no level fits max_pixels={max_pixels}; smallest is "
                        f"{levels[-1]['width']}x{levels[-1]['height']}"
                    )
                level = fitting[0]  # pages are ordered base→smallest
            else:
                level = 0
        if not 0 <= level < len(levels):
            raise ValueError(f"level {level} out of range (slide has {len(levels)})")
        self.data.metadata.update(
            {
                "levels": [
                    {k: lv[k] for k in ("page", "width", "height", "downsample", "compression")}
                    for lv in levels
                ],
                "properties": props,
                "mpp": float(props["aperio.MPP"]) if "aperio.MPP" in props else None,
                "objective_power": float(props["aperio.AppMag"]) if "aperio.AppMag" in props else None,
                "level": level,
            }
        )
        inner = TIFFReader(data=dt.TIFF(url=url))
        df = inner.read(spark=spark, page=level, **kwargs)
        self.data.metadata.update({k: v for k, v in inner.data.metadata.items()
                                   if k not in self.data.metadata})
        return df


# ---------------------------------------------------------------------------
# E57 point cloud (ASTM E2807): 48-byte header + CRC-paged XML section.
# Parity: reference datatypes.py:1481 E57File (datatype only — no reader in
# the reference; pye57/libe57 are the usual decoders). Here the header and
# the XML document (scan inventory, record counts, bounds) decode with the
# stdlib; CompressedVector POINT decode (bit-packed codecs per prototype
# field) is a named gate.
# ---------------------------------------------------------------------------


class E57(dt.FileData):
    """E57 3-D imaging / point-cloud container (magic ``ASTM-E57``)."""

    filepattern = r"e57$"
    magic = (b"ASTM-E57",)
    structure = {"array", "table"}


def _e57_logical_bytes(f, phys_offset: int, logical_len: int, page_size: int) -> bytes:
    """Read ``logical_len`` bytes of the LOGICAL stream starting at a
    physical offset: every ``page_size`` physical page carries
    (page_size - 4) payload bytes + a trailing CRC-32C word, which is
    stripped (not verified — stdlib has CRC-32, not Castagnoli)."""
    payload_per_page = page_size - 4
    out = bytearray()
    pos = phys_offset
    while len(out) < logical_len:
        page_start = (pos // page_size) * page_size
        in_page = pos - page_start
        avail = payload_per_page - in_page
        if avail <= 0:  # started on the CRC word: skip to next page
            pos = page_start + page_size
            continue
        take = min(avail, logical_len - len(out))
        f.seek(pos)
        chunk = f.read(take)
        if len(chunk) < take:
            raise ValueError("E57 file truncated inside XML section")
        out += chunk
        pos += take
        if pos - page_start >= payload_per_page:
            pos = page_start + page_size
    return bytes(out)


def _e57_xml(url: str) -> tuple[dict, "object"]:
    import xml.etree.ElementTree as ET

    with open(url, "rb") as f:
        head = f.read(48)
        if head[:8] != b"ASTM-E57":
            raise ValueError("not an E57 file (ASTM-E57 magic missing)")
        if len(head) < 48:
            raise ValueError(
                f"E57 header truncated: {len(head)} bytes, 48 needed"
            )
        major, minor = struct.unpack("<II", head[8:16])
        file_len, xml_off, xml_len, page_size = struct.unpack("<QQQQ", head[16:48])
        if page_size < 8 or page_size > (1 << 20):
            raise ValueError(f"implausible E57 page size {page_size}")
        xml_raw = _e57_logical_bytes(f, xml_off, xml_len, page_size)
    hdr = {
        "version": f"{major}.{minor}",
        "file_length": file_len,
        "page_size": page_size,
    }
    return hdr, ET.fromstring(xml_raw.decode("utf-8"))


def _e57_localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


class E57MetaReader(BaseReader):
    """E57 scan inventory → one row per Data3D scan: name, record count,
    binary section offset, prototype field names, cartesian bounds.
    The cheap triage pass before any point decode; point payloads are a
    named gate (CompressedVector bit-pack codecs need per-field codec
    state machines; use pye57 off-Spark, or LAS for decodable clouds)."""

    implements = {E57}
    lazy = False

    def _read(self, spark, **kwargs):
        hdr, root = _e57_xml(self.data.url)
        self.data.metadata.update(hdr)
        rows = []
        data3d = None
        for child in root:
            if _e57_localname(child.tag) == "data3D":
                data3d = child
                break
        if data3d is not None:
            for i, scan in enumerate(data3d):
                name = None
                rec_count = None
                file_offset = None
                proto_fields: list[str] = []
                bounds = {}
                for el in scan:
                    ln = _e57_localname(el.tag)
                    if ln == "name":
                        name = (el.text or "").strip()
                    elif ln == "points":
                        rec_count = int(el.get("recordCount", "0"))
                        file_offset = int(el.get("fileOffset", "0"))
                        for sub in el:
                            if _e57_localname(sub.tag) == "prototype":
                                proto_fields = [_e57_localname(p.tag) for p in sub]
                    elif ln == "cartesianBounds":
                        for b in el:
                            bounds[_e57_localname(b.tag)] = float(b.text or "nan")
                rows.append(
                    (
                        i,
                        name,
                        rec_count,
                        file_offset,
                        proto_fields,
                        bounds.get("xMinimum"),
                        bounds.get("xMaximum"),
                        bounds.get("yMinimum"),
                        bounds.get("yMaximum"),
                        bounds.get("zMinimum"),
                        bounds.get("zMaximum"),
                    )
                )
        schema = (
            "scan_idx int, name string, record_count long, file_offset long, "
            "proto_fields array<string>, x_min double, x_max double, "
            "y_min double, y_max double, z_min double, z_max double"
        )
        return local_frame(spark, rows, schema)


def _e57_prototype(scan) -> "tuple[int, int, list[dict]]":
    """(recordCount, fileOffset, per-field codec spec) from a Data3D
    scan element. Field spec: name, kind (int/scaled/float), bit width,
    minimum, scale, offset, float precision."""
    rec_count = file_offset = None
    fields: list[dict] = []
    for el in scan:
        if _e57_localname(el.tag) != "points":
            continue
        rec_count = int(el.get("recordCount", "0"))
        file_offset = int(el.get("fileOffset", "0"))
        for sub in el:
            if _e57_localname(sub.tag) != "prototype":
                continue
            for p in sub:
                t = p.get("type", "Integer")
                fd = {"name": _e57_localname(p.tag), "kind": "int",
                      "min": 0, "scale": 1.0, "offset": 0.0, "bits": 0}
                if t in ("Integer", "ScaledInteger"):
                    lo = int(p.get("minimum", "0"))
                    hi = int(p.get("maximum", "0"))
                    fd["min"] = lo
                    fd["bits"] = (hi - lo).bit_length()
                    if t == "ScaledInteger":
                        fd["kind"] = "scaled"
                        fd["scale"] = float(p.get("scale", "1"))
                        fd["offset"] = float(p.get("offset", "0"))
                elif t == "Float":
                    fd["kind"] = "float"
                    fd["bits"] = 32 if p.get("precision") == "single" else 64
                elif t == "String":
                    # variable-length bytestream: per record a length
                    # prefix (low-bit-flagged 1- or 8-byte form, ASTM
                    # E2807 string coding as implemented by the public
                    # libE57Format BitpackStringDecoder) + UTF-8 bytes
                    fd["kind"] = "string"
                    fd["bits"] = 0
                else:
                    raise NotImplementedError(
                        f"E57 prototype field type {t!r} (Integer/"
                        "ScaledInteger/Float/String decode; Structure/"
                        "Vector nodes inside a point prototype are not "
                        "point data)"
                    )
                fields.append(fd)
    return rec_count, file_offset, fields


def _e57_unpack_bits(s: bytes, record_count: int, w: int):
    """LSB-first fixed-width unpack of ``record_count`` values from a
    concatenated bytestream. Vectorized for w<=56: value j lives in the
    8-byte little-endian window at byte (j*w)>>3, shifted by (j*w)&7 —
    O(n), unlike a big-int shift per record which is O(n^2) in the
    stream length (a 1M-point scan would grind). Wider fields (rare)
    take the exact big-int path."""
    import numpy as np

    if w == 0:  # constant field: every value == minimum
        return np.zeros(record_count, dtype=np.int64)
    if w <= 56:
        buf = np.frombuffer(s + b"\x00" * 8, dtype=np.uint8)
        bitoff = np.arange(record_count, dtype=np.int64) * w
        byteoff = bitoff >> 3
        win = np.zeros(record_count, dtype=np.uint64)
        for bidx in range(8):
            win |= buf[byteoff + bidx].astype(np.uint64) << np.uint64(8 * bidx)
        return (
            (win >> (bitoff & 7).astype(np.uint64)) & np.uint64((1 << w) - 1)
        ).astype(np.int64)
    big = int.from_bytes(s, "little")
    mask = (1 << w) - 1
    return np.fromiter(
        ((big >> (j * w)) & mask for j in range(record_count)),
        dtype=np.int64, count=record_count,
    )


def _e57_decode_section(f, page_size: int, file_offset: int,
                        record_count: int, fields: "list[dict]"):
    """Decode one CompressedVector binary section (ASTM E2807 §9) into
    {field name: numpy array}. Walks the data packets, concatenates each
    field's bytestream buffers (a VALUE's bits may span packets — the
    per-field streams are continuous across packet boundaries), then
    bit-unpacks LSB-first at the prototype's fixed width."""
    import numpy as np

    head = _e57_logical_bytes(f, file_offset, 32, page_size)
    if head[0] != 1:
        raise ValueError(f"E57 section at {file_offset} is not a "
                         f"CompressedVector section (id {head[0]})")
    (sec_len,) = struct.unpack("<Q", head[8:16])
    (data_phys,) = struct.unpack("<Q", head[16:24])
    section = _e57_logical_bytes(f, file_offset, sec_len, page_size)

    def logical(p: int) -> int:
        return (p // page_size) * (page_size - 4) + min(
            p % page_size, page_size - 4
        )

    pos = logical(data_phys) - logical(file_offset)
    streams = [bytearray() for _ in fields]
    need = [record_count * fd["bits"] for fd in fields]
    # a String field's byte need is unknowable up front (variable-length
    # records), so its presence disables the early-exit optimization:
    # consume every packet in the section instead
    any_string = any(fd["kind"] == "string" for fd in fields)
    while pos + 4 <= len(section) and (
        any_string
        or any(len(s) * 8 < n for s, n in zip(streams, need))
    ):
        ptype = section[pos]
        (plen_m1,) = struct.unpack_from("<H", section, pos + 2)
        plen = plen_m1 + 1
        if ptype == 1:  # data packet
            (bscount,) = struct.unpack_from("<H", section, pos + 4)
            if bscount != len(fields):
                raise ValueError(
                    f"E57 data packet carries {bscount} bytestreams for a "
                    f"{len(fields)}-field prototype"
                )
            lens = struct.unpack_from(f"<{bscount}H", section, pos + 6)
            off = pos + 6 + 2 * bscount
            for i, ln in enumerate(lens):
                streams[i] += section[off : off + ln]
                off += ln
        elif ptype not in (0, 2):  # 0 = index, 2 = empty: skip
            raise ValueError(f"unknown E57 packet type {ptype}")
        pos += plen
    out = {}
    for fd, s, n in zip(fields, streams, need):
        if fd["kind"] == "string":
            out[fd["name"]] = _e57_decode_strings(
                bytes(s), record_count, fd["name"]
            )
            continue
        if len(s) * 8 < n:
            raise ValueError(
                f"E57 bytestream for {fd['name']!r} short: "
                f"{len(s) * 8} bits < {n} needed"
            )
        w = fd["bits"]
        if fd["kind"] == "float":
            dt_ = "<f4" if w == 32 else "<f8"
            arr = np.frombuffer(
                bytes(s[: record_count * (w // 8)]), dtype=dt_
            ).astype(np.float64)
            out[fd["name"]] = arr
            continue
        raw = _e57_unpack_bits(bytes(s), record_count, w)
        if fd["kind"] == "scaled":
            out[fd["name"]] = (raw + fd["min"]) * fd["scale"] + fd["offset"]
        else:
            out[fd["name"]] = raw + fd["min"]
    return out


def _e57_decode_strings(s: bytes, record_count: int, name: str) -> list:
    """Decode a String-field bytestream: per record a length prefix —
    one byte with low bit 0 (length = byte >> 1, 0..127) or eight
    little-endian bytes with low bit 1 (length = uint64 >> 1) — then
    that many UTF-8 bytes. This is the coding the public libE57Format
    BitpackStringDecoder implements for ASTM E2807 string bytestreams;
    a wrong-format stream fails LOUDLY here (lengths immediately run
    past the buffer), it cannot misdecode silently."""
    vals: list[str] = []
    p = 0
    for j in range(record_count):
        if p >= len(s):
            raise ValueError(
                f"E57 string bytestream for {name!r} exhausted at "
                f"record {j}/{record_count}"
            )
        b0 = s[p]
        if b0 & 1 == 0:
            ln = b0 >> 1
            p += 1
        else:
            if p + 8 > len(s):
                raise ValueError(
                    f"E57 string bytestream for {name!r}: truncated "
                    f"8-byte length prefix at record {j}"
                )
            ln = int.from_bytes(s[p : p + 8], "little") >> 1
            p += 8
        if p + ln > len(s):
            raise ValueError(
                f"E57 string bytestream for {name!r}: length {ln} at "
                f"record {j} runs past the stream "
                f"({len(s) - p} bytes left)"
            )
        vals.append(s[p : p + ln].decode("utf-8"))
        p += ln
    return vals


class E57PointsReader(BaseReader):
    """E57 CompressedVector point decode (ASTM E2807 §9) — closes the
    round-6 named gate with the package's own bit-pack codec:
    Integer/ScaledInteger fields unpack LSB-first at the prototype's
    fixed width (values may span data-packet boundaries), Float fields
    are raw IEEE, String fields are length-prefixed UTF-8
    (:func:`_e57_decode_strings`); ScaledInteger columns surface as
    doubles ((raw + minimum) * scale + offset), Integer as longs,
    String as strings.

    Scale shape: one driver pass reads the XML + per-scan prototypes;
    scans decode in parallel executor-side from a byte-range manifest
    (the DICOM-frames pattern). Within a scan the bitstream is decoded
    sequentially — the refinement for billion-point single-scan files
    is record-range splitting via the per-packet byte offsets, noted
    not needed for multi-scan survey files."""

    implements = {E57}
    priority = 5

    def _read(self, spark, scan_idx: "int | None" = None, **kwargs):
        import json as _json

        url = self.data.url
        hdr, root = _e57_xml(url)
        self.data.metadata.update(hdr)
        page_size = hdr["page_size"]
        scans = []
        for child in root:
            if _e57_localname(child.tag) == "data3D":
                for i, scan in enumerate(child):
                    rc, off, fields = _e57_prototype(scan)
                    if rc is None or not fields:
                        continue
                    if scan_idx is not None and i != scan_idx:
                        continue
                    scans.append((i, rc, off, _json.dumps(fields)))
        if not scans:
            raise ValueError("E57 file has no decodable Data3D point scans")
        f0 = _json.loads(scans[0][3])
        names0 = [fd["name"] for fd in f0]
        for _i, _rc, _off, fj in scans[1:]:
            if [fd["name"] for fd in _json.loads(fj)] != names0:
                raise ValueError(
                    "E57 scans carry different prototypes — read them "
                    "separately via scan_idx="
                )
        spark_type = {
            "int": "long", "scaled": "double", "float": "double",
            "string": "string",
        }
        schema = "scan_idx int, " + ", ".join(
            f"`{fd['name']}` {spark_type[fd['kind']]}" for fd in f0
        )
        mdf = local_frame(
            spark, scans, "scan_idx int, rc long, off long, fields string"
        )

        def decode(batches):
            import json as _j

            import pandas as pd_

            from intake_spark.sci import _e57_decode_section

            for pdf in batches:
                with open(url, "rb") as fh:
                    for _, r in pdf.iterrows():
                        flds = _j.loads(r.fields)
                        cols = _e57_decode_section(
                            fh, page_size, int(r.off), int(r.rc), flds
                        )
                        out = pd_.DataFrame(cols)
                        out.insert(0, "scan_idx", int(r.scan_idx))
                        yield out

        return map_in_pandas(mdf, decode, schema=schema)
