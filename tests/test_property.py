"""Property-based tests (hypothesis) for the pure-Python kernel: content
tokens, binary-format parsers, and template machinery. These go beyond the
reference's own test strategy (SURVEY §5: it has no property-based tests)
— the parsers here are hand-written, so fuzzing the encode/parse round
trips is the cheap way to find corner cases. No SparkSession needed."""

from __future__ import annotations

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from intake_spark.utils import tokenize

# module imports inside test bodies (pyspark transitively) can blow the
# default 200ms deadline on the first example — wall-clock flake, not a bug
settings.register_profile("no_deadline", deadline=None)
settings.load_profile("no_deadline")

# keys/values that survive json canonicalization
_scalars = st.one_of(
    st.integers(-(2**31), 2**31), st.text(max_size=20), st.booleans(), st.none()
)
_dicts = st.dictionaries(st.text(max_size=10), _scalars, max_size=6)


@given(_dicts)
def test_tokenize_key_order_independent(d):
    items = list(d.items())
    shuffled = dict(reversed(items))
    assert tokenize(d) == tokenize(shuffled)
    assert len(tokenize(d)) == 16


@given(_dicts, _dicts)
def test_tokenize_distinguishes_unequal(d1, d2):
    # Python's == conflates 0/False and 1/True, but those are DIFFERENT
    # reader descriptions (header=0 vs header=False) and tokenize rightly
    # distinguishes them — so the oracle must be type-aware equality
    def typed(d):
        return {k: (type(v).__name__, v) for k, v in d.items()}

    if typed(d1) != typed(d2):
        # md5-16hex collisions are possible in principle but unreachable
        # for hypothesis-sized inputs; a constant-token regression fails here
        assert tokenize(d1) != tokenize(d2)
    else:
        assert tokenize(d1) == tokenize(d2)


@given(
    st.sampled_from(["<f8", "<f4", "<i8", "<i4", "<i2", "<u4", "|u1"]),
    st.lists(st.integers(0, 40), min_size=0, max_size=4),
)
def test_npy_header_roundtrip(descr, shape):
    from intake_spark.arrays import _parse_npy_header

    header = ("{'descr': %r, 'fortran_order': False, 'shape': %s, }") % (
        descr,
        "(" + "".join(f"{s}, " for s in shape) + ")",
    )
    pad = (64 - (10 + len(header) + 1) % 64) % 64
    header = header + " " * pad + "\n"
    buf = b"\x93NUMPY\x01\x00" + struct.pack("<H", len(header)) + header.encode()
    d, fortran, shp, off = _parse_npy_header(buf)
    assert d == descr and not fortran and shp == tuple(shape)
    assert off == len(buf)


@given(st.binary(max_size=60))
def test_pdf_literal_string_roundtrip(payload):
    """Any byte string, escaped per the PDF spec, must parse back exactly."""
    from intake_spark.documents import _pdf_string

    esc = bytearray(b"(")
    for byte in payload:
        if byte in (0x28, 0x29, 0x5C):  # ( ) backslash
            esc += b"\\" + bytes([byte])
        elif byte in (0x0A, 0x0D):  # raw newlines: octal-escape to be safe
            esc += ("\\%03o" % byte).encode()
        else:
            esc.append(byte)
    esc += b")"
    out, i = _pdf_string(bytes(esc), 0)
    assert out == payload
    assert i == len(esc)


@given(st.lists(st.integers(0, 2**63 - 1), max_size=8))
def test_protobuf_varint_roundtrip(values):
    from intake_spark.compress import read_uvarint

    def enc(v: int) -> bytes:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    buf = b"".join(enc(v) for v in values)
    i, got = 0, []
    while i < len(buf):
        v, i = read_uvarint(buf, i)
        got.append(v)
    assert got == values


@given(
    st.lists(
        st.tuples(st.sampled_from(["aa", "b", "xyz"]), st.integers(0, 999)),
        min_size=1,
        max_size=3,
    )
)
def test_reverse_format_roundtrip(parts):
    from intake_spark.utils import reverse_format

    pattern = "/".join(f"{p}_{{f{i}}}" for i, (p, _) in enumerate(parts))
    value = "/".join(f"{p}_{n}" for p, n in parts)
    got = reverse_format(pattern, value)
    assert got == {f"f{i}": str(n) for i, (_, n) in enumerate(parts)}


@settings(max_examples=30)
@given(
    st.integers(1, 40),
    st.integers(1, 12),
    st.integers(1, 12),
    st.sampled_from(["zlib", None]),
)
def test_zarr_chunk_math(n0, c0, c1, compressor):
    """Zarr grid/trim arithmetic: ceil-div grid covers the array exactly."""
    grid0 = -(-n0 // c0)
    covered = 0
    for i in range(grid0):
        covered += min(c0, n0 - i * c0)
    assert covered == n0


@given(st.lists(st.floats(0.01, 1.0), min_size=1, max_size=5))
def test_hash_split_edges_partition_bucket_space(fracs):
    total = sum(fracs)
    fracs = [f / total for f in fracs]
    edges = [0]
    for f in fracs:
        edges.append(edges[-1] + int(f * 1_000_000))
    edges[-1] = 1_000_000
    spans = [hi - lo for lo, hi in zip(edges, edges[1:])]
    assert sum(spans) == 1_000_000
    assert all(s >= 0 for s in spans)


@given(st.binary(min_size=0, max_size=600))
def test_packbits_roundtrip(data):
    """PackBits encode (test-local) → decode (package) is the identity."""
    from intake_spark.sci import packbits_decode
    from tests.test_tiff import _pb_encode

    assert packbits_decode(_pb_encode(data)) == data


@given(st.binary(min_size=0, max_size=600))
def test_exr_transform_inverse(data):
    """ImfZip preprocess (test-local) ∘ postprocess (package) = identity."""
    from intake_spark.sci import _exr_postprocess
    from tests.test_exr import _preprocess

    assert _exr_postprocess(bytearray(_preprocess(data))) == data


@given(st.binary(min_size=0, max_size=400))
def test_exr_rle_roundtrip(data):
    """Forward RLE (test-local) → package decode is the identity."""
    from intake_spark.sci import _exr_unrle
    from tests.test_exr import _imfrle

    assert _exr_unrle(_imfrle(data)) == data


@given(st.integers(min_value=0, max_value=20), st.integers(min_value=0))
def test_pmtiles_hilbert_inverse(z, d):
    """tileid → (z,x,y) inverts the test-local Hilbert xy→d encoder."""
    from intake_spark.geo import _tileid_to_zxy
    from tests.test_bio_geo_stats import _hilbert_xy2d

    d = d % (1 << (2 * z)) if z else 0
    acc = sum(1 << (2 * i) for i in range(z))
    zz, x, y = _tileid_to_zxy(acc + d)
    assert zz == z
    assert _hilbert_xy2d(z, x, y) == d


@given(
    st.lists(
        st.tuples(
            st.floats(-180, 180, allow_nan=False, width=32),
            st.floats(-90, 90, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_wkb_linestring_roundtrip(pts):
    """WKB encode (test-local) → GeoPackage blob decode preserves every
    coordinate exactly (float64 carried verbatim)."""
    from intake_spark.geo import gpkg_blob_to_geojson
    from tests.test_gpkg import _gp_blob, _wkb_linestring

    pts = [[float(x), float(y)] for x, y in pts]
    gtype, geom = gpkg_blob_to_geojson(_gp_blob(_wkb_linestring(pts)))
    assert gtype == "LineString"
    assert geom["coordinates"] == [[struct.unpack("<d", struct.pack("<d", x))[0], y] for x, y in pts]


@given(st.lists(st.integers(-8388608, 8388607), min_size=1, max_size=64))
def test_wav_24bit_sign_extension(samples):
    """Any 24-bit PCM sample list round-trips through decode_wav."""
    import io
    import wave

    from intake_spark.llm.multimodal import decode_wav

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(8000)
        for s in samples:
            w.writeframes(struct.pack("<i", s)[:3])
    _, arr = decode_wav(buf.getvalue())
    assert arr[:, 0].tolist() == samples


_avro_value = st.deferred(
    lambda: st.one_of(
        st.integers(-(2**40), 2**40),
        st.text(max_size=12),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.booleans(),
        st.none(),
    )
)


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "i": st.integers(-(2**50), 2**50),
                "s": st.text(max_size=16),
                "d": st.floats(allow_nan=False, allow_infinity=False, width=64),
                "o": st.one_of(st.none(), st.text(max_size=8)),
                "a": st.lists(st.integers(-(2**20), 2**20), max_size=5),
                "m": st.dictionaries(st.text(min_size=1, max_size=6),
                                     st.integers(-100, 100), max_size=4),
            }
        ),
        max_size=12,
    ),
    st.sampled_from(["null", "deflate"]),
)
def test_avro_block_roundtrip(records, codec):
    """Encoder (test-side) → OCF bytes → decoder: zigzag varints, unions,
    arrays, maps, block framing and both codecs round-trip exactly."""
    import tempfile

    from intake_spark.lakehouse import decode_avro_file
    from tests.test_lakehouse import write_avro

    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "o", "type": ["null", "string"]},
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ],
    }
    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro(f.name, schema, records, codec=codec, block_size=3)
        got = decode_avro_file(f.name)
    assert got == records


@given(st.lists(st.integers(-(2**62), 2**62 - 1), max_size=30))
def test_avro_zigzag_varlong_roundtrip(values):
    from intake_spark.lakehouse import _Buf
    from tests.test_lakehouse import _zz

    raw = b"".join(_zz(v) for v in values)
    buf = _Buf(raw)
    assert [buf.varlong() for _ in values] == values


# --- msgpack wire-format codec ------------------------------------------

_mp_scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=80),
    st.binary(max_size=40),
)
_mp_value = st.recursive(
    _mp_scalar,
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(max_size=10), children, max_size=5),
    ),
    max_leaves=12,
)


def _mp_encode(obj) -> bytes:
    """Independent spec-built encoder (NOT the reader's code path)."""
    import struct

    if obj is None:
        return b"\xc0"
    if obj is True:
        return b"\xc3"
    if obj is False:
        return b"\xc2"
    if isinstance(obj, int):
        if 0 <= obj <= 0x7F:
            return bytes([obj])
        if -32 <= obj < 0:
            return bytes([obj & 0xFF])
        if obj >= 0:
            if obj <= 0xFF:
                return b"\xcc" + bytes([obj])
            if obj <= 0xFFFF:
                return b"\xcd" + obj.to_bytes(2, "big")
            if obj <= 0xFFFFFFFF:
                return b"\xce" + obj.to_bytes(4, "big")
            return b"\xcf" + obj.to_bytes(8, "big")
        if obj >= -(2**7):
            return b"\xd0" + obj.to_bytes(1, "big", signed=True)
        if obj >= -(2**15):
            return b"\xd1" + obj.to_bytes(2, "big", signed=True)
        if obj >= -(2**31):
            return b"\xd2" + obj.to_bytes(4, "big", signed=True)
        return b"\xd3" + obj.to_bytes(8, "big", signed=True)
    if isinstance(obj, float):
        return b"\xcb" + struct.pack(">d", obj)
    if isinstance(obj, bytes):
        n = len(obj)
        if n <= 0xFF:
            return b"\xc4" + bytes([n]) + obj
        return b"\xc5" + n.to_bytes(2, "big") + obj
    if isinstance(obj, str):
        e = obj.encode("utf-8")
        n = len(e)
        if n <= 31:
            return bytes([0xA0 | n]) + e
        if n <= 0xFF:
            return b"\xd9" + bytes([n]) + e
        return b"\xda" + n.to_bytes(2, "big") + e
    if isinstance(obj, list):
        n = len(obj)
        head = bytes([0x90 | n]) if n <= 15 else b"\xdc" + n.to_bytes(2, "big")
        return head + b"".join(_mp_encode(x) for x in obj)
    if isinstance(obj, dict):
        n = len(obj)
        head = bytes([0x80 | n]) if n <= 15 else b"\xde" + n.to_bytes(2, "big")
        return head + b"".join(_mp_encode(k) + _mp_encode(v) for k, v in obj.items())
    raise TypeError(type(obj))


@given(st.lists(_mp_value, min_size=1, max_size=6))
def test_msgpack_decoder_roundtrip(objs):
    from intake_spark.documents import _mp_decode

    blob = b"".join(_mp_encode(o) for o in objs)
    pos = 0
    got = []
    while pos < len(blob):
        v, pos = _mp_decode(blob, pos)
        got.append(v)
    assert got == objs


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False)),
            st.one_of(st.none(), st.text(max_size=30)),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=15, deadline=None)
def test_avro_cell_encoding_matches_reader(rows):
    """Sink-side zigzag/double/string encoding decodes bit-exactly through
    the OCF reader's record decoder."""
    from intake_spark.lakehouse import _Buf, _avro_decode
    from intake_spark.output import _avro_encode_cell, _avro_zigzag

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": ["null", "long"]},
            {"name": "b", "type": ["null", "double"]},
            {"name": "c", "type": ["null", "string"]},
        ],
    }
    blob = bytearray()
    for a, b, c in rows:
        blob += b"\x02" + _avro_zigzag(a)
        blob += b"\x00" if b is None else b"\x02" + _avro_encode_cell(b, "double")
        blob += b"\x00" if c is None else b"\x02" + _avro_encode_cell(c, "string")
    buf = _Buf(bytes(blob))
    for a, b, c in rows:
        rec = _avro_decode(buf, schema, {})
        assert rec["a"] == a
        assert rec["b"] == b or (rec["b"] is not None and rec["b"] == b)
        assert rec["c"] == c


@settings(max_examples=40)
@given(st.binary(min_size=0, max_size=3000))
def test_tiff_lzw_roundtrip_property(payload):
    """Arbitrary byte payloads survive the TIFF-LZW encoder/decoder pair
    (MSB-first, early change) — exercises literal, repeat, and
    width-growth paths the fixed fixtures may miss."""
    from intake_spark.sci import lzw_decode_tiff
    from tests.test_tiff import _lzw_encode_tiff

    assert lzw_decode_tiff(_lzw_encode_tiff(payload)) == payload


@settings(max_examples=40)
@given(st.binary(min_size=1, max_size=2000), st.integers(min_value=2, max_value=8))
def test_gif_lzw_roundtrip_property(payload, mcs):
    """GIF-variant LZW (LSB-first, late change) round-trip over arbitrary
    index streams constrained to the color-table alphabet."""
    from intake_spark.llm.multimodal import lzw_decode_gif
    from tests.test_flac import _lzw_encode_gif

    alphabet = 1 << mcs
    idx = bytes(b % alphabet for b in payload)
    assert lzw_decode_gif(_lzw_encode_gif(idx, mcs), mcs) == idx


@settings(max_examples=30)
@given(
    st.lists(st.integers(min_value=-(1 << 15), max_value=(1 << 15) - 1),
             min_size=3, max_size=64),
    st.sampled_from(["verbatim", "fixed2", "escape"]),
)
def test_flac_subframe_roundtrip_property(samples, kind):
    """Any 16-bit sample sequence round-trips through every self-
    contained subframe encoding."""
    from intake_spark.llm.flac import decode_flac
    from tests.test_flac import make_flac

    data = make_flac(
        [samples], bps=16,
        frames=[{"start": 0, "size": len(samples), "kinds": [kind]}],
    )
    _, arr, _ = decode_flac(data)
    assert arr[:, 0].tolist() == samples


@settings(max_examples=30)
@given(
    st.binary(min_size=8, max_size=1024),
    st.sampled_from([1, 2, 4, 8]),
    st.booleans(),
)
def test_blosc_frame_roundtrip_property(payload, typesize, shuffle):
    from intake_spark.compress import blosc_decompress
    from tests.test_documents_arrays import _blosc_frame

    assert blosc_decompress(_blosc_frame(payload, typesize=typesize, shuffle=shuffle)) == payload
    assert blosc_decompress(_blosc_frame(payload, typesize=typesize, memcpy=True)) == payload


@given(
    st.integers(1, 6),
    st.integers(1, 9),
    st.integers(1, 7),
    st.data(),
)
def test_pnm_raw_roundtrip(kind_idx, w, h, data):
    """Encode random pixel arrays into P4/P5/P6 (and 16-bit P5) and decode
    back bit-exactly."""
    import numpy as np

    from intake_spark.llm.multimodal import decode_pnm

    kind = [4, 5, 6, 5][kind_idx % 4]
    wide = kind_idx == 3
    if kind == 4:
        bits = data.draw(
            st.lists(st.integers(0, 1), min_size=w * h, max_size=w * h)
        )
        arr = np.array(bits, dtype=np.uint8).reshape(h, w)
        rowbytes = (w + 7) // 8
        packed = np.packbits(
            np.pad(arr, ((0, 0), (0, rowbytes * 8 - w))), axis=1
        )
        blob = b"P4\n%d %d\n" % (w, h) + packed.tobytes()
        out = decode_pnm(blob)
        assert ((out[:, :, 0] == 0) == (arr == 1)).all()
        return
    nch = 3 if kind == 6 else 1
    maxval = 65535 if wide else 255
    vals = data.draw(
        st.lists(st.integers(0, maxval), min_size=w * h * nch, max_size=w * h * nch)
    )
    dt = ">u2" if wide else np.uint8
    arr = np.array(vals, dtype=dt).reshape(h, w, nch)
    blob = b"P%d\n%d %d\n%d\n" % (kind, w, h, maxval) + arr.tobytes()
    out = decode_pnm(blob)
    assert out.shape == (h, w, nch)
    assert (out == arr.astype(out.dtype)).all()


@given(st.integers(1, 8), st.integers(1, 6), st.data())
def test_tga_rle_roundtrip(w, h, data):
    """RLE-encode random BGR pixel rows (mixed run/raw packets) and decode
    back to the exact RGB image."""
    import numpy as np

    from intake_spark.llm.multimodal import decode_tga

    px = data.draw(
        st.lists(st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3)
    )
    img_bgr = np.array(px, dtype=np.uint8).reshape(h * w, 3)
    # greedy RLE encoder: runs of identical pixels vs raw spans
    out = bytearray()
    i = 0
    while i < len(img_bgr):
        j = i
        while (
            j + 1 < len(img_bgr)
            and (img_bgr[j + 1] == img_bgr[i]).all()
            and j - i < 127
        ):
            j += 1
        if j > i:  # run packet
            out.append(0x80 | (j - i))
            out.extend(img_bgr[i].tobytes())
            i = j + 1
        else:  # single raw packet
            out.append(0x00)
            out.extend(img_bgr[i].tobytes())
            i += 1
    hdr = bytes([0, 0, 10, 0, 0, 0, 0, 0, 0, 0, 0, 0]) + w.to_bytes(
        2, "little"
    ) + h.to_bytes(2, "little") + bytes([24, 0x20])
    got = decode_tga(hdr + bytes(out))
    want = img_bgr.reshape(h, w, 3)[:, :, ::-1]
    assert (got == want).all()


@given(st.integers(8000, 48000), st.integers(1, 2), st.lists(st.integers(-(2**15), 2**15 - 1), min_size=2, max_size=40))
def test_aiff_pcm16_roundtrip(rate, nch, vals):
    import numpy as np

    from intake_spark.llm.multimodal import decode_aiff

    vals = vals[: len(vals) - len(vals) % nch]
    if not vals:
        vals = [0] * nch
    arr = np.array(vals, dtype=">i2").reshape(-1, nch)
    import math

    exp = int(math.floor(math.log2(rate)))
    mant = int(rate / 2.0**exp * (1 << 63))
    ext80 = (exp + 16383).to_bytes(2, "big") + mant.to_bytes(8, "big")
    comm = nch.to_bytes(2, "big") + len(arr).to_bytes(4, "big") + (16).to_bytes(2, "big") + ext80
    ssnd = bytes(8) + arr.tobytes()
    body = b"AIFF" + b"COMM" + len(comm).to_bytes(4, "big") + comm
    body += b"SSND" + len(ssnd).to_bytes(4, "big") + ssnd
    blob = b"FORM" + len(body).to_bytes(4, "big") + body
    r, got, bits = decode_aiff(blob)
    assert r == rate and bits == 16
    assert got.tolist() == arr.astype(np.int16).tolist()


_coord = st.tuples(
    st.integers(-1000, 1000).map(lambda v: v / 4.0),
    st.integers(-1000, 1000).map(lambda v: v / 4.0),
).map(list)
_ring = st.lists(_coord, min_size=3, max_size=6)
_geojson = st.one_of(
    st.builds(lambda c: {"type": "Point", "coordinates": c}, _coord),
    st.builds(lambda c: {"type": "LineString", "coordinates": c},
              st.lists(_coord, min_size=2, max_size=5)),
    st.builds(lambda c: {"type": "MultiPoint", "coordinates": c},
              st.lists(_coord, min_size=1, max_size=4)),
    st.builds(lambda r: {"type": "Polygon", "coordinates": r},
              st.lists(_ring, min_size=1, max_size=3)),
    st.builds(lambda r: {"type": "MultiLineString", "coordinates": r},
              st.lists(st.lists(_coord, min_size=2, max_size=4), min_size=1, max_size=3)),
    st.builds(lambda p: {"type": "MultiPolygon", "coordinates": p},
              st.lists(st.lists(_ring, min_size=1, max_size=2), min_size=1, max_size=2)),
)


@given(_geojson)
def test_wkt_wkb_geojson_fixed_points(doc):
    """Random geometries: GeoJSON→WKT→GeoJSON and GeoJSON→WKB→GeoJSON are
    both identities (the three geometry codecs agree)."""
    from intake_spark.geo import (
        _wkb_geom,
        geojson_to_wkb,
        geojson_to_wkt,
        wkt_to_geojson,
    )

    gtype, back = wkt_to_geojson(geojson_to_wkt(doc))
    assert gtype == doc["type"] and back == doc

    wtype, coords, _ = _wkb_geom(geojson_to_wkb(doc), 0)
    assert wtype == doc["type"] and coords == doc["coordinates"]


@given(st.integers(1, 12), st.integers(1, 64), st.binary(min_size=1, max_size=24))
def test_lz4_match_copy_overlap_periods(offset, match_len, seed):
    """Self-overlapping LZ4 matches must decode to the byte-at-a-time
    spec semantics for every (offset, match_len) combination."""
    from intake_spark.compress import lz4_block_decompress

    seed = seed[: max(1, min(len(seed), offset))]
    lit = (seed * ((offset // len(seed)) + 1))[:offset]
    # one sequence: `offset` literals then a match of match_len at -offset
    token_lit = min(offset, 15)
    token_match = min(match_len, 15 + 4) - 4 if match_len >= 4 else None
    if token_match is None:
        return  # LZ4 min match is 4
    token = (token_lit << 4) | min(match_len - 4, 15)
    blob = bytes([token])
    if token_lit == 15:
        rest = offset - 15
        while rest >= 255:
            blob += b"\xff"
            rest -= 255
        blob += bytes([rest])
    blob += lit
    blob += offset.to_bytes(2, "little")
    if match_len - 4 >= 15:
        rest = match_len - 4 - 15
        while rest >= 255:
            blob += b"\xff"
            rest -= 255
        blob += bytes([rest])
    # final literals-only sequence: LZ4's end-of-block rules want the
    # last 5 bytes literal and the last match to start 12 bytes or more
    # before the end
    tail = b"endblock"
    blob += bytes([len(tail) << 4]) + tail
    want = bytearray(lit)
    start = len(want) - offset
    for i in range(match_len):
        want.append(want[start + i])
    want += tail
    got = lz4_block_decompress(blob, len(want))
    assert got == bytes(want)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(1, 18), st.integers(1, 18),      # h, w
    st.integers(0, 3),                            # levels
    st.tuples(st.integers(0, 5), st.integers(0, 5)),  # grid offset
    st.booleans(),                                # irreversible
    st.integers(0, 2**31 - 1),
)
def test_jpeg2000_roundtrip_property(h, w, levels, off, irreversible, seed):
    """Any small geometry (odd sizes, odd reference-grid origins, every
    level count) round-trips: bit-exact for 5/3, within the unit
    quantizer bound for 9/7."""
    import numpy as np

    from intake_spark.llm.jpeg2000 import decode_jpeg2000, encode_jpeg2000

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    blob = encode_jpeg2000(
        img, levels=levels, cb_exp=4, grid_offset=off, irreversible=irreversible
    )
    back = decode_jpeg2000(blob)
    assert back.shape == img.shape
    if irreversible:
        assert np.abs(back.astype(int) - img.astype(int)).max() <= 3
    else:
        assert (back == img).all()


@settings(max_examples=20, deadline=None)
@given(
    st.integers(1, 3), st.integers(1, 3),  # block grid
    st.integers(1, 30),                    # band split point
    st.floats(0.05, 0.6),                  # density
    st.integers(0, 2**31 - 1),
)
def test_progressive_jpeg_equals_baseline_property(bh, bw, split, dense, seed):
    """The full successive-approximation ladder reconstructs exactly the
    coefficients the baseline scan encodes, for arbitrary sparse layouts
    and band splits."""
    import numpy as np

    from intake_spark.llm.multimodal import decode_jpeg
    from tests.test_jpeg_progressive import (
        make_gray_baseline,
        make_gray_progressive,
        random_blocks,
    )

    rng = np.random.default_rng(seed)
    blocks = random_blocks(rng, bh, bw, dense=dense)
    w, h = bw * 8, bh * 8
    base = decode_jpeg(make_gray_baseline(w, h, blocks))
    prog = decode_jpeg(
        make_gray_progressive(w, h, blocks, bands=((1, split), (split + 1, 63)))
    )
    np.testing.assert_array_equal(prog, base)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(1, 12), st.integers(1, 12),  # h, w
    st.integers(1, 3),                       # components
    st.integers(0, 2),                       # near
    st.integers(0, 2**31 - 1),
)
def test_jpegls_multicomponent_roundtrip_property(h, w, nc, near, seed):
    import numpy as np

    from intake_spark.llm.jpegls import decode_jpegls, encode_jpegls

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, nc), dtype=np.uint8)
    back = decode_jpegls(encode_jpegls(img if nc > 1 else img[:, :, 0], near=near))
    if nc > 1:
        assert back.shape == (h, w, nc)
    else:
        back = back[:, :, None] if back.ndim == 3 else back.reshape(h, w, 1)
        img = img
    err = np.abs(back.reshape(h, w, -1).astype(int) - img.astype(int)).max()
    assert err <= near
