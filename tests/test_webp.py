"""VP8L (WebP-lossless) decoder vs hand-encoded bitstreams built directly
from the RFC 9649 spec: LSB-first bit packing, simple and code-length-coded
prefix codes, LZ77 backrefs, color cache, and all four transforms
(subtract-green, predictor, color, palette incl. pixel bundling) are each
encoded here bit by bit and pixel-verified — no libwebp, no PIL."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from intake_spark.llm.webp import _CL_ORDER, decode_vp8l, decode_webp


class WB:
    """LSB-first bit writer (mirror of the decoder's reader)."""

    def __init__(self):
        self.bits: list[int] = []

    def write(self, v: int, n: int):
        self.bits += [(v >> i) & 1 for i in range(n)]

    def code(self, code: int, n: int):
        """Prefix-code bits are consumed MSB-first by the tree walk."""
        self.bits += [(code >> i) & 1 for i in range(n - 1, -1, -1)]

    def bytes(self) -> bytes:
        out = bytearray()
        for k in range(0, len(self.bits), 8):
            byte = 0
            for i, b in enumerate(self.bits[k : k + 8]):
                byte |= b << i
            out.append(byte)
        return bytes(out)


def simple_code(wb: WB, symbols: list[int]):
    """Emit a 'simple' prefix code (1-2 symbols, canonical: the smaller
    symbol value takes code 0)."""
    wb.write(1, 1)
    wb.write(len(symbols) - 1, 1)
    first = symbols[0]
    if first > 1:
        wb.write(1, 1)
        wb.write(first, 8)
    else:
        wb.write(0, 1)
        wb.write(first, 1)
    if len(symbols) == 2:
        wb.write(symbols[1], 8)


def canon(symbols_lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Canonical code per symbol → (nbits, code)."""
    out = {}
    code = 0
    for ln in range(1, 16):
        for s in sorted(s for s, v in symbols_lengths.items() if v == ln):
            out[s] = (ln, code)
            code += 1
        code <<= 1
    return out


def normal_code(wb: WB, lengths: dict[int, int], alphabet: int):
    """Emit a code-length-coded prefix code for symbol lengths that exceed
    the simple form (symbols >= 256 or >2 symbols). Uses CL symbols
    {0,1,2,17,18} with equal 3-bit CL codes."""
    wb.write(0, 1)  # not a simple code
    used_cl = sorted({v for v in lengths.values()} | {0, 17, 18})
    assert all(c in (0, 1, 2, 3, 17, 18) for c in used_cl)
    cl_lengths = {c: 3 for c in used_cl}
    cl_codes = canon(cl_lengths)
    # cover every used CL symbol's position in the read order
    maxpos = max(_CL_ORDER.index(c) for c in used_cl)
    num_codes = max(4, maxpos + 1)
    wb.write(num_codes - 4, 4)
    for i in range(num_codes):
        wb.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    wb.write(0, 1)  # no max_symbol cap -> must cover the WHOLE alphabet
    sym = 0
    while sym < alphabet:
        ln = lengths.get(sym, 0)
        if ln:
            wb.code(cl_codes[ln][1], cl_codes[ln][0])
            sym += 1
            continue
        run = 0
        while sym + run < alphabet and lengths.get(sym + run, 0) == 0:
            run += 1
        while run:
            if run >= 11:
                n = min(run, 138)
                wb.code(cl_codes[18][1], cl_codes[18][0])
                wb.write(n - 11, 7)
                run -= n
                sym += n
            elif run >= 3:
                wb.code(cl_codes[17][1], cl_codes[17][0])
                wb.write(run - 3, 3)
                sym += run
                run = 0
            else:
                wb.code(cl_codes[0][1], cl_codes[0][0])
                sym += 1
                run -= 1


def vp8l_header(wb: WB, w: int, h: int):
    wb.write(0x2F, 8)
    wb.write(w - 1, 14)
    wb.write(h - 1, 14)
    wb.write(0, 1)  # alpha hint
    wb.write(0, 3)  # version


def no_meta_no_cache(wb: WB):
    wb.write(0, 1)  # no color cache
    wb.write(0, 1)  # no meta prefix image


def test_literal_two_greens():
    """2x2, two green values via a 2-symbol code; r/b/a single-symbol
    (zero bits each) — checks bit order and row-major pixel order."""
    wb = WB()
    vp8l_header(wb, 2, 2)
    wb.write(0, 1)  # no transforms
    no_meta_no_cache(wb)
    simple_code(wb, [10, 200])  # green: 10->code0, 200->code1
    simple_code(wb, [7])        # red
    simple_code(wb, [3])        # blue
    simple_code(wb, [255])      # alpha
    simple_code(wb, [0])        # distance (unused)
    for bit in [0, 1, 1, 0]:    # greens: 10,200,200,10
        wb.write(bit, 1)        # 1-bit code == its own MSB
    img = decode_vp8l(wb.bytes())
    assert img.shape == (2, 2, 4)
    np.testing.assert_array_equal(img[:, :, 1], [[10, 200], [200, 10]])
    assert (img[:, :, 0] == 7).all() and (img[:, :, 2] == 3).all() and (img[:, :, 3] == 255).all()


def test_lz77_backref_overlapping():
    """4x1: one literal then a length-3 distance-1 backref (overlapping
    copy repeats the pixel). Green code carries the length prefix symbol
    256+2 (value 3) via a code-length-coded table."""
    wb = WB()
    vp8l_header(wb, 4, 1)
    wb.write(0, 1)
    no_meta_no_cache(wb)
    glens = {40: 1, 256 + 2: 1}
    normal_code(wb, glens, 256 + 24)
    simple_code(wb, [9])    # red
    simple_code(wb, [8])    # blue
    simple_code(wb, [255])  # alpha
    simple_code(wb, [1])    # distance prefix symbol 1 -> value 2 -> dist map[1]=(1,0) -> 1
    gc = canon(glens)
    wb.code(gc[40][1], gc[40][0])          # literal green 40
    wb.code(gc[256 + 2][1], gc[256 + 2][0])  # length prefix 2 -> length 3
    img = decode_vp8l(wb.bytes())
    np.testing.assert_array_equal(img[:, :, 1], [[40, 40, 40, 40]])
    np.testing.assert_array_equal(img[:, :, 0], [[9, 9, 9, 9]])


def test_color_cache_hit():
    """1x2 with a 4-bit color cache: literal pixel then a cache reference
    to it — checks the 0x1e35a7bd hash index."""
    a, r, g, b = 255, 12, 34, 56
    px = (a << 24) | (r << 16) | (g << 8) | b
    cache_bits = 4
    idx = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
    wb = WB()
    vp8l_header(wb, 2, 1)
    wb.write(0, 1)          # no transforms
    wb.write(1, 1)          # color cache present
    wb.write(cache_bits, 4)
    wb.write(0, 1)          # no meta
    glens = {g: 1, 280 + idx: 1}
    normal_code(wb, glens, 256 + 24 + (1 << cache_bits))
    simple_code(wb, [r])
    simple_code(wb, [b])
    simple_code(wb, [a])
    simple_code(wb, [0])
    gc = canon(glens)
    wb.code(gc[g][1], gc[g][0])
    wb.code(gc[280 + idx][1], gc[280 + idx][0])
    img = decode_vp8l(wb.bytes())
    np.testing.assert_array_equal(img[0, 0], [r, g, b, a])
    np.testing.assert_array_equal(img[0, 1], [r, g, b, a])


def test_subtract_green_transform():
    """Constant 2x2 behind subtract-green: stored r/b are deltas."""
    wb = WB()
    vp8l_header(wb, 2, 2)
    wb.write(1, 1)  # transform present
    wb.write(2, 2)  # subtract-green
    wb.write(0, 1)  # no more transforms
    no_meta_no_cache(wb)
    simple_code(wb, [30])                 # green
    simple_code(wb, [(100 - 30) & 0xFF])  # stored red = r - g
    simple_code(wb, [(20 - 30) & 0xFF])   # stored blue = b - g (wraps)
    simple_code(wb, [255])
    simple_code(wb, [0])
    img = decode_vp8l(wb.bytes())
    assert (img[:, :, 0] == 100).all()
    assert (img[:, :, 1] == 30).all()
    assert (img[:, :, 2] == 20).all()


def _emit_literal(wb, codes, a, r, g, b):
    """Emit one literal pixel: green, red, blue, alpha codes in order."""
    for ch, val in (("g", g), ("r", r), ("b", b), ("a", a)):
        nbits, code = codes[ch].get(val, (0, 0))
        if nbits:
            wb.code(code, nbits)


def test_predictor_transform_interleaved():
    A, R, G, B = 255, 5, 6, 7
    wb = WB()
    vp8l_header(wb, 2, 2)
    wb.write(1, 1)
    wb.write(0, 2)
    wb.write(0, 3)  # size_bits = 2
    wb.write(0, 1)  # sub-image: cache bit only, no meta bit
    simple_code(wb, [2])  # predictor mode 2 (Top)
    simple_code(wb, [0])
    simple_code(wb, [0])
    simple_code(wb, [0])
    simple_code(wb, [0])
    wb.write(0, 1)
    no_meta_no_cache(wb)
    glens, rlens, blens = {0: 1, G: 1}, {0: 1, R: 1}, {0: 1, B: 1}
    simple_code(wb, [0, G])
    simple_code(wb, [0, R])
    simple_code(wb, [0, B])
    simple_code(wb, [0])  # alpha residual always 0
    simple_code(wb, [0])  # distance
    codes = {"g": canon(glens), "r": canon(rlens), "b": canon(blens), "a": {0: (0, 0)}}
    _emit_literal(wb, codes, 0, R, G, B)  # (0,0): residual vs black (a:255-255=0)
    _emit_literal(wb, codes, 0, 0, 0, 0)  # (0,1): pred = L, residual 0
    _emit_literal(wb, codes, 0, 0, 0, 0)  # (1,0): pred = T, residual 0
    _emit_literal(wb, codes, 0, 0, 0, 0)  # (1,1): mode Top, residual 0
    img = decode_vp8l(wb.bytes())
    np.testing.assert_array_equal(img[:, :, 0], [[R, R], [R, R]])
    np.testing.assert_array_equal(img[:, :, 1], [[G, G], [G, G]])
    np.testing.assert_array_equal(img[:, :, 2], [[B, B], [B, B]])
    np.testing.assert_array_equal(img[:, :, 3], [[A, A], [A, A]])


def test_palette_with_pixel_bundling():
    """4x1 image over a 2-color palette: width_bits=3, so all four 1-bit
    indices pack into one green byte; palette entries are delta-coded."""
    c0 = (255, 0, 10, 0)   # a, r, g, b
    c1 = (255, 0, 20, 0)
    wb = WB()
    vp8l_header(wb, 4, 1)
    wb.write(1, 1)  # transform present
    wb.write(3, 2)  # color indexing
    wb.write(1, 8)  # n_colors - 1 = 1
    # palette sub-image 2x1, delta-coded: first = c0, second = c1 - c0
    wb.write(0, 1)  # sub-image: cache bit only, no meta bit
    simple_code(wb, [10])        # greens: 10, then delta 10
    simple_code(wb, [0])
    simple_code(wb, [0])
    simple_code(wb, [0, 255])    # alphas: 255 then 0 -> 0->code0, 255->code1
    simple_code(wb, [0])
    wb.write(1, 1)  # palette px0 alpha=255 -> code 1
    wb.write(0, 1)  # palette px1 alpha=0   -> code 0
    wb.write(0, 1)  # no more transforms
    # main image: packed width ceil(4/8)=1, pixels' indices 0,1,0,1 LSB-first
    no_meta_no_cache(wb)
    packed = 0b1010
    simple_code(wb, [packed])
    simple_code(wb, [0])
    simple_code(wb, [0])
    simple_code(wb, [0])
    simple_code(wb, [0])
    img = decode_vp8l(wb.bytes())
    np.testing.assert_array_equal(img[0, :, 1], [10, 20, 10, 20])
    np.testing.assert_array_equal(img[0, :, 3], [255, 255, 255, 255])


def _webp_container(vp8l_payload: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(vp8l_payload)) + vp8l_payload
    if len(vp8l_payload) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def test_webp_container_and_gates():
    wb = WB()
    vp8l_header(wb, 1, 1)
    wb.write(0, 1)
    no_meta_no_cache(wb)
    for sym in ([77], [1], [2], [3], [0]):
        simple_code(wb, sym)
    img = decode_webp(_webp_container(wb.bytes()))
    np.testing.assert_array_equal(img[0, 0], [1, 77, 2, 3])
    with pytest.raises(ValueError, match="not a WebP"):
        decode_webp(b"RIFF\x04\x00\x00\x00WAVE")
    lossy = b"RIFF" + struct.pack("<I", 12) + b"WEBP" + b"VP8 " + struct.pack("<I", 0)
    with pytest.raises(NotImplementedError, match="lossy WebP"):
        decode_webp(lossy)


def test_webp_through_image_features(spark, tmp_path):
    """decode_image magic dispatch + the standard Arrow-batched feature
    stage run end-to-end on a .webp file."""
    from intake_spark.datatypes import recommend
    from intake_spark.llm.multimodal import image_features, read_binary_dir

    wb = WB()
    vp8l_header(wb, 2, 2)
    wb.write(0, 1)
    no_meta_no_cache(wb)
    simple_code(wb, [10, 200])
    simple_code(wb, [7])
    simple_code(wb, [3])
    simple_code(wb, [255])
    simple_code(wb, [0])
    for bit in [0, 1, 1, 0]:
        wb.write(bit, 1)
    p = tmp_path / "img.webp"
    p.write_bytes(_webp_container(wb.bytes()))
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__ for c in recommend(str(p))]
    assert "WEBP" in kinds
    df = read_binary_dir(spark, str(tmp_path), glob="*.webp")
    row = image_features(df, keep_cols=["path"]).collect()[0]
    assert (row.width, row.height, row.n_channels) == (2, 2, 4)
    # mean over RGBA: R=7, G in {10,200} avg 105, B=3, A=255
    assert abs(row.mean_intensity - (7 + 105 + 3 + 255) / 4) < 1e-9


def test_predictor_tr_rightmost_column_wraps_to_current_row():
    """Mode 3 (TopRight): for the rightmost column, TR wraps in raster
    order to the CURRENT row's leftmost pixel (RFC 9649), not the row
    above's. Pixel (1,1) must predict from (1,0)."""
    G0, R1 = 10, 5
    wb = WB()
    vp8l_header(wb, 2, 2)
    wb.write(1, 1)
    wb.write(0, 2)
    wb.write(0, 3)  # size_bits = 2 -> one tile
    wb.write(0, 1)
    simple_code(wb, [3])  # predictor mode 3 (TopRight)
    simple_code(wb, [0])
    simple_code(wb, [0])
    simple_code(wb, [0])
    simple_code(wb, [0])
    wb.write(0, 1)
    no_meta_no_cache(wb)
    glens, rlens = {0: 1, G0: 1}, {0: 1, R1: 1}
    simple_code(wb, [0, G0])
    simple_code(wb, [0, R1])
    simple_code(wb, [0])  # blue residuals always 0
    simple_code(wb, [0])  # alpha residuals 0
    simple_code(wb, [0])  # distance
    codes = {"g": canon(glens), "r": canon(rlens), "b": {0: (0, 0)}, "a": {0: (0, 0)}}
    _emit_literal(wb, codes, 0, 0, G0, 0)   # (0,0): vs black -> g=G0
    _emit_literal(wb, codes, 0, 0, 0, 0)    # (0,1): top row, pred=L
    _emit_literal(wb, codes, 0, R1, 0, 0)   # (1,0): pred=T, r += R1
    _emit_literal(wb, codes, 0, 0, 0, 0)    # (1,1): TR pred -> (1,0)
    img = decode_vp8l(wb.bytes())
    assert img[1, 0, 0] == R1
    # the regression: old code predicted from (0,0) (r=0); spec says (1,0)
    assert img[1, 1, 0] == R1
    assert img[1, 1, 1] == G0


def test_encode_webp_roundtrip():
    """The VP8L encoder (r9): per-channel canonical Huffman over
    literal pixels — every shape/alpha combination round-trips
    bit-exactly through the independent decoder, and the entropy layer
    genuinely compresses (constant images collapse to simple codes)."""
    rng = np.random.default_rng(5)
    from intake_spark.llm.webp import encode_webp

    for shape in [(8, 8), (33, 47, 3), (20, 20, 4), (1, 1), (5, 300, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        out = decode_webp(encode_webp(img))
        exp = img if img.ndim == 3 else np.stack([img] * 3, axis=-1)
        if exp.shape[-1] == 3:
            exp = np.concatenate(
                [exp, np.full(exp.shape[:2] + (1,), 255, np.uint8)], axis=-1
            )
        np.testing.assert_array_equal(out, exp)
    # cut inside the header, the prefix codes and the pixels: a named
    # error from the bit reader's end check, not an IndexError
    blob = encode_webp(img)
    for cut in (23, 40, len(blob) - 5):
        with pytest.raises(ValueError, match="VP8L bitstream truncated"):
            decode_webp(blob[:cut])
    flat = np.full((64, 64, 3), 9, dtype=np.uint8)
    assert len(encode_webp(flat)) < 100  # simple codes: ~0 bits/px
    skew = (rng.integers(0, 8, (64, 64, 3)) ** 2 * 4).astype(np.uint8)
    assert len(encode_webp(skew)) < 64 * 64 * 4 // 3  # real Huffman gain


def test_encode_webp_two_symbol_simple_code():
    from intake_spark.llm.webp import encode_webp

    img = np.where(np.add.outer(np.arange(16), np.arange(16)) % 2, 200, 30)
    out = decode_webp(encode_webp(img.astype(np.uint8)))
    np.testing.assert_array_equal(out[:, :, 0], img)
    assert len(encode_webp(img.astype(np.uint8))) < 160  # ~3 bits/px


def test_to_webp_sink(spark, tmp_path):
    from intake_spark import output
    from intake_spark.llm.webp import decode_webp as dec

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (12, 10), dtype=np.uint8)
    rows = [(i, 0, [float(v) for v in img[i]], [12, 10]) for i in range(12)]
    df = spark.createDataFrame(
        rows, "offset0 long, offset1 long, values array<double>, shape array<int>"
    )
    url = str(tmp_path / "x.webp")
    out = output.to_webp(df, url)
    got = dec(open(url, "rb").read())
    np.testing.assert_array_equal(got[:, :, 1], img)
