"""WebP-lossless (VP8L) decoder — stdlib + numpy, from the public bitstream
spec (RFC 9649). Parity: the reference decodes WebP via PIL/libwebp
(readers.py:2228, datatypes.py:390-412); this implements the lossless
profile directly: LSB-first bit reading, simple and code-length-coded
prefix codes, meta-prefix (entropy image) selection, color cache, LZ77
backward references with the 2D distance map, and all four transforms
(predictor, color, subtract-green, color-indexing incl. pixel bundling).

Lossy WebP (VP8 chunks) is a DCT video intra-frame and stays gated — that
codec genuinely needs libwebp. ``decode_webp`` returns (H, W, 4) RGBA
uint8, matching the shape contract of the other image decoders in
multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np

from intake_spark.bitio import LSBReader, LSBWriter

__all__ = ["decode_webp", "decode_vp8l"]

# code-length-code read order (RFC 9649 §3.7.1.2)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# 2D distance map for dist codes 1..120 (RFC 9649 §3.6.3): (dx, dy) pairs
# sorted by proximity; code i maps to table[i-1], dist = dy * xsize + dx.
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (8, 3), (4, 8), (-4, 8), (6, 7), (-6, 7),
    (7, 6), (-7, 6), (8, 4), (5, 7), (-5, 7), (8, 5), (7, 7), (-7, 7),
    (8, 6), (8, 7),
]


class _Huff:
    """Canonical prefix code: decode walks MSB-first, one bit per level."""

    def __init__(self, lengths: dict[int, int]):
        # canonical assignment: by length, then symbol order (RFC 9649 §3.7.1)
        self.table: dict[tuple[int, int], int] = {}
        code = 0
        nz = {s: ln for s, ln in lengths.items() if ln > 0}
        if len(nz) == 1:
            # degenerate: single used symbol, zero bits per decode
            self.single = next(iter(nz))
            return
        self.single = None
        for ln in range(1, 16):
            for sym in sorted(s for s, v in nz.items() if v == ln):
                self.table[(ln, code)] = sym
                code += 1
            code <<= 1

    def decode(self, br: LSBReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | br.read(1)
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code")


def _read_prefix_code(br: LSBReader, alphabet_size: int) -> _Huff:
    if br.read(1):  # simple code: one or two symbols
        num_symbols = br.read(1) + 1
        first = br.read(8) if br.read(1) else br.read(1)
        lengths = {first: 1}
        if num_symbols == 2:
            lengths[br.read(8)] = 1
        else:
            return _Huff({first: 1})  # degenerate single-symbol
        return _Huff(lengths)
    # normal: code-length-coded lengths
    num_codes = br.read(4) + 4
    cl_lengths = {i: 0 for i in range(19)}
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl = _Huff(cl_lengths)
    if br.read(1):  # use a max_symbol cap for trailing zeros
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths: dict[int, int] = {}
    prev = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = cl.decode(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                lengths[symbol] = prev
                symbol += 1
        elif s == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
    return _Huff(lengths)


def _prefix_value(br: LSBReader, s: int) -> int:
    """LZ77 length/distance prefix decode (RFC 9649 §3.6.2.2)."""
    if s < 4:
        return s + 1
    extra = (s - 2) >> 1
    offset = (2 + (s & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_pixels(br: LSBReader, w: int, h: int, allow_meta: bool) -> np.ndarray:
    """Entropy-coded ARGB image → uint32 array (h, w). Used for the main
    image (allow_meta=True) and recursively for transform/entropy/palette
    sub-images (allow_meta=False). Every entropy-coded image carries its
    own color-cache field; only the main image may carry a meta-prefix
    (entropy) image."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"bad VP8L color-cache bits {cache_bits}")
    meta_huff = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):  # entropy image selects per-block codes
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_px = _decode_pixels(br, mw, mh, False)
        meta_huff = ((meta_px >> 8) & 0xFFFF).astype(np.int64)  # red<<8|green
        n_groups = int(meta_huff.max()) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _ in range(n_groups):
        green = _read_prefix_code(br, 256 + 24 + cache_size)
        red = _read_prefix_code(br, 256)
        blue = _read_prefix_code(br, 256)
        alpha = _read_prefix_code(br, 256)
        dist = _read_prefix_code(br, 40)
        groups.append((green, red, blue, alpha, dist))
    cache = [0] * cache_size
    out = np.zeros(h * w, dtype=np.uint32)
    pos = 0
    total = h * w
    while pos < total:
        if meta_huff is not None:
            x, y = pos % w, pos // w
            g = groups[int(meta_huff[y >> meta_bits, x >> meta_bits])]
        else:
            g = groups[0]
        s = g[0].decode(br)
        if s < 256:  # literal ARGB
            r = g[1].decode(br)
            b = g[2].decode(br)
            a = g[3].decode(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif s < 256 + 24:  # backward reference
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, g[4].decode(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = max(1, dy * w + dx)
            if dist > pos or pos + length > total:
                raise ValueError("VP8L backward reference out of range")
            for i in range(length):  # sequential: overlapping refs repeat
                out[pos + i] = out[pos - dist + i]
                if cache_size:
                    pxv = int(out[pos + i])
                    cache[(0x1E35A7BD * pxv & 0xFFFFFFFF) >> (32 - cache_bits)] = pxv
            pos += length
        else:  # color-cache reference
            out[pos] = cache[s - 280]
            pos += 1
    return out.reshape(h, w)


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-channel (a + b) >> 1 on packed ARGB uint32 vectors."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _unpack(px: int) -> list[int]:
    return [(px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF]


def _pack(ch: list[int]) -> int:
    return ((ch[0] & 0xFF) << 24) | ((ch[1] & 0xFF) << 16) | ((ch[2] & 0xFF) << 8) | (ch[3] & 0xFF)


def _predict(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return int(_avg2(_avg2(np.uint32(L), np.uint32(TR)), np.uint32(T)))
    if mode == 6:
        return int(_avg2(np.uint32(L), np.uint32(TL)))
    if mode == 7:
        return int(_avg2(np.uint32(L), np.uint32(T)))
    if mode == 8:
        return int(_avg2(np.uint32(TL), np.uint32(T)))
    if mode == 9:
        return int(_avg2(np.uint32(T), np.uint32(TR)))
    if mode == 10:
        return int(_avg2(_avg2(np.uint32(L), np.uint32(TL)), _avg2(np.uint32(T), np.uint32(TR))))
    lc, tc, tlc = _unpack(L), _unpack(T), _unpack(TL)
    if mode == 11:  # Select
        p = [lc[i] + tc[i] - tlc[i] for i in range(4)]
        p_l = sum(abs(p[i] - lc[i]) for i in range(4))
        p_t = sum(abs(p[i] - tc[i]) for i in range(4))
        return L if p_l < p_t else T
    if mode == 12:  # ClampAddSubtractFull
        return _pack([min(255, max(0, lc[i] + tc[i] - tlc[i])) for i in range(4)])
    if mode == 13:  # ClampAddSubtractHalf
        ave = _unpack(int(_avg2(np.uint32(L), np.uint32(T))))
        return _pack([min(255, max(0, ave[i] + int((ave[i] - tlc[i]) / 2))) for i in range(4)])
    raise ValueError(f"bad predictor mode {mode}")


def _delta(t: int, c: int) -> int:
    """Signed color-transform delta: (int8(t) * int8(c)) >> 5 (RFC §4.4.3)."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L chunk payload → (H, W, 4) RGBA uint8."""
    if not data or data[0] != 0x2F:
        raise ValueError("not a VP8L stream (signature 0x2f missing)")
    br = LSBReader(data, 1, codec="VP8L")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-used hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")

    transforms = []  # applied inverse in reverse read order
    palette = None
    dec_w = w
    while br.read(1):
        ttype = br.read(2)
        if ttype == 0:  # predictor
            bits = br.read(3) + 2
            bw, bh = (dec_w + (1 << bits) - 1) >> bits, (h + (1 << bits) - 1) >> bits
            transforms.append(("predictor", bits, _decode_pixels(br, bw, bh, False)))
        elif ttype == 1:  # color transform
            bits = br.read(3) + 2
            bw, bh = (dec_w + (1 << bits) - 1) >> bits, (h + (1 << bits) - 1) >> bits
            transforms.append(("color", bits, _decode_pixels(br, bw, bh, False)))
        elif ttype == 2:
            transforms.append(("subtract-green",))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal_px = _decode_pixels(br, n_colors, 1, False)[0]
            # palette entries are stored as deltas of the previous entry,
            # added per channel (mod 256)
            acc = 0
            palette = []
            for px in pal_px:
                pc, ac = _unpack(int(px)), _unpack(acc)
                acc = _pack([ac[i] + pc[i] for i in range(4)])
                palette.append(acc)
            width_bits = 3 if n_colors <= 2 else 2 if n_colors <= 4 else 1 if n_colors <= 16 else 0
            dec_w = (w + (1 << width_bits) - 1) >> width_bits
            transforms.append(("index", width_bits, palette))

    argb = _decode_pixels(br, dec_w, h, True)

    for t in reversed(transforms):
        if t[0] == "subtract-green":
            g = (argb >> 8) & 0xFF
            r = (((argb >> 16) & 0xFF) + g) & 0xFF
            b = ((argb & 0xFF) + g) & 0xFF
            argb = (argb & 0xFF00FF00) | (r << 16) | b
        elif t[0] == "color":
            bits, cimg = t[1], t[2]
            hh, ww = argb.shape
            for y in range(hh):
                for x in range(ww):
                    # cte channels (RFC §4.4.3): blue ch = green_to_red,
                    # green ch = green_to_blue, red ch = red_to_blue
                    cx = _unpack(int(cimg[y >> bits, x >> bits]))
                    g2r, g2b, r2b = cx[3], cx[2], cx[1]
                    a, r, g, b = _unpack(int(argb[y, x]))
                    r = (r + _delta(g2r, g)) & 0xFF
                    b = (b + _delta(g2b, g) + _delta(r2b, r)) & 0xFF
                    argb[y, x] = _pack([a, r, g, b])
        elif t[0] == "predictor":
            bits, pimg = t[1], t[2]
            hh, ww = argb.shape
            for y in range(hh):
                for x in range(ww):
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = int(argb[0, x - 1])  # top row: L
                    elif x == 0:
                        pred = int(argb[y - 1, 0])  # left col: T
                    else:
                        mode = (int(pimg[y >> bits, x >> bits]) >> 8) & 0xFF
                        L = int(argb[y, x - 1])
                        T = int(argb[y - 1, x])
                        TL = int(argb[y - 1, x - 1])
                        # rightmost column: TR wraps in RASTER order to the
                        # current row's leftmost pixel (already decoded) —
                        # pixel (y-1)*w + w IS pixel (y, 0), per RFC 9649
                        TR = int(argb[y - 1, x + 1]) if x + 1 < ww else int(argb[y, 0])
                        pred = _predict(mode, L, T, TL, TR)
                    res, pd = _unpack(int(argb[y, x])), _unpack(pred)
                    argb[y, x] = _pack([res[i] + pd[i] for i in range(4)])
        elif t[0] == "index":
            width_bits, palette = t[1], t[2]
            if width_bits == 0:
                idx = (argb >> 8) & 0xFF
                lut = np.array(palette + [0] * (256 - len(palette)), dtype=np.uint32)
                argb = lut[idx]
            else:
                px_per = 1 << width_bits
                bits_per = 8 >> width_bits
                mask = (1 << bits_per) - 1
                full = np.zeros((h, w), dtype=np.uint32)
                packed = (argb >> 8) & 0xFF
                for y in range(h):
                    for x in range(w):
                        v = int(packed[y, x >> width_bits])
                        i = (v >> ((x % px_per) * bits_per)) & mask
                        full[y, x] = palette[i] if i < len(palette) else 0
                argb = full

    a = (argb >> 24) & 0xFF
    r = (argb >> 16) & 0xFF
    g = (argb >> 8) & 0xFF
    b = argb & 0xFF
    return np.stack([r, g, b, a], axis=2).astype(np.uint8)


def decode_webp(content: bytes) -> np.ndarray:
    """RIFF/WEBP container → RGBA array. Lossless (VP8L) decodes natively;
    lossy (VP8) and extended (VP8X-wrapped lossy/animation) raise with the
    codec named."""
    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    pos = 12
    end = min(len(content), 8 + struct.unpack_from("<I", content, 4)[0])
    while pos + 8 <= end:
        fourcc = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l(body)
        if fourcc == b"VP8X":
            pos += 8 + size + (size & 1)
            continue  # scan flags block for an inner VP8L
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8 intra-frame DCT) needs libwebp; "
                "only lossless (VP8L) decodes natively"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("WebP container has no VP8L/VP8 image chunk")


# ---------------------------------------------------------------------------
# Encoder (lossless VP8L): literal-coded pixels under per-channel
# canonical Huffman codes — a valid, losslessly round-trippable WebP
# writer (no LZ77/transform search, so not rate-competitive with
# libwebp; the entropy layer is real). Parity surface: PILImageToPNG-
# style writers in the reference (output.py:268+) via PIL, which can
# also emit WebP.
# ---------------------------------------------------------------------------


def _huff_lengths(hist: dict[int, int], cap: int) -> dict[int, int]:
    """Huffman code lengths for a histogram, depth-capped at ``cap``
    (falls back to balanced lengths if the optimal tree is too deep)."""
    import heapq

    syms = sorted(hist)
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(cnt, i, (s,)) for i, (s, cnt) in enumerate(sorted(hist.items()))]
    heapq.heapify(heap)
    i = len(heap)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        c1, _i1, s1 = heapq.heappop(heap)
        c2, _i2, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (c1 + c2, i, s1 + s2))
        i += 1
    if max(depth.values()) > cap:
        # balanced fallback: ceil(log2(n)) bits with Kraft completion
        n = len(syms)
        hi = (n - 1).bit_length()
        k = (1 << hi) - n  # symbols promoted one level up to stay complete
        return {s: (hi - 1 if j < k else hi) for j, s in enumerate(syms)}
    return depth


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Symbol → (code, len) with the decoder's canonical assignment
    (by length, then symbol order)."""
    codes = {}
    code = 0
    for ln in range(1, 16):
        for sym in sorted(s for s, v in lengths.items() if v == ln):
            codes[sym] = (code, ln)
            code += 1
        code <<= 1
    return codes


def _write_code_lengths(bw: LSBWriter, lengths: dict[int, int],
                        alphabet_size: int) -> dict:
    """Serialize one prefix code (RFC 9649 §3.5): simple two-symbol form
    when possible, else code-length-coded lengths with 16/17/18 repeats.
    Returns symbol → (code, len) for the emitted code."""
    used = sorted(s for s, v in lengths.items() if v > 0)
    if 1 <= len(used) <= 2 and all(s < 256 for s in used):
        bw.write(1, 1)                  # simple code
        bw.write(len(used) - 1, 1)      # num_symbols - 1
        first = used[0]
        if first > 1:
            bw.write(1, 1)              # first symbol uses 8 bits
            bw.write(first, 8)
        else:
            bw.write(0, 1)
            bw.write(first, 1)
        if len(used) == 2:
            bw.write(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}        # degenerate: zero bits per decode
    # normal form: RLE the dense length sequence into code-length symbols
    seq = [lengths.get(s, 0) for s in range(alphabet_size)]
    while seq and seq[-1] == 0:
        seq.pop()  # trailing zeros via alphabet exhaustion below
    tokens: list[tuple[int, int]] = []  # (cl_symbol, extra_value)
    i = 0
    prev = None
    while i < len(seq):
        v = seq[i]
        run = 1
        while i + run < len(seq) and seq[i + run] == v:
            run += 1
        if v == 0:
            left = run
            while left >= 3:
                take = min(left, 138)
                if take >= 11:
                    tokens.append((18, take - 11))
                else:
                    take = min(take, 10)
                    tokens.append((17, take - 3))
                left -= take
            tokens.extend((0, 0) for _ in range(left))
        else:
            tokens.append((v, 0))
            prev = v
            left = run - 1
            while left >= 3:
                take = min(left, 6)
                tokens.append((16, take - 3))
                left -= take
            tokens.extend((v, 0) for _ in range(left))
        i += run
    cl_hist: dict[int, int] = {}
    for t, _e in tokens:
        cl_hist[t] = cl_hist.get(t, 0) + 1
    # pad the implied tail: decoder's loop needs symbol >= alphabet_size
    # OR max_symbol; we use max_symbol to stop exactly after `seq`
    cl_lengths = _huff_lengths(cl_hist, 7)
    cl_codes = _canonical_codes(cl_lengths)
    bw.write(0, 1)        # normal (not simple)
    bw.write(19 - 4, 4)   # all 19 code-length slots
    for s in _CL_ORDER:
        bw.write(cl_lengths.get(s, 0), 3)
    # max_symbol: stop the reader right after the last non-zero length
    bw.write(1, 1)
    length_nbits = 2 + 2 * 7
    bw.write(7, 3)
    bw.write(len(tokens) - 2, length_nbits)
    for t, e in tokens:
        c, ln = cl_codes[t]
        if ln:
            for k in range(ln - 1, -1, -1):
                bw.write((c >> k) & 1, 1)
        if t == 16:
            bw.write(e, 2)
        elif t == 17:
            bw.write(e, 3)
        elif t == 18:
            bw.write(e, 7)
    return _canonical_codes(lengths)


def encode_webp(img) -> bytes:
    """Encode (H, W) gray / (H, W, 3) RGB / (H, W, 4) RGBA uint8 as a
    LOSSLESS WebP (VP8L): per-channel canonical Huffman over literal
    pixels. Round-trips bit-exactly through :func:`decode_webp`."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("encode_webp takes (H, W[, 3|4]) uint8")
    h, w = img.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("WebP dimensions must be 1..16384")
    r = img[:, :, 0].ravel()
    g = img[:, :, 1].ravel()
    b = img[:, :, 2].ravel()
    a = (img[:, :, 3] if img.shape[2] == 4
         else np.full(h * w, 255, dtype=np.uint8)).ravel()

    bw = LSBWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if img.shape[2] == 4 else 0, 1)  # alpha hint
    bw.write(0, 3)   # version
    bw.write(0, 1)   # no transforms
    bw.write(0, 1)   # no color cache
    bw.write(0, 1)   # no meta prefix image

    def hist(arr):
        vals, cnts = np.unique(arr, return_counts=True)
        return {int(v): int(c) for v, c in zip(vals, cnts)}

    codes = []
    for chan, alpha_sz in ((g, 280), (r, 256), (b, 256), (a, 256)):
        lengths = _huff_lengths(hist(chan), 15)
        codes.append(_write_code_lengths(bw, lengths, alpha_sz))
    _write_code_lengths(bw, {0: 1}, 40)  # distance code: never used

    cg, cr, cb_, ca = codes
    for i in range(h * w):
        for code, v in ((cg, g[i]), (cr, r[i]), (cb_, b[i]), (ca, a[i])):
            c, ln = code[int(v)]
            for k in range(ln - 1, -1, -1):
                bw.write((c >> k) & 1, 1)

    payload = bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
