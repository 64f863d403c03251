"""Native Vorbis I decoder (stdlib + numpy).

Vorbis is the one lossy codec whose entropy codebooks are carried in
the STREAM'S OWN setup header — unlike VP8/AVC there are no external
constant tables to transcribe, so a spec-faithful stdlib decode is
possible: OGG page walk → header packets (identification, comment,
setup) → per-packet floor-1 curve + residue VQ → inverse coupling →
dot product → IMDCT → lapped Vorbis windows → PCM.

Reference surface: the reference reads OGG audio via librosa/soundfile
(LibrosaAudioReader, /root/reference/intake/readers/readers.py:2169);
this module replaces that delegation for Vorbis, with the soundfile
ladder demoted to fallback (non-Vorbis OGG codecs such as Opus still
delegate).

Scope: floor types 0 (LSP, legacy) and 1, residue types 0/1/2,
square-polar channel coupling, all block/window transitions.

The companion :func:`encode_vorbis` is a real (if rate-naive) encoder:
MDCT → flat floor-1 per block/channel → quantized residue via a
31x31-entry lattice VQ book — enough to produce conformant streams for
round-trip tests and the to_ogg sink.
"""

from __future__ import annotations

import struct

from intake_spark.bitio import LSBReader, LSBWriter

# ---------------------------------------------------------------------------
# OGG container (RFC 3533): page walk + CRC + packet assembly
# ---------------------------------------------------------------------------

_CRC_TABLE = None


def _ogg_crc_table():
    global _CRC_TABLE
    if _CRC_TABLE is None:
        tab = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
                r &= 0xFFFFFFFF
            tab.append(r)
        _CRC_TABLE = tab
    return _CRC_TABLE


def ogg_crc(data: bytes) -> int:
    """OGG page CRC: 32-bit, poly 0x04C11DB7, no reflection, init/xor 0."""
    tab = _ogg_crc_table()
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ tab[((r >> 24) & 0xFF) ^ b]
    return r


def ogg_packets(content: bytes):
    """Walk OGG pages of the FIRST logical stream → (packets, granules)
    where granules[i] is the page granule position at whose page packet
    i COMPLETED (None when it spans into a continued page)."""
    if content[:4] != b"OggS":
        raise ValueError("not an OGG stream (no OggS capture)")
    pos = 0
    serial = None
    packets: list[bytes] = []
    granules: list = []
    cur = bytearray()
    open_packet = False
    while pos + 27 <= len(content):
        if content[pos : pos + 4] != b"OggS":
            break
        ver, htype = content[pos + 4], content[pos + 5]
        if ver != 0:
            raise ValueError(f"OGG page version {ver}")
        (granule,) = struct.unpack_from("<q", content, pos + 6)
        (ser,) = struct.unpack_from("<I", content, pos + 14)
        (crc,) = struct.unpack_from("<I", content, pos + 22)
        nsegs = content[pos + 26]
        lacing = content[pos + 27 : pos + 27 + nsegs]
        body = pos + 27 + nsegs
        size = sum(lacing)
        page = bytearray(content[pos : body + size])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc:
            raise ValueError(f"OGG page CRC mismatch at byte {pos}")
        if serial is None:
            serial = ser
        if ser == serial:
            if not (htype & 1) and open_packet:
                # continuation flag missing but a packet is open: the
                # previous page ended exactly at a packet boundary with
                # lacing 255 — impossible; treat as stream error
                raise ValueError("OGG continuation flag inconsistent")
            off = body
            for li, lace in enumerate(lacing):
                cur += content[off : off + lace]
                off += lace
                if lace < 255:
                    packets.append(bytes(cur))
                    granules.append(
                        granule if li == nsegs - 1 or granule >= 0 else None
                    )
                    cur = bytearray()
                    open_packet = False
                else:
                    open_packet = True
        pos = body + size
    return packets, granules


def ogg_pages(packets, serial: int = 1, granules=None) -> bytes:
    """Assemble packets into OGG pages: packet 0 alone on the BOS page,
    remaining header packets on page 1, then one page per audio packet
    (granules[i] = absolute sample count completed by audio packet i;
    the final page carries EOS)."""
    out = bytearray()

    def page(body_packets, seq, granule, htype):
        lacing = bytearray()
        body = bytearray()
        for p in body_packets:
            q = len(p)
            while q >= 255:
                lacing.append(255)
                q -= 255
            lacing.append(q)
            body += p
        hdr = bytearray(b"OggS\x00")
        hdr.append(htype)
        hdr += struct.pack("<qIII", granule, serial, seq, 0)
        hdr.append(len(lacing))
        hdr += lacing
        pg = bytes(hdr) + bytes(body)
        crc = ogg_crc(pg)
        return pg[:22] + struct.pack("<I", crc) + pg[26:]

    seq = 0
    out += page([packets[0]], seq, 0, 0x02)  # BOS
    seq += 1
    n_hdr = 3 if len(packets) >= 3 else len(packets)
    if n_hdr > 1:
        out += page(packets[1:n_hdr], seq, 0, 0)
        seq += 1
    audio = packets[n_hdr:]
    for i, p in enumerate(audio):
        g = granules[i] if granules else 0
        out += page([p], seq, g, 0x04 if i == len(audio) - 1 else 0)
        seq += 1
    return bytes(out)


def _ilog(x: int) -> int:
    """Vorbis ilog: bits needed for x (ilog(0)=0, ilog(7)=3)."""
    return max(x, 0).bit_length()


def _float32_unpack(x: int) -> float:
    mant = x & 0x1FFFFF
    exp = (x & 0x7FE00000) >> 21
    if x & 0x80000000:
        mant = -mant
    return mant * (2.0 ** (exp - 788))


def _float32_pack(v: float) -> int:
    """Inverse of :func:`_float32_unpack` (encoder side)."""
    import math

    sign = 0x80000000 if v < 0 else 0
    v = abs(v)
    if v == 0:
        return 788 << 21
    exp = int(math.floor(math.log2(v))) - 20
    mant = int(round(v / 2.0 ** exp))
    while mant > 0x1FFFFF:
        mant >>= 1
        exp += 1
    return sign | ((exp + 788) << 21) | mant


def _lookup1_values(entries: int, dims: int) -> int:
    r = int(round(entries ** (1.0 / dims)))
    while (r + 1) ** dims <= entries:
        r += 1
    while r ** dims > entries:
        r -= 1
    return r


# ---------------------------------------------------------------------------
# Codebooks (Vorbis I section 3)
# ---------------------------------------------------------------------------


def _assign_codewords(lengths):
    """Canonical Vorbis codeword assignment: each used entry takes the
    LOWEST available codeword of its length, in entry order. Returns
    {entry: (code, len)} with code bits MSB-first. Raises on over- or
    under-specified trees (both are stream errors per Vorbis I 3.2.1),
    except the single-used-entry special case."""
    used = [(i, l) for i, l in enumerate(lengths) if l > 0]
    if len(used) == 1:
        # single-entry codebook: the entry is coded with one bit
        return {used[0][0]: (0, 1)}, False
    free = [(0, 0)]  # (len, code) prefix-free set, root initially
    codes = {}
    for i, l in used:
        # lowest codeword of length l extends the smallest free node of
        # depth <= l (compare by left-aligned value)
        best = None
        for node in free:
            if node[0] <= l:
                key = node[1] << (32 - node[0])
                if best is None or key < best_key:
                    best, best_key = node, key
        if best is None:
            raise ValueError("Vorbis codebook is over-specified")
        free.remove(best)
        d, c = best
        while d < l:
            # descend the 0 branch, release the 1 branch
            free.append((d + 1, (c << 1) | 1))
            c <<= 1
            d += 1
        codes[i] = (c, l)
    underfull = bool(free)
    return codes, underfull


class _Codebook:
    def __init__(self, br: LSBReader):
        if br.read(24) != 0x564342:
            raise ValueError("Vorbis codebook sync lost")
        self.dims = br.read(16)
        self.entries = br.read(24)
        lengths = [0] * self.entries
        if br.read(1):  # ordered
            cur_len = br.read(5) + 1
            cur = 0
            while cur < self.entries:
                num = br.read(_ilog(self.entries - cur))
                if cur + num > self.entries:
                    raise ValueError("Vorbis ordered codebook overflows")
                for k in range(cur, cur + num):
                    lengths[k] = cur_len
                cur += num
                cur_len += 1
        else:
            sparse = br.read(1)
            for k in range(self.entries):
                if sparse:
                    lengths[k] = br.read(5) + 1 if br.read(1) else 0
                else:
                    lengths[k] = br.read(5) + 1
        self.lengths = lengths
        codes, underfull = _assign_codewords(lengths)
        if underfull:
            raise ValueError("Vorbis codebook tree is under-specified")
        # decode trie as nested dicts keyed by (len, code)
        self._dec = {cl: e for e, cl in ((e, codes[e]) for e in codes)}
        self._maxlen = max((l for _c, l in codes.values()), default=0)
        self._by_entry = codes

        self.lookup = br.read(4)
        self.vectors = None
        if self.lookup in (1, 2):
            self.minimum = _float32_unpack(br.read(32))
            self.delta = _float32_unpack(br.read(32))
            vbits = br.read(4) + 1
            self.seq_p = br.read(1)
            lv = (_lookup1_values(self.entries, self.dims)
                  if self.lookup == 1 else self.entries * self.dims)
            self.mults = [br.read(vbits) for k in range(lv)]
            self.lv = lv
        elif self.lookup != 0:
            raise ValueError(f"Vorbis codebook lookup type {self.lookup}")

    def decode_scalar(self, br: LSBReader) -> int:
        code = 0
        ln = 0
        while ln <= self._maxlen:
            code = (code << 1) | br.read(1)
            ln += 1
            e = self._dec.get((code, ln))
            if e is not None:
                return e
        raise ValueError("Vorbis codeword not found (corrupt packet)")

    def decode_vector(self, br: LSBReader):
        e = self.decode_scalar(br)
        if self.lookup == 0:
            raise ValueError("VQ decode from a scalar-only codebook")
        out = [0.0] * self.dims
        last = 0.0
        if self.lookup == 1:
            lv = self.lv
            idiv = 1
            for d in range(self.dims):
                off = (e // idiv) % lv
                out[d] = self.mults[off] * self.delta + self.minimum + last
                if self.seq_p:
                    last = out[d]
                idiv *= lv
        else:
            for d in range(self.dims):
                out[d] = (self.mults[e * self.dims + d] * self.delta
                          + self.minimum + last)
                if self.seq_p:
                    last = out[d]
        return out

    def encode_scalar(self, bw: LSBWriter, e: int):
        code, ln = self._by_entry[e]
        for i in range(ln - 1, -1, -1):
            bw.write((code >> i) & 1, 1)


# ---------------------------------------------------------------------------
# Floor type 1 (Vorbis I section 7)
# ---------------------------------------------------------------------------

# amplitude ladder: 10^((i-255) * 35/1280) — endpoints 1.0649863e-07 / 1.0,
# i.e. 140.0 dB across 256 steps
FLOOR1_INVERSE_DB = [10.0 ** ((i - 255) * 0.02734375) for i in range(256)]
_FLOOR1_RANGES = [256, 128, 86, 64]


def _render_point(x0, y0, x1, y1, x):
    dy = y1 - y0
    adx = x1 - x0
    err = abs(dy) * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def _render_line(x0, y0, x1, y1, v, n):
    dy = y1 - y0
    adx = x1 - x0
    base = abs(dy) // adx
    if dy < 0:
        base = -base
    sy = base + 1 if dy > 0 else base - 1
    ady = abs(dy) - abs(base) * adx
    x = x0
    y = y0
    err = 0
    if x0 < n:
        v[x0] = y0
    for x in range(x0 + 1, min(x1, n)):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        v[x] = y


class _Floor0:
    """Floor type 0 (Vorbis I §6): LSP (line spectral pair) floors, the
    legacy curve type old encoders emitted. Coefficients arrive as
    cumulative VQ vectors; the curve is the LSP magnitude response
    sampled on a Bark-warped map of the half-spectrum."""

    def __init__(self, br: LSBReader):
        self.order = br.read(8)
        self.rate = br.read(16)
        self.bark_map_size = br.read(16)
        self.amp_bits = br.read(6)
        self.amp_offset = br.read(8)
        nbooks = br.read(4) + 1
        self.book_list = [br.read(8) for _ in range(nbooks)]
        if not self.order or not self.rate or not self.bark_map_size:
            raise ValueError("Vorbis floor0 header: zero order/rate/map size")
        self._maps = {}  # n2 -> bark map (np array)

    def _bark_map(self, n2: int, np):
        m = self._maps.get(n2)
        if m is None:
            def bark(x):
                return (13.1 * np.arctan(0.00074 * x)
                        + 2.24 * np.arctan(1.85e-8 * x * x)
                        + 1e-4 * x)

            i = np.arange(n2)
            m = np.minimum(
                self.bark_map_size - 1,
                np.floor(bark(0.5 * self.rate * i / n2)
                         * self.bark_map_size / bark(0.5 * self.rate)),
            ).astype(np.int64)
            self._maps[n2] = m
        return m

    def decode(self, br: LSBReader, books, n2: int):
        """→ amplitude curve (length n2) or None (unused channel)."""
        import numpy as np

        amplitude = br.read(self.amp_bits)
        if amplitude <= 0:
            return None
        booknum = br.read(_ilog(len(self.book_list)))
        if booknum >= len(self.book_list):
            raise ValueError("Vorbis floor0 packet: book number out of range")
        book = books[self.book_list[booknum]]
        coeffs = []
        last = 0.0
        while len(coeffs) < self.order:
            vec = book.decode_vector(br)
            coeffs.extend(last + v for v in vec)
            last = coeffs[-1]
        coeffs = coeffs[: self.order]

        # curve computation (§6.2.3): p/q are the LSP polynomial halves
        # evaluated at the Bark-mapped frequencies
        cmap = self._bark_map(n2, np)
        omega = np.pi * cmap / self.bark_map_size
        cw = np.cos(omega)
        cos_c = np.cos(np.asarray(coeffs))
        if self.order % 2:
            p = (1.0 - cw * cw)
            for j in range((self.order - 1) // 2):
                p = p * 4.0 * (cos_c[2 * j + 1] - cw) ** 2
            q = np.full(n2, 0.25)
            for j in range((self.order + 1) // 2):
                q = q * 4.0 * (cos_c[2 * j] - cw) ** 2
        else:
            p = (1.0 - cw) / 2.0
            q = (1.0 + cw) / 2.0
            for j in range(self.order // 2):
                p = p * 4.0 * (cos_c[2 * j + 1] - cw) ** 2
                q = q * 4.0 * (cos_c[2 * j] - cw) ** 2
        linear = np.exp(
            0.11512925
            * (amplitude * self.amp_offset
               / (((1 << self.amp_bits) - 1) * np.sqrt(p + q))
               - self.amp_offset)
        )
        return linear


class _Floor1:
    def __init__(self, br: LSBReader):
        self.partitions = br.read(5)
        self.class_list = [br.read(4) for _ in range(self.partitions)]
        maxc = max(self.class_list, default=-1)
        self.cdim = []
        self.cbits = []
        self.masterbook = []
        self.subbooks = []
        for c in range(maxc + 1):
            self.cdim.append(br.read(3) + 1)
            bits = br.read(2)
            self.cbits.append(bits)
            self.masterbook.append(br.read(8) if bits else -1)
            self.subbooks.append(
                [br.read(8) - 1 for _ in range(1 << bits)]
            )
        self.multiplier = br.read(2) + 1
        rangebits = br.read(4)
        xs = [0, 1 << rangebits]
        for i in range(self.partitions):
            for _j in range(self.cdim[self.class_list[i]]):
                xs.append(br.read(rangebits))
        if len(set(xs)) != len(xs):
            raise ValueError("floor1 X list has duplicate values")
        self.xs = xs
        self.rangebits = rangebits

    def decode(self, br: LSBReader, books, n2: int):
        """→ amplitude curve (length n2) or None (unused channel)."""
        if not br.read(1):
            return None
        rng = _FLOOR1_RANGES[self.multiplier - 1]
        ybits = _ilog(rng - 1)
        y = [br.read(ybits), br.read(ybits)]
        for i in range(self.partitions):
            cls = self.class_list[i]
            cdim = self.cdim[cls]
            cbits = self.cbits[cls]
            csub = (1 << cbits) - 1
            cval = 0
            if cbits:
                cval = books[self.masterbook[cls]].decode_scalar(br)
            for _j in range(cdim):
                book = self.subbooks[cls][cval & csub]
                cval >>= cbits
                y.append(books[book].decode_scalar(br) if book >= 0 else 0)
        return self._synthesize(y, n2)

    def _synthesize(self, y, n2: int):
        import numpy as np

        xs = self.xs
        npt = len(xs)
        rng = _FLOOR1_RANGES[self.multiplier - 1]
        final = [0] * npt
        step2 = [False] * npt
        final[0], final[1] = y[0], y[1]
        step2[0] = step2[1] = True
        for i in range(2, npt):
            low = max(
                (j for j in range(i) if xs[j] < xs[i]), key=lambda j: xs[j]
            )
            high = min(
                (j for j in range(i) if xs[j] > xs[i]), key=lambda j: xs[j]
            )
            pred = _render_point(xs[low], final[low], xs[high], final[high],
                                 xs[i])
            val = y[i]
            highroom = rng - pred
            lowroom = pred
            room = 2 * min(highroom, lowroom)
            if val:
                step2[low] = step2[high] = step2[i] = True
                if val >= room:
                    final[i] = (val - lowroom + pred if highroom > lowroom
                                else pred - (val - highroom) - 1)
                elif val & 1:
                    final[i] = pred - ((val + 1) >> 1)
                else:
                    final[i] = pred + (val >> 1)
            else:
                step2[i] = False
                final[i] = pred
        order = sorted(range(npt), key=lambda j: xs[j])
        v = [0] * n2
        hx = 0
        lx, ly = 0, final[order[0]] * self.multiplier
        for j in order[1:]:
            if not step2[j]:
                continue
            hx = xs[j]
            hy = min(final[j], rng - 1) * self.multiplier
            if hx >= n2 and lx >= n2:
                break
            _render_line(lx, min(ly, 255), hx, min(hy, 255), v, n2)
            lx, ly = hx, hy
        if hx < n2:
            for x in range(max(hx, lx), n2):
                v[x] = min(ly, 255)
        tab = FLOOR1_INVERSE_DB
        return np.array([tab[min(max(t, 0), 255)] for t in v])


# ---------------------------------------------------------------------------
# Residues (Vorbis I section 8)
# ---------------------------------------------------------------------------


class _Residue:
    def __init__(self, rtype: int, br: LSBReader):
        self.rtype = rtype
        self.begin = br.read(24)
        self.end = br.read(24)
        self.psize = br.read(24) + 1
        self.nclass = br.read(6) + 1
        self.classbook = br.read(8)
        cascades = []
        for _c in range(self.nclass):
            low = br.read(3)
            high = br.read(5) if br.read(1) else 0
            cascades.append((high << 3) | low)
        self.cascades = cascades
        self.books = []
        for c in range(self.nclass):
            row = []
            for p in range(8):
                row.append(br.read(8) if (cascades[c] >> p) & 1 else -1)
            self.books.append(row)

    def decode(self, br: LSBReader, books, nvec: int, vecsize: int,
               do_not: list):
        """→ list of nvec float lists (length vecsize)."""
        import numpy as np

        if self.rtype == 2:
            merged = [all(do_not)]
            out = self._decode01(br, books, 1, vecsize * nvec, merged,
                                 interleave=False)
            v = np.array(out[0])
            return [v[j::nvec] for j in range(nvec)]
        out = self._decode01(br, books, nvec, vecsize, do_not,
                             interleave=self.rtype == 0)
        return [np.array(o) for o in out]

    def _decode01(self, br, books, nvec, vecsize, do_not, interleave):
        cb = books[self.classbook]
        cwps = cb.dims  # partitions per classword
        limit = min(self.end, vecsize)
        begin = min(self.begin, limit)
        ptr = (limit - begin) // self.psize
        vecs = [[0.0] * vecsize for _ in range(nvec)]
        if ptr == 0 or all(do_not):
            return vecs
        cls = [[0] * (ptr + cwps) for _ in range(nvec)]
        for p in range(8):
            pc = 0
            while pc < ptr:
                if p == 0:
                    for j in range(nvec):
                        if do_not[j]:
                            continue
                        temp = cb.decode_scalar(br)
                        for i in range(cwps - 1, -1, -1):
                            cls[j][pc + i] = temp % self.nclass
                            temp //= self.nclass
                for _i in range(cwps):
                    if pc >= ptr:
                        break
                    for j in range(nvec):
                        if do_not[j]:
                            continue
                        book = self.books[cls[j][pc]][p]
                        if book < 0:
                            continue
                        bk = books[book]
                        off = begin + pc * self.psize
                        if interleave:  # residue type 0
                            step = self.psize // bk.dims
                            for k in range(step):
                                vec = bk.decode_vector(br)
                                for l in range(bk.dims):
                                    vecs[j][off + k + l * step] += vec[l]
                        else:  # types 1 and 2
                            k = 0
                            while k < self.psize:
                                vec = bk.decode_vector(br)
                                for l in range(bk.dims):
                                    vecs[j][off + k] += vec[l]
                                    k += 1
                    pc += 1
        return vecs


# ---------------------------------------------------------------------------
# Windows + IMDCT (Vorbis I sections 4.3.1, 4.3.3)
# ---------------------------------------------------------------------------

_IMDCT_CACHE: dict = {}


def vorbis_window(n: int, left_n: int, right_n: int):
    """Lapped Vorbis window: slope(x) = sin(pi/2 * sin^2(pi/2 *
    (x+0.5)/m)) over slope length m; long blocks next to short ones
    carry short slopes centered at n/4 and 3n/4 (zero outside)."""
    import numpy as np

    def asc(m):
        i = np.arange(m)
        return np.sin(0.5 * np.pi
                      * np.sin(0.5 * np.pi * (i + 0.5) / m) ** 2)

    w = np.zeros(n)
    ls = n // 4 - left_n // 2
    w[ls : ls + left_n] = asc(left_n)
    rs = 3 * n // 4 - right_n // 2
    w[ls + left_n : rs] = 1.0
    w[rs : rs + right_n] = asc(right_n)[::-1]
    return w


def imdct(X, n: int):
    """Vorbis IMDCT: y[j] = sum_k X[k] cos(2pi/n (j + 0.5 + n/4)(k + 0.5))."""
    import numpy as np

    key = n
    if key not in _IMDCT_CACHE:
        j = np.arange(n)[:, None]
        k = np.arange(n // 2)[None, :]
        _IMDCT_CACHE[key] = np.cos(
            2 * np.pi / n * (j + 0.5 + n / 4.0) * (k + 0.5)
        )
    return _IMDCT_CACHE[key] @ np.asarray(X, dtype=np.float64)


def mdct(x, n: int):
    """Forward MDCT matched to :func:`imdct` with 4/n normalization so
    windowed overlap-add is unit-gain."""
    import numpy as np

    key = n
    if key not in _IMDCT_CACHE:
        imdct([0.0] * (n // 2), n)
    return (4.0 / n) * (_IMDCT_CACHE[key].T @ np.asarray(x, dtype=np.float64))


# ---------------------------------------------------------------------------
# Stream setup + packet decode
# ---------------------------------------------------------------------------


class VorbisSetup:
    def __init__(self, id_packet: bytes, setup_packet: bytes):
        br = LSBReader(id_packet, codec="Vorbis")
        if br.read(8) != 1 or bytes(
            br.read(8) for _ in range(6)
        ) != b"vorbis":
            raise ValueError("not a Vorbis identification packet")
        if br.read(32) != 0:
            raise ValueError("Vorbis version != 0")
        self.channels = br.read(8)
        self.rate = br.read(32)
        br.read(32), br.read(32), br.read(32)  # bitrates
        bs = br.read(8)
        self.bs0 = 1 << (bs & 0xF)
        self.bs1 = 1 << (bs >> 4)
        if not br.read(1):
            raise ValueError("Vorbis id framing bit unset")
        if self.channels == 0 or self.rate == 0:
            raise ValueError("Vorbis id header: zero channels or rate")

        br = LSBReader(setup_packet, codec="Vorbis")
        if br.read(8) != 5 or bytes(
            br.read(8) for _ in range(6)
        ) != b"vorbis":
            raise ValueError("not a Vorbis setup packet")
        self.books = [_Codebook(br) for _ in range(br.read(8) + 1)]
        for _ in range(br.read(6) + 1):  # time transforms (placeholders)
            if br.read(16) != 0:
                raise ValueError("Vorbis time transform != 0")
        self.floors = []
        for _ in range(br.read(6) + 1):
            ftype = br.read(16)
            if ftype == 1:
                self.floors.append(_Floor1(br))
            elif ftype == 0:
                self.floors.append(_Floor0(br))
            else:
                raise ValueError(f"Vorbis floor type {ftype}")
        self.residues = []
        for _ in range(br.read(6) + 1):
            rtype = br.read(16)
            if rtype > 2:
                raise ValueError(f"Vorbis residue type {rtype}")
            self.residues.append(_Residue(rtype, br))
        self.mappings = []
        for _ in range(br.read(6) + 1):
            if br.read(16) != 0:
                raise ValueError("Vorbis mapping type != 0")
            submaps = br.read(4) + 1 if br.read(1) else 1
            coupling = []
            if br.read(1):
                steps = br.read(8) + 1
                cb = _ilog(self.channels - 1)
                coupling = [(br.read(cb), br.read(cb)) for _ in range(steps)]
            if br.read(2) != 0:
                raise ValueError("Vorbis mapping reserved bits set")
            mux = ([br.read(4) for _ in range(self.channels)]
                   if submaps > 1 else [0] * self.channels)
            sub = []
            for _s in range(submaps):
                br.read(8)  # unused time config
                sub.append((br.read(8), br.read(8)))  # (floor, residue)
            self.mappings.append(
                {"submaps": submaps, "coupling": coupling, "mux": mux,
                 "sub": sub}
            )
        self.modes = []
        for _ in range(br.read(6) + 1):
            blockflag = br.read(1)
            if br.read(16) != 0 or br.read(16) != 0:
                raise ValueError("Vorbis mode window/transform type != 0")
            self.modes.append({"blockflag": blockflag,
                               "mapping": br.read(8)})
        if not br.read(1):
            raise ValueError("Vorbis setup framing bit unset")

        # cross-reference validation: a corrupt stream must fail with a
        # NAMED error at setup, not an IndexError mid-packet
        nb = len(self.books)
        for fl in self.floors:
            if isinstance(fl, _Floor0):
                if any(b >= nb for b in fl.book_list):
                    raise ValueError(
                        "Vorbis floor references a missing codebook"
                    )
                if any(self.books[b].lookup == 0 for b in fl.book_list):
                    raise ValueError(
                        "Vorbis floor0 book has no value mapping"
                    )
                continue
            refs = [b for b in fl.masterbook if b >= 0]
            refs += [b for row in fl.subbooks for b in row if b >= 0]
            if any(b >= nb for b in refs):
                raise ValueError("Vorbis floor references a missing codebook")
        for res in self.residues:
            refs = [res.classbook] + [b for row in res.books
                                      for b in row if b >= 0]
            if any(b >= nb for b in refs):
                raise ValueError(
                    "Vorbis residue references a missing codebook"
                )
        nmap = len(self.mappings)
        for md in self.modes:
            if md["mapping"] >= nmap:
                raise ValueError("Vorbis mode references a missing mapping")
        nfl, nres = len(self.floors), len(self.residues)
        for mp in self.mappings:
            if any(f >= nfl or r >= nres for f, r in mp["sub"]):
                raise ValueError(
                    "Vorbis mapping references a missing floor/residue"
                )
            if any(mag >= self.channels or ang >= self.channels
                   or mag == ang for mag, ang in mp["coupling"]):
                raise ValueError(
                    "Vorbis coupling step references a missing channel"
                )
            if any(mx >= mp["submaps"] for mx in mp["mux"]):
                raise ValueError(
                    "Vorbis channel mux references a missing submap"
                )


def _decode_audio_packet(setup: VorbisSetup, packet: bytes):
    """→ (windowed time-domain block ndarray (n, ch), n, left_n)."""
    import numpy as np

    br = LSBReader(packet, codec="Vorbis")
    if br.read(1) != 0:
        raise ValueError("header packet where audio packet expected")
    mode = setup.modes[br.read(_ilog(len(setup.modes) - 1))]
    n = setup.bs1 if mode["blockflag"] else setup.bs0
    prev_short = next_short = False
    if mode["blockflag"]:
        prev_short = not br.read(1)
        next_short = not br.read(1)
    mapping = setup.mappings[mode["mapping"]]
    ch = setup.channels
    n2 = n // 2

    floors = []
    no_residue = []
    for c in range(ch):
        fl, _res = mapping["sub"][mapping["mux"][c]]
        curve = setup.floors[fl].decode(br, setup.books, n2)
        floors.append(curve)
        no_residue.append(curve is None)
    # coupling: if either channel of a pair has a floor, both decode
    for mag, ang in mapping["coupling"]:
        if not (no_residue[mag] and no_residue[ang]):
            no_residue[mag] = no_residue[ang] = False

    residue_v = [None] * ch
    for s in range(mapping["submaps"]):
        chans = [c for c in range(ch) if mapping["mux"][c] == s]
        dnd = [no_residue[c] for c in chans]
        _fl, resn = mapping["sub"][s]
        out = setup.residues[resn].decode(
            br, setup.books, len(chans), n2, dnd
        )
        for c, v in zip(chans, out):
            residue_v[c] = v

    for mag, ang in mapping["coupling"]:
        m = residue_v[mag]
        a = residue_v[ang]
        new_m = m.copy()
        new_a = a.copy()
        pos = m > 0
        ap = a > 0
        new_a[pos & ap] = (m - a)[pos & ap]
        new_a[pos & ~ap] = m[pos & ~ap]
        new_m[pos & ~ap] = (m + a)[pos & ~ap]
        new_a[~pos & ap] = (m + a)[~pos & ap]
        new_a[~pos & ~ap] = m[~pos & ~ap]
        new_m[~pos & ~ap] = (m - a)[~pos & ~ap]
        residue_v[mag] = new_m
        residue_v[ang] = new_a

    left_n = setup.bs0 // 2 if prev_short else n // 2
    right_n = setup.bs0 // 2 if next_short else n // 2
    w = vorbis_window(n, left_n, right_n)
    blocks = np.zeros((n, ch))
    for c in range(ch):
        if floors[c] is None:
            continue
        spec = residue_v[c] * floors[c]
        blocks[:, c] = imdct(spec, n) * w
    return blocks, n, left_n


def decode_vorbis(content: bytes):
    """OGG/Vorbis → (rate, float64 PCM ndarray (n_samples, channels)).

    Overlap-add bookkeeping: consecutive blocks' STARTS advance by
    (3*n_prev - n_cur)/4 so window centers land (n_prev + n_cur)/4
    apart; the first block's left half is discarded (nothing to lap
    against) and the stream is trimmed to the final granule position."""
    import numpy as np

    packets, granules = ogg_packets(content)
    if len(packets) < 4:
        raise ValueError("Vorbis stream needs id/comment/setup + audio")
    if packets[1][:7] != b"\x03vorbis":
        raise ValueError("second Vorbis packet is not the comment header")
    setup = VorbisSetup(packets[0], packets[2])
    total = None
    for g in reversed(granules):
        if g is not None and g >= 0:
            total = g
            break

    # pass 1: decode blocks and lay out their absolute positions;
    # consecutive window CENTERS sit (n_prev + n_cur)/4 apart, so block
    # starts advance by (3*n_prev - n_cur)/4 — NEGATIVE for a
    # short->long transition (the long window's zeroed skirt reaches
    # back past the short start). Allocating the accumulator ONCE from
    # the final extent keeps decode linear in the stream length.
    placed = []  # (absolute_start, windowed block)
    pos = 0
    prev_n = first_n = None
    for pk in packets[3:]:
        if not pk or pk[0] & 1:
            continue  # skip stray header packets
        blocks, n, _left = _decode_audio_packet(setup, pk)
        if first_n is None:
            first_n = n
        else:
            pos = pos + (3 * prev_n - n) // 4
        placed.append((pos, blocks))
        prev_n = n
    if first_n is None:
        raise ValueError("Vorbis stream has no audio packets")
    acc_start = min(p for p, _b in placed)
    acc_end = max(p + len(b) for p, b in placed)
    acc = np.zeros((acc_end - acc_start, setup.channels))
    for p, b in placed:
        acc[p - acc_start : p - acc_start + len(b)] += b
    # valid samples run from the FIRST block's center (its left half
    # has no lap partner) to the LAST block's center
    start = first_n // 2 - acc_start
    end = (pos + prev_n // 2) - acc_start
    pcm = acc[start:end]
    if total is not None and 0 <= total < len(pcm):
        pcm = pcm[:total]
    return setup.rate, pcm


# ---------------------------------------------------------------------------
# Encoder (fixture-grade but conformant): flat floor-1 + lattice-VQ residue
# ---------------------------------------------------------------------------


def _write_codebook(bw: LSBWriter, dims, lengths, lookup=0,
                    minimum=0.0, delta=0.0, vbits=0, mults=()):
    bw.write(0x564342, 24)
    bw.write(dims, 16)
    bw.write(len(lengths), 24)
    bw.write(0, 1)  # not ordered
    bw.write(0, 1)  # not sparse
    for l in lengths:
        bw.write(l - 1, 5)
    bw.write(lookup, 4)
    if lookup:
        bw.write(_float32_pack(minimum), 32)
        bw.write(_float32_pack(delta), 32)
        bw.write(vbits - 1, 4)
        bw.write(0, 1)  # sequence_p
        for m in mults:
            bw.write(m, vbits)


def _build_headers(rate: int, channels: int, bs0: int, bs1: int,
                   rtype: int = 2, coupling: bool = False):
    """→ (id, comment, setup) packets for the fixed encoder layout:
    book 0 = floor partition values (2 scalar entries), book 1 =
    residue classbook (16 entries, 4 partitions/classword), book 2 =
    31x31 lattice VQ (dims 2, values -15..15, complete 63x9+898x10
    Huffman tree). One floor-1 (flat-capable), one type-2 residue
    (psize 8, class 1 coded in pass 0), one uncoupled mapping, a short
    mode and (when bs1 > bs0) a long mode."""
    bw = LSBWriter()
    bw.write(1, 8)
    for b in b"vorbis":
        bw.write(b, 8)
    bw.write(0, 32)
    bw.write(channels, 8)
    bw.write(rate, 32)
    bw.write(0, 32), bw.write(0, 32), bw.write(0, 32)
    bw.write(bs0.bit_length() - 1, 4)
    bw.write(bs1.bit_length() - 1, 4)
    bw.write(1, 1)
    id_pk = bw.bytes()

    bw = LSBWriter()
    bw.write(3, 8)
    for b in b"vorbis":
        bw.write(b, 8)
    bw.write(0, 32)  # vendor string length
    bw.write(0, 32)  # user comment count
    bw.write(1, 1)
    comment_pk = bw.bytes()

    bw = LSBWriter()
    bw.write(5, 8)
    for b in b"vorbis":
        bw.write(b, 8)
    nbooks = 4 if coupling else 3
    bw.write(nbooks - 1, 8)
    _write_codebook(bw, 1, [1, 1])                 # book 0: floor values
    _write_codebook(bw, 4, [4] * 16)               # book 1: classwords
    _write_codebook(bw, 2, [9] * 63 + [10] * 898,  # book 2: VQ lattice
                    lookup=1, minimum=-15.0, delta=1.0, vbits=5,
                    mults=list(range(31)))
    if coupling:
        # book 3: scalar lattice -31..31 (square-polar M/A values reach
        # twice the residue range); 1x5-bit + 62x6-bit = complete tree
        _write_codebook(bw, 1, [5] + [6] * 62,
                        lookup=1, minimum=-31.0, delta=1.0, vbits=6,
                        mults=list(range(63)))
    bw.write(0, 6)      # time_count - 1
    bw.write(0, 16)     # time transform 0 (placeholder)
    bw.write(0, 6)      # floor_count - 1
    bw.write(1, 16)     # floor type 1
    bw.write(1, 5)      # 1 partition
    bw.write(0, 4)      # partition 0 -> class 0
    bw.write(2 - 1, 3)  # class 0 dims = 2
    bw.write(0, 2)      # subclass bits 0 (no masterbook)
    bw.write(0 + 1, 8)  # subclass book -> book 0 (stored +1)
    bw.write(1 - 1, 2)  # multiplier = 1
    bw.write(9, 4)      # rangebits: X in [0, 512]
    bw.write(170, 9)    # partition X values
    bw.write(341, 9)
    bw.write(0, 6)      # residue_count - 1
    bw.write(rtype, 16)  # residue type
    bw.write(0, 24)                        # begin
    end = (bs1 // 2) * (channels if rtype == 2 else 1)
    bw.write(end, 24)                      # end (clamped per block)
    bw.write(8 - 1, 24)                    # partition size 8
    bw.write(2 - 1, 6)                     # 2 classifications
    bw.write(1, 8)                         # classbook = book 1
    bw.write(0, 3)
    bw.write(0, 1)      # class 0: no passes
    bw.write(1, 3)
    bw.write(0, 1)      # class 1: pass-0 bit only
    bw.write(3 if coupling else 2, 8)  # class 1 pass 0 -> VQ book
    bw.write(0, 6)      # mapping_count - 1
    bw.write(0, 16)     # mapping type 0
    bw.write(0, 1)      # one submap
    if coupling:
        bw.write(1, 1)  # coupling present
        bw.write(0, 8)  # one step
        cb = _ilog(channels - 1)
        bw.write(0, cb)  # magnitude channel 0
        bw.write(1, cb)  # angle channel 1
    else:
        bw.write(0, 1)  # no coupling
    bw.write(0, 2)      # reserved
    bw.write(0, 8)      # submap 0: time config (unused)
    bw.write(0, 8)      # submap 0: floor 0
    bw.write(0, 8)      # submap 0: residue 0
    n_modes = 2 if bs1 > bs0 else 1
    bw.write(n_modes - 1, 6)
    for m in range(n_modes):
        bw.write(m, 1)   # blockflag: mode 0 short, mode 1 long
        bw.write(0, 16)
        bw.write(0, 16)
        bw.write(0, 8)   # mapping 0
    bw.write(1, 1)       # framing
    return id_pk, comment_pk, bw.bytes()


def encode_vorbis(samples, rate: int, blocksizes=(256, 2048),
                  schedule=None, residue_type: int = 2,
                  coupling: bool = False) -> bytes:
    """Encode PCM → OGG/Vorbis. ``samples``: (n,) or (n, ch) float in
    [-1, 1] (int16 accepted and scaled). A real encoder, minus
    psychoacoustics: per block/channel the MDCT spectrum is coded as a
    FLAT floor-1 level (chosen from the block's peak) times lattice-VQ
    residues in -15..15 — listenable and round-trip-testable, not
    rate-optimal. ``schedule`` optionally lists the block size per
    frame ('s'/'l' or ints) to exercise window transitions;
    ``residue_type`` picks the residue packing (2 = channel-interleaved
    default; 0/1 = per-channel, interleaved/sequential partitions) so
    all three decoder paths are fixture-coverable. ``coupling=True``
    (stereo + residue type 2 only) applies the square-polar channel
    coupling: residues travel as magnitude/angle and the decoder's
    inverse-coupling path runs on a real stream."""
    import numpy as np

    x = np.asarray(samples)
    if x.dtype.kind in "iu":
        x = x.astype(np.float64) / 32768.0
    if x.ndim == 1:
        x = x[:, None]
    n_in, ch = x.shape
    bs0, bs1 = blocksizes
    if (bs0 > bs1 or bs0 < 64 or bs1 > 8192
            or (bs0 & (bs0 - 1)) or (bs1 & (bs1 - 1))):
        raise ValueError(
            "blocksizes must be powers of two with 64 <= bs0 <= bs1 <= "
            "8192 (Vorbis I 4.2.1; a larger value would silently "
            "truncate the 4-bit ID-header exponent)"
        )
    if not 1 <= rate < (1 << 32):
        raise ValueError("sample rate out of the 32-bit Vorbis range")
    if schedule is None:
        sizes = []
    else:
        sizes = [bs0 if s in ("s", bs0) else bs1 for s in schedule]

    # lay blocks so output sample 0 = input sample 0: first block starts
    # at -bs/2 -> prepend half a block of silence
    sizes = list(sizes)

    def coverage(szs):
        pos = 0
        for i in range(1, len(szs)):
            pos += (3 * szs[i - 1] - szs[i]) // 4
        return pos + (szs[-1] // 2 if szs else 0) - (szs[0] // 2 if szs else 0)

    while not sizes or coverage(sizes) < n_in:
        sizes.append(sizes[-1] if schedule else bs0)
    # absolute block-start positions (short->long transitions step
    # BACKWARD: the long window's zero skirt reaches past the short
    # block's start, so positions can go negative)
    positions = [0]
    for i in range(1, len(sizes)):
        positions.append(positions[-1] + (3 * sizes[i - 1] - sizes[i]) // 4)
    minpos = min(positions)
    maxend = max(p + n for p, n in zip(positions, sizes))
    # input sample k sits at absolute coordinate sizes[0]//2 + k (the
    # first block's center = decoded sample 0)
    padded = np.zeros((maxend - minpos, ch))
    o = sizes[0] // 2 - minpos
    padded[o : o + n_in] = x

    if residue_type not in (0, 1, 2):
        raise ValueError("residue_type must be 0, 1 or 2")
    if coupling and (ch != 2 or residue_type != 2):
        raise ValueError(
            "coupling needs exactly 2 channels and residue type 2"
        )
    id_pk, comment_pk, setup_pk = _build_headers(rate, ch, bs0, bs1,
                                                 residue_type, coupling)
    setup = VorbisSetup(id_pk, setup_pk)
    book_f, book_c = setup.books[0], setup.books[1]
    book_v = setup.books[3] if coupling else setup.books[2]
    n_modes = len(setup.modes)
    mode_bits = _ilog(n_modes - 1)
    tab = np.array(FLOOR1_INVERSE_DB)

    packets = []
    granules = []
    out_samples = 0
    for i, n in enumerate(sizes):
        pos = positions[i] - minpos
        if i:
            out_samples += (sizes[i - 1] + n) // 4
        n2 = n // 2
        left_n = (bs0 if i and sizes[i - 1] == bs0 else n) // 2
        right_n = (bs0 if i + 1 < len(sizes) and sizes[i + 1] == bs0
                   else n) // 2
        if n == bs0:
            left_n = right_n = n // 2
        w = vorbis_window(n, left_n, right_n)
        bw = LSBWriter()
        bw.write(0, 1)  # audio packet
        bw.write(0 if n == bs0 else 1, mode_bits)
        if n != bs0:
            bw.write(0 if left_n * 2 == bs0 else 1, 1)   # prev window flag
            bw.write(0 if right_n * 2 == bs0 else 1, 1)  # next window flag
        block = padded[pos : pos + n] * w[:, None]
        spec = np.stack([mdct(block[:, c], n) for c in range(ch)], axis=1)
        qs = []
        for c in range(ch):
            peak = float(np.abs(spec[:, c]).max())
            q = 0 if peak == 0 else int(
                np.clip(round(255 + np.log10(peak / 14.0) / 0.02734375),
                        1, 255)
            )
            qs.append(q)
            # floor: nonzero, y0 = y1 = q, both partition values entry 0
            bw.write(1, 1)
            bw.write(q, 8)
            bw.write(q, 8)
            book_f.encode_scalar(bw, 0)
            book_f.encode_scalar(bw, 0)
        # residue: quantize by the floor, then pack per the type
        floors = tab[qs]  # (ch,)
        r = np.rint(spec / floors[None, :]).astype(int)
        np.clip(r, -15, 15, out=r)
        if coupling:
            # forward square-polar (the exact inverse of the decoder's
            # four sign cases); |M| <= 15, |A| <= 30 fit the book
            m_, a_ = r[:, 0], r[:, 1]
            M = np.empty_like(m_)
            A = np.empty_like(a_)
            c1 = (m_ > 0) & (a_ < m_)
            c2 = ~c1 & (a_ > 0) & (a_ >= m_)
            c3 = ~c1 & ~c2 & (m_ <= 0) & (a_ > m_)
            c4 = ~c1 & ~c2 & ~c3
            M[c1], A[c1] = m_[c1], (m_ - a_)[c1]
            M[c2], A[c2] = a_[c2], (m_ - a_)[c2]
            M[c3], A[c3] = m_[c3], (a_ - m_)[c3]
            M[c4], A[c4] = a_[c4], (a_ - m_)[c4]
            r = np.stack([M, A], axis=1)
        if residue_type == 2:
            vs = [r.reshape(-1)]  # channel-interleaved: index k*ch + c
        else:
            vs = [r[:, c] for c in range(ch)]
        npart = len(vs[0]) // 8
        classes = [
            [1 if np.any(v[p * 8 : (p + 1) * 8]) else 0
             for p in range(npart)]
            for v in vs
        ]
        cwps = 4
        for p0 in range(0, npart, cwps):
            # pass-0 classwords for every vector, then the partitions of
            # the group, vectors innermost — the decoder's exact order
            for j in range(len(vs)):
                entry = 0
                for k in range(cwps):
                    c_ = classes[j][p0 + k] if p0 + k < npart else 0
                    entry = entry * 2 + c_
                book_c.encode_scalar(bw, entry)
            for p in range(p0, min(p0 + cwps, npart)):
                for j, v in enumerate(vs):
                    if classes[j][p] == 0:
                        continue
                    if coupling:  # scalar book 3 (dims 1, -31..31)
                        for k in range(p * 8, (p + 1) * 8):
                            book_v.encode_scalar(bw, int(v[k]) + 31)
                    elif residue_type == 0:
                        # interleaved: fetch k carries (off+k, off+k+step)
                        for k in range(4):
                            e = ((int(v[p * 8 + k]) + 15)
                                 + (int(v[p * 8 + k + 4]) + 15) * 31)
                            book_v.encode_scalar(bw, e)
                    else:
                        for k in range(p * 8, (p + 1) * 8, 2):
                            e = ((int(v[k]) + 15)
                                 + (int(v[k + 1]) + 15) * 31)
                            book_v.encode_scalar(bw, e)
        packets.append(bw.bytes())
        granules.append(out_samples)
    granules[-1] = min(n_in, out_samples)
    return ogg_pages([id_pk, comment_pk, setup_pk] + packets,
                     granules=granules)
