"""Stdlib decoders for container-level compression formats the engine's
readers meet in the wild: LZ4 block format and the Blosc1 frame (the
default zarr v2 compressor — numcodecs' ``{"id": "blosc", "cname":
"lz4"}``), both from their public specs.

Executor-safe: pure functions over bytes, importable worker-side via
``ensure_py_deps``. Raw snappy blocks decode AND encode here (reached
from Avro ``avro.codec: snappy`` and blosc ``cname: snappy``). Blosc's
remaining codecs (blosclz, zstd) and bit-shuffle raise named gates;
zlib-in-blosc delegates to the stdlib.
"""

from __future__ import annotations

import struct
import zlib


def lz4_block_decompress(src: bytes, dest_size: int) -> bytes:
    """LZ4 BLOCK format (not the frame format): token-driven sequences of
    [literals][offset, match], 15-run length extensions, final sequence
    literals-only — per the public spec at lz4.org."""
    out = bytearray()
    pos = 0
    n = len(src)
    while pos < n and len(out) < dest_size:
        token = src[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                b = src[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        out += src[pos : pos + lit_len]
        pos += lit_len
        if pos >= n:
            break  # last sequence: literals only
        (offset,) = struct.unpack_from("<H", src, pos)
        pos += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block (zero match offset)")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[pos]
                pos += 1
                match_len += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block (offset before start)")
        if offset >= match_len:
            # non-overlapping: one slice copy (the hot path — executor-side
            # zarr chunk decode would otherwise run millions of appends)
            out += out[start : start + match_len]
        else:
            # self-overlapping run: repeat the offset-sized period
            chunk = out[start:]
            reps, rem = divmod(match_len, offset)
            out += chunk * reps + chunk[:rem]
    if len(out) != dest_size:
        raise ValueError(f"LZ4 block decoded {len(out)} bytes, wanted {dest_size}")
    return bytes(out)


def byte_unshuffle(data: bytes, typesize: int) -> bytes:
    """Undo Blosc's byte shuffle: stream j of length n/t holds byte j of
    every element; interleave back to element order."""
    if typesize <= 1:
        return data
    n = len(data)
    n_elem = n // typesize
    tail = data[n_elem * typesize :]  # leftover bytes are stored verbatim
    body = data[: n_elem * typesize]
    out = bytearray(n_elem * typesize)
    for j in range(typesize):
        out[j::typesize] = body[j * n_elem : (j + 1) * n_elem]
    return bytes(out) + tail


def blosc_decompress(src: bytes) -> bytes:
    """Blosc1 frame → raw bytes (public header layout, c-blosc blosc.c):
    16-byte header (version, versionlz, flags, typesize, nbytes,
    blocksize, cbytes LE), then either a verbatim payload (memcpy flag)
    or per-block uint32 offsets to [uint32 csize][codec block] chunks.
    Codec from flags bits 5-7: lz4/lz4hc, snappy and zlib decode here;
    blosclz/zstd raise named. Byte shuffle undone per block; bit shuffle
    raises named."""
    if len(src) < 16:
        raise ValueError("truncated blosc frame")
    version, _versionlz, flags, typesize = src[0], src[1], src[2], src[3]
    nbytes, blocksize, cbytes = struct.unpack_from("<III", src, 4)
    if version < 1 or version > 2:
        raise ValueError(f"unsupported blosc frame version {version}")
    memcpyed = bool(flags & 0x2)
    shuffle = bool(flags & 0x1)
    bitshuffle = bool(flags & 0x4)
    codec = (flags >> 5) & 0x7
    if bitshuffle:
        raise ValueError("blosc bit-shuffle needs the bitshuffle kernel (not stdlib)")
    if memcpyed:
        return src[16 : 16 + nbytes]
    # Blosc1 format codes: 1 = lz4/lz4hc, 2 = snappy, 3 = zlib
    if codec not in (1, 2, 3):
        names = {0: "blosclz", 4: "zstd"}
        raise ValueError(
            f"blosc codec {names.get(codec, codec)!r} not supported "
            "(lz4/snappy/zlib/memcpy decode stdlib-side)"
        )
    n_blocks = -(-nbytes // blocksize) if blocksize else 1
    starts = struct.unpack_from(f"<{n_blocks}I", src, 16)
    out = bytearray()
    remaining = nbytes
    for j in range(n_blocks):
        want = min(blocksize, remaining)
        off = starts[j]
        (csize,) = struct.unpack_from("<I", src, off)
        payload = src[off + 4 : off + 4 + csize]
        if csize == want:  # stored (incompressible) block
            block = bytes(payload)
        elif codec == 1:
            block = lz4_block_decompress(payload, want)
        elif codec == 2:
            block = snappy_uncompress(payload)
        else:
            block = zlib.decompress(payload)
        if shuffle:
            block = byte_unshuffle(block, typesize)
        out += block
        remaining -= want
    if len(out) != nbytes:
        raise ValueError(f"blosc frame decoded {len(out)} bytes, wanted {nbytes}")
    return bytes(out)


# ---------------------------------------------------------------------------
# Snappy raw-block format (the public format_description.txt: varint
# uncompressed-length preamble, then tag-dispatched literals and
# back-references). Reached from two container formats this engine reads:
# Avro OCF ``avro.codec: snappy`` (each block ends with a big-endian
# CRC32 of the UNCOMPRESSED bytes — a built-in correctness check) and
# Blosc frames with ``cname: snappy``.
# ---------------------------------------------------------------------------


def snappy_uncompress(src: bytes) -> bytes:
    """Decode one raw snappy block (not the framing format)."""
    n = len(src)
    # varint preamble: uncompressed length
    total, i = read_uvarint(src, 0)
    if total >> 32:
        raise ValueError("snappy: length varint overruns 32 bits")
    out = bytearray()
    while i < n:
        tag = src[i]
        i += 1
        kind = tag & 0x3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:  # 60..63: length-1 stored in next 1..4 LE bytes
                nb = ln - 59
                if i + nb > n:
                    raise ValueError("snappy: truncated literal length")
                ln = int.from_bytes(src[i : i + nb], "little")
                i += nb
            ln += 1
            if i + ln > n:
                raise ValueError("snappy: literal overruns input")
            out += src[i : i + ln]
            i += ln
            continue
        if kind == 1:  # copy, 1-byte offset
            if i >= n:
                raise ValueError("snappy: truncated copy-1 offset")
            ln = ((tag >> 2) & 0x7) + 4
            off = ((tag >> 5) << 8) | src[i]
            i += 1
        elif kind == 2:  # copy, 2-byte LE offset
            if i + 2 > n:
                raise ValueError("snappy: truncated copy-2 offset")
            ln = (tag >> 2) + 1
            off = int.from_bytes(src[i : i + 2], "little")
            i += 2
        else:  # copy, 4-byte LE offset
            if i + 4 > n:
                raise ValueError("snappy: truncated copy-4 offset")
            ln = (tag >> 2) + 1
            off = int.from_bytes(src[i : i + 4], "little")
            i += 4
        if off == 0 or off > len(out):
            raise ValueError(f"snappy: copy offset {off} outside window")
        # overlapping copies replicate byte-by-byte (LZ77 semantics)
        if off >= ln:
            start = len(out) - off
            out += out[start : start + ln]
        else:
            for _ in range(ln):
                out.append(out[-off])
    if len(out) != total:
        raise ValueError(f"snappy: decoded {len(out)} bytes, header says {total}")
    return bytes(out)


def snappy_compress(data: bytes) -> bytes:
    """Encode one raw snappy block — greedy 4-byte hash matcher emitting
    spec-conformant literals and 2-byte-offset copies. Any valid tag
    stream is legal snappy, so this needs no bit-parity with the C++
    encoder; decode(encode(x)) == x is the contract (round-trip and
    CRC-verified in tests)."""
    n = len(data)
    out = bytearray(uvarint(n))  # varint length preamble

    def emit_literal(lo: int, hi: int) -> None:
        ln = hi - lo
        while ln > 0:
            take = min(ln, 1 << 16)  # keep extension to <= 2 bytes
            l1 = take - 1
            if l1 < 60:
                out.append(l1 << 2)
            elif l1 < (1 << 8):
                out.append(60 << 2)
                out.append(l1)
            else:
                out.append(61 << 2)
                out.extend(l1.to_bytes(2, "little"))
            out.extend(data[lo : lo + take])
            lo += take
            ln -= take

    if n < 4:
        emit_literal(0, n)
        return bytes(out)
    table: dict[int, int] = {}
    i = 0
    lit_start = 0
    while i + 4 <= n:
        key = int.from_bytes(data[i : i + 4], "little")
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= 0xFFFF and data[cand : cand + 4] == data[i : i + 4]:
            if lit_start < i:
                emit_literal(lit_start, i)
            # extend the match
            ln = 4
            while i + ln < n and ln < (1 << 16) and data[cand + ln] == data[i + ln]:
                ln += 1
            off = i - cand
            rem = ln
            while rem > 0:
                # trailing sub-4 copies are legal for the 2-byte-offset tag
                # (length field spans 1..64), so a plain 64-byte split works
                take = min(rem, 64)
                out.append(((take - 1) << 2) | 0x2)
                out += off.to_bytes(2, "little")
                rem -= take
            i += ln
            lit_start = i
        else:
            i += 1
    if lit_start < n:
        emit_literal(lit_start, n)
    return bytes(out)


def lz4_block_compress(data: bytes) -> bytes:
    """LZ4 BLOCK encode (greedy 4-byte hash matcher). Spec end rules
    honored: the last sequence is literals-only, matches never start
    within the last 12 bytes and must end at least 5 bytes before the
    block end — any stream meeting those rules is valid LZ4, so the
    contract is decode(encode(x)) == x (round-trip tested), not
    bit-parity with the C encoder."""
    n = len(data)
    out = bytearray()

    def emit(lit_lo: int, lit_hi: int, match_len: int, offset: int) -> None:
        lit = lit_hi - lit_lo
        ml = match_len - 4 if match_len else 0
        token = (min(lit, 15) << 4) | (min(ml, 15) if match_len else 0)
        out.append(token)
        if lit >= 15:
            rem = lit - 15
            while rem >= 255:
                out.append(255)
                rem -= 255
            out.append(rem)
        out.extend(data[lit_lo:lit_hi])
        if match_len:
            out.extend(offset.to_bytes(2, "little"))
            if ml >= 15:
                rem = ml - 15
                while rem >= 255:
                    out.append(255)
                    rem -= 255
                out.append(rem)

    if n < 13:  # too short for any legal match: single literal sequence
        emit(0, n, 0, 0)
        return bytes(out)
    table: dict[int, int] = {}
    i = 0
    lit_start = 0
    # matches must END >= 5 bytes before the block end and may not START
    # in the last 12 bytes (lz4 block spec end-of-stream conditions)
    last_match_start = n - 12
    while i < last_match_start:
        key = int.from_bytes(data[i : i + 4], "little")
        cand = table.get(key)
        table[key] = i
        if (
            cand is not None
            and i - cand <= 0xFFFF
            and data[cand : cand + 4] == data[i : i + 4]
        ):
            ln = 4
            limit = n - 5 - i  # leave the spec's 5-byte literal tail
            while ln < limit and data[cand + ln] == data[i + ln]:
                ln += 1
            emit(lit_start, i, ln, i - cand)
            i += ln
            lit_start = i
            continue
        i += 1
    emit(lit_start, n, 0, 0)  # final literals-only sequence
    return bytes(out)


def blosc_compress(
    data: bytes, typesize: int = 1, shuffle: bool = False, cname: str = "lz4"
) -> bytes:
    """Raw bytes → one Blosc1 frame (the zarr v2 numcodecs default is
    ``{"id": "blosc", "cname": "lz4", "shuffle": 1}``) — single block,
    optional byte shuffle, lz4/snappy/zlib codecs, stored-block
    fallback when compression does not help. Round-trips with
    :func:`blosc_decompress`; layout per the public c-blosc blosc.c
    header doc."""
    codes = {"lz4": 1, "snappy": 2, "zlib": 3}
    if cname not in codes:
        raise ValueError(f"blosc_compress cname {cname!r} (lz4/snappy/zlib)")
    nbytes = len(data)
    body = data
    flags = codes[cname] << 5
    if shuffle and typesize > 1 and nbytes % typesize == 0:
        flags |= 0x1
        # slice-stride shuffle at C speed (the inverse of byte_unshuffle's
        # slice assignment) — a per-byte Python generator here would cost
        # seconds per multi-MB zarr chunk on every executor task
        body = b"".join(data[b::typesize] for b in range(typesize))
    if cname == "lz4":
        comp = lz4_block_compress(body)
    elif cname == "snappy":
        comp = snappy_compress(body)
    else:
        comp = zlib.compress(body)
    if len(comp) >= nbytes or nbytes == 0:
        # memcpy frame: compression didn't help
        header = bytes([1, 1, 0x2, typesize]) + struct.pack(
            "<III", nbytes, nbytes, nbytes + 16
        )
        return header + data
    blocksize = nbytes  # single block
    # header + 1-entry offset table + [csize][payload]
    start = 16 + 4
    cbytes = start + 4 + len(comp)
    header = bytes([1, 1, flags, typesize]) + struct.pack(
        "<III", nbytes, blocksize, cbytes
    )
    return header + struct.pack("<I", start) + struct.pack("<I", len(comp)) + comp


def _crc32c_table() -> list[int]:
    """The byte-wise CRC-32C table, DERIVED from the reflected Castagnoli
    polynomial (0x1EDC6F41 -> 0x82F63B78), not transcribed."""
    tbl = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        tbl.append(c)
    return tbl


# slice-by-8 tables: T[k][b] advances a CRC through byte b followed by k
# zero bytes, so the hot loop consumes 8 bytes per Python iteration
_CRC32C_T8 = [_crc32c_table()]
for _ in range(7):
    _CRC32C_T8.append([(v >> 8) ^ _CRC32C_T8[0][v & 0xFF] for v in _CRC32C_T8[-1]])


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C (Castagnoli) — the checksum of zarr v3's sharding index,
    Kafka record batches and TFRecord framing; pinned by the RFC 3720
    §B.4 published vectors. ``crc`` continues a running checksum:
    ``crc32c(b, crc32c(a)) == crc32c(a + b)``. Slice-by-8 pure Python
    (~8x fewer interpreter iterations than byte-at-a-time)."""
    t = _CRC32C_T8
    crc ^= 0xFFFFFFFF
    n8 = len(data) - (len(data) % 8)
    for i in range(0, n8, 8):
        c = crc ^ int.from_bytes(data[i : i + 4], "little")
        crc = (
            t[7][c & 0xFF]
            ^ t[6][(c >> 8) & 0xFF]
            ^ t[5][(c >> 16) & 0xFF]
            ^ t[4][(c >> 24) & 0xFF]
            ^ t[3][data[i + 4]]
            ^ t[2][data[i + 5]]
            ^ t[1][data[i + 6]]
            ^ t[0][data[i + 7]]
        )
    for b in data[n8:]:
        crc = (crc >> 8) ^ t[0][(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# Unsigned LEB128 varints: protobuf, Kafka and Avro (under their zigzag
# step), MQTT remaining lengths, snappy preambles, PMTiles directories.
# ---------------------------------------------------------------------------


def uvarint(n: int) -> bytes:
    """Unsigned LEB128: 7 bits per byte, low group first, high bit set on
    every byte but the last."""
    if n < 0:
        raise ValueError(f"uvarint of a negative number {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if not n:
            out.append(b)
            return bytes(out)
        out.append(b | 0x80)


def read_uvarint(buf: bytes, pos: int) -> "tuple[int, int]":
    """Decode one unsigned LEB128 varint at ``buf[pos]`` → (value, next
    position). A varint runs at most 10 bytes (a 64-bit value); a longer
    one, or one cut off by the end of ``buf``, raises ``ValueError``."""
    out = shift = 0
    end = min(len(buf), pos + 10)
    while pos < end:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
    if shift == 70:
        raise ValueError("varint longer than 10 bytes")
    raise ValueError("truncated varint")
