"""Byte codecs for the container formats the engine's readers and sinks
meet: raw snappy and LZ4 blocks (thin wrappers over pyarrow's bundled
codecs), the Blosc1 frame (the default zarr v2 compressor — numcodecs'
``{"id": "blosc", "cname": "lz4"}``, parsed and written here from the
public c-blosc layout), CRC-32C and LEB128 varints.

Executor-safe: pure functions over bytes, importable worker-side via
``ensure_py_deps``. Blosc decodes and encodes the codecs of
:data:`BLOSC_CODES` (zlib through the stdlib); its other codecs
(blosclz, zstd) and bit-shuffle raise named gates.
"""

from __future__ import annotations

import struct
import zlib


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


# Blosc1 codec names (numcodecs' ``cname``) → the format code a frame
# carries in flags bits 5-7 (c-blosc blosc.h ``BLOSC_*_FORMAT``): the one
# list of blosc codecs the engine decodes and encodes. It drives
# blosc_decompress, blosc_compress and ZarrReader's metadata gates. lz4hc
# writes plain LZ4 blocks; blosclz and zstd are absent, so they raise.
BLOSC_CODES = {"lz4": 1, "lz4hc": 1, "snappy": 2, "zlib": 3}


def blosc_code(cname: str) -> int:
    """The Blosc1 format code of ``cname``; a codec outside
    :data:`BLOSC_CODES` raises a ValueError naming it."""
    if cname not in BLOSC_CODES:
        raise ValueError(
            f"blosc codec {cname!r} not supported (supported: "
            f"{'/'.join(BLOSC_CODES)}, and memcpy frames)"
        )
    return BLOSC_CODES[cname]


def blosc_decompress(src: bytes) -> bytes:
    """Blosc1 frame → raw bytes (public header layout, c-blosc blosc.c):
    16-byte header (version, versionlz, flags, typesize, nbytes,
    blocksize, cbytes LE), then either a verbatim payload (memcpy flag)
    or per-block uint32 offsets to [uint32 csize][codec block] chunks.
    Codec from flags bits 5-7: the codes of :data:`BLOSC_CODES` decode
    here; blosclz/zstd raise named. Byte shuffle undone per block; bit shuffle
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
    if codec not in BLOSC_CODES.values():
        # raises, naming the codec
        blosc_code({0: "blosclz", 4: "zstd"}.get(codec, str(codec)))
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
        elif codec == BLOSC_CODES["lz4"]:
            block = lz4_block_decompress(payload, want)
        elif codec == BLOSC_CODES["snappy"]:
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
# Raw snappy and LZ4 BLOCK codecs (not the framing formats): pyarrow's
# bundled C++ codecs. Raw snappy is reached from Avro OCF ``avro.codec:
# snappy`` (each block ends with a big-endian CRC32 of the uncompressed
# bytes), Kafka's xerial and raw snappy batches and Blosc ``cname:
# snappy``; LZ4 block from Blosc ``cname: lz4``. pyarrow is imported inside
# each function, so importing this module costs a worker nothing. The
# wrappers keep what callers should not need to know: the decoded size each
# codec wants, and a ValueError naming the codec on malformed input (arrow
# raises OSError).
# ---------------------------------------------------------------------------


def _arrow_decompress(codec: str, src: bytes, size: int) -> bytes:
    import pyarrow as pa

    try:
        return pa.decompress(src, decompressed_size=size, codec=codec, asbytes=True)
    except OSError as e:
        raise ValueError(f"corrupt {codec} block ({e})") from e


def snappy_uncompress(src: bytes) -> bytes:
    """Decode one raw snappy block. Its varint preamble is the decoded
    size, and snappy's decoder checks that the block decodes to exactly
    that many bytes."""
    total, _ = read_uvarint(src, 0)
    if total >> 32:
        raise ValueError("snappy: length varint overruns 32 bits")
    return _arrow_decompress("snappy", src, total)


def snappy_compress(data: bytes) -> bytes:
    """Encode one raw snappy block (varint length preamble included)."""
    import pyarrow as pa

    return pa.compress(data, codec="snappy", asbytes=True)


def lz4_block_decompress(src: bytes, dest_size: int) -> bytes:
    """Decode one LZ4 block that holds exactly ``dest_size`` bytes.

    pyarrow returns ``dest_size`` bytes however many the block decoded
    (16.x drops the decoded length), so a block that decodes short would
    come back padded with uninitialised memory. LZ4's decoder never
    writes past its buffer, so a block of N bytes fails to decode into
    N - 1: a decode into ``dest_size - 1`` that succeeds proves the block
    short. The probe is exact for blocks that keep LZ4's end-of-block
    rules (every encoder's output); a corrupt block that breaks them at
    its own length can still pass it."""
    out = _arrow_decompress("lz4_raw", src, dest_size)
    if dest_size:
        try:
            _arrow_decompress("lz4_raw", src, dest_size - 1)
        except ValueError:
            return out
        raise ValueError(f"LZ4 block decodes fewer than {dest_size} bytes")
    return out


def lz4_block_compress(data: bytes) -> bytes:
    """Encode one LZ4 block (no frame, no size header)."""
    import pyarrow as pa

    return pa.compress(data, codec="lz4_raw", asbytes=True)


def blosc_compress(
    data: bytes, typesize: int = 1, shuffle: bool = False, cname: str = "lz4"
) -> bytes:
    """Raw bytes → one Blosc1 frame (the zarr v2 numcodecs default is
    ``{"id": "blosc", "cname": "lz4", "shuffle": 1}``) — single block,
    optional byte shuffle, the codecs of :data:`BLOSC_CODES`, stored-block
    fallback when compression does not help. Round-trips with
    :func:`blosc_decompress`; layout per the public c-blosc blosc.c
    header doc."""
    code = blosc_code(cname)
    nbytes = len(data)
    body = data
    flags = code << 5
    if shuffle and typesize > 1 and nbytes % typesize == 0:
        flags |= 0x1
        # slice-stride shuffle at C speed (the inverse of byte_unshuffle's
        # slice assignment) — a per-byte Python generator here would cost
        # seconds per multi-MB zarr chunk on every executor task
        body = b"".join(data[b::typesize] for b in range(typesize))
    if code == BLOSC_CODES["lz4"]:
        comp = lz4_block_compress(body)
    elif code == BLOSC_CODES["snappy"]:
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
