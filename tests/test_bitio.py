"""The one bit-I/O module behind the pure-Python entropy coders
(``intake_spark/bitio.py``). Its writers reproduce, byte for byte, the six
hand-written writers they replaced (FLAC, Vorbis, JPEG-LS, VP8L WebP and
the JPEG 2000 raw-pass and packet-header writers), and every reader reads
back what they wrote."""

from __future__ import annotations

import hashlib
import random

import pytest

from intake_spark.bitio import LSBReader, LSBWriter, MSBReader, MSBWriter
from intake_spark.llm.jpeg2000 import _ff_pad, _RawEnc


def _sequence() -> list[tuple[int, int]]:
    """400 seeded (value, width) pairs, one in ten a run of 1 bits, then a
    12-bit run of 1s that ends the stuffed streams on a 0xFF byte."""
    rng = random.Random(18)
    seq = []
    for _ in range(400):
        w = rng.randint(1, 24)
        seq.append((rng.getrandbits(w) if rng.random() < 0.9 else (1 << w) - 1, w))
    return seq + [((1 << 12) - 1, 12)]


SEQ = _sequence()

# sha256 of each replaced writer's output on SEQ, recorded by running the
# hand-written classes (flac._MSBWriter, vorbis._BitWriter,
# jpegls._BitWriter, webp._LSBWriter, jpeg2000._RawWriter fed bit by bit,
# jpeg2000._HdrBitWriter) before they were deleted
GOLDEN = {
    "flac": "b2580c06b142b8e8ac7ba8ca85a2317cce9eb29476428e1bc2fb82e7b32ed91f",
    "vorbis": "e1291b5904121b91990ae55332218a321a5cfa4c4e239be9502df34244c5763c",
    "jpegls": "cb8ba3625a2f0becd3d1895a3246df3ad405ee7ea58dcaf4552ab6697598d7c0",
    "webp": "e1291b5904121b91990ae55332218a321a5cfa4c4e239be9502df34244c5763c",
    "j2k_raw": "e04d3ea91c26aee38090a7aee6122b3ee1dcba144d446db0ca0abb98eb3f2d49",
    "j2k_header": "e04d3ea91c26aee38090a7aee6122b3ee1dcba144d446db0ca0abb98eb3f2d49",
}


def _write(w):
    for v, n in SEQ:
        w.write(v, n)
    return w.bytes()


def test_writers_reproduce_the_replaced_writers():
    stuffed = _write(MSBWriter(stuffed=True))
    assert stuffed.endswith(b"\xff")  # JPEG-LS leaves it; J2K pads it
    raw = _RawEnc(MSBWriter(stuffed=True))
    for v, n in SEQ:
        for i in range(n - 1, -1, -1):
            raw.encode(None, None, (v >> i) & 1)
    out = {
        "flac": _write(MSBWriter()),
        "vorbis": _write(LSBWriter()),
        "jpegls": stuffed,
        "webp": _write(LSBWriter()),
        "j2k_raw": raw.flush(),
        "j2k_header": _ff_pad(stuffed),
    }
    assert out["j2k_raw"].endswith(b"\xff\x00")
    for name, data in out.items():
        assert hashlib.sha256(data).hexdigest() == GOLDEN[name], name


@pytest.mark.parametrize("stuffed", [False, True])
@pytest.mark.parametrize("pad", [False, True])
def test_msb_reader_round_trips(stuffed, pad):
    data = _write(MSBWriter(stuffed=stuffed))
    br = MSBReader(data, stuffed=stuffed, pad=pad)
    assert [br.read(n) for _v, n in SEQ] == [v for v, _n in SEQ]
    # a stuffed stream that ends on 0xFF also consumes the pad byte a
    # JPEG 2000 writer would have put after it
    assert br.align() == len(data) + (stuffed and data.endswith(b"\xff"))
    # the same stream a bit at a time
    br = MSBReader(data, stuffed=stuffed, pad=pad)
    bits = []
    for v, n in SEQ:
        bits.append(sum(br.bit() << i for i in range(n - 1, -1, -1)))
    assert bits == [v for v, _n in SEQ]


@pytest.mark.parametrize("stuffed", [False, True])
def test_unary_round_trips_across_refills(stuffed):
    """Zero runs longer than one refill, and runs that end on a 0xFF."""
    runs = [0, 1, 7, 8, 63, 64, 65, 200, 3, 0, 130, 5]
    w = MSBWriter(stuffed=stuffed)
    for q in runs:
        w.write(1, q + 1)
        w.write(0xFF, 8)
    br = MSBReader(w.bytes(), stuffed=stuffed)
    for q in runs:
        assert br.unary() == q
        assert br.read(8) == 0xFF


def test_lsb_reader_round_trips():
    data = _write(LSBWriter())
    br = LSBReader(data)
    assert [br.read(n) for _v, n in SEQ] == [v for v, _n in SEQ]
    br = LSBReader(data, 3)
    assert br.read(8) == data[3]


def test_pad_reads_zeros_past_the_end_and_the_default_raises():
    for stuffed in (False, True):
        br = MSBReader(b"\xa5", stuffed=stuffed, pad=True)
        assert br.read(8) == 0xA5 and br.read(20) == 0 and br.bit() == 0
        br = MSBReader(b"\xa5", stuffed=stuffed, codec="FLAC")
        assert br.read(4) == 0xA
        with pytest.raises(ValueError, match="FLAC bitstream truncated"):
            br.read(5)
    with pytest.raises(ValueError, match="XTC bitstream truncated"):
        MSBReader(b"\x00\x00", codec="XTC").unary()
    br = LSBReader(b"\xa5", codec="VP8L")
    assert br.read(4) == 0x5
    with pytest.raises(ValueError, match="VP8L bitstream truncated"):
        br.read(5)


def test_stuffed_reader_raises_on_a_marker_only_when_it_needs_its_bits():
    # 0x05 follows an 0xFF, so it carries 7 bits; FF D0 is a marker
    data = b"\x12\xff\x05\xff\xd0"
    br = MSBReader(data, stuffed=True, codec="JPEG-LS")
    assert [br.read(8), br.read(8), br.read(7), br.read(8)] == [0x12, 0xFF, 5, 0xFF]
    assert br.pos == 4  # the marker is left for the caller
    with pytest.raises(ValueError, match="JPEG-LS bitstream ran into a marker"):
        br.read(1)
    # a wide read that would need the marker's bits raises as well
    with pytest.raises(ValueError, match="ran into a marker"):
        MSBReader(data, stuffed=True).read(32)
    # without the flag the same bytes are plain data
    assert MSBReader(data).read(40) == int.from_bytes(data, "big")


def test_pos_after_align():
    # read-ahead is counted back: 12 bits from byte 1 leave byte 3 the
    # first untouched one, though the refill loaded 8 bytes
    data = bytes(range(1, 11))
    for stuffed in (False, True):
        br = MSBReader(data, 1, stuffed=stuffed)
        br.read(12)
        assert br.pos == 3
        assert br.align() == 3 and br.read(8) == 4
    # a stuffed header whose last byte is 0xFF: align consumes the 0x00
    # pad after it (JPEG 2000 packet headers), the body starts after that
    hdr = MSBWriter(stuffed=True)
    hdr.write(0b1, 1)
    hdr.write(0x7F, 7)
    blob = b"\x99" + _ff_pad(hdr.bytes()) + b"\xab"
    br = MSBReader(blob, 1, stuffed=True)
    assert br.bit() == 1 and br.read(7) == 0x7F
    assert br.pos == 2 and br.align() == 3 and br.read(8) == 0xAB
    # an 0xFF before the start position is not the reader's to consume
    assert MSBReader(b"\xff\x00\x01", 1, stuffed=True).align() == 1
    # a partial last byte: JPEG-LS takes ``pos`` as the next marker search
    br = MSBReader(b"\x80\xff\x40\xff\xd9", stuffed=True)
    assert br.read(1) == 1 and br.pos == 1
    assert br.read(7 + 8 + 1) == 0x1FF and br.pos == 3
