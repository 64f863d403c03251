"""Bit-level I/O for the engine's pure-Python entropy coders: one
MSB-first reader and writer (FLAC, baseline/progressive JPEG, JPEG-LS,
JPEG 2000 packet headers and raw passes, XTC coordinates) and one
LSB-first reader and writer (Vorbis, VP8L WebP).

Readers keep an integer accumulator refilled from the byte string
several bytes at a time; ``MSBReader.pos`` counts back the whole bytes
the accumulator holds but has not handed out, so it is the byte
position a per-bit reader would report. Two flags cover every MSB
codec:

- ``stuffed``: a byte after 0xFF carries 7 bits (its MSB is a stuffed
  0) — T.87 JPEG-LS and the T.800 packet headers and raw passes. The
  reader de-stuffs at refill and raises on a marker (0xFF followed by a
  byte with its MSB set) when it needs that byte's bits.
- ``pad`` (readers): reading past the end gives 0 bits — T.81 entropy
  intervals and T.800 raw passes. Without it a reader raises a
  ``ValueError`` that names its ``codec``.

Executor-safe: pure Python over bytes.
"""

from __future__ import annotations


class MSBReader:
    """MSB-first bit reader over ``data`` from byte ``pos``."""

    __slots__ = ("data", "stuffed", "pad", "codec", "_start", "_i", "_acc",
                 "_n", "_ff")

    def __init__(self, data: bytes, pos: int = 0, *, stuffed: bool = False,
                 pad: bool = False, codec: str = "bitstream"):
        self.data = data
        self.stuffed = stuffed
        self.pad = pad
        self.codec = codec  # named in truncation and marker errors
        self._start = self._i = pos
        self._acc = self._n = 0
        self._ff = False  # the last byte loaded was 0xFF

    def read(self, n: int) -> int:
        """The next ``n`` bits as an unsigned integer."""
        if self._n < n:
            self._fill(n)
        self._n -= n
        return (self._acc >> self._n) & ((1 << n) - 1)

    def bit(self) -> int:
        if not self._n:
            self._fill(1)
        self._n -= 1
        return (self._acc >> self._n) & 1

    def unary(self) -> int:
        """Count the 0 bits before the next 1 bit, and consume both (the
        FLAC Rice and JPEG-LS Golomb prefixes)."""
        count = 0
        while True:
            n = self._n
            v = self._acc & ((1 << n) - 1)
            if v:
                m = v.bit_length()
                self._n = m - 1
                return count + n - m
            count += n
            self._n = 0
            self._fill(1)

    @property
    def pos(self) -> int:
        """Index of the first byte none of whose bits have been read. A
        refill reads ahead only in whole 8-bit bytes (a de-stuffed byte
        is loaded only when its bits are needed), so the untouched bytes
        are the accumulator's whole bytes."""
        return self._i - (self._n >> 3)

    def align(self) -> int:
        """Drop the rest of the current byte and return ``pos``. In a
        stuffed stream a last byte of 0xFF also consumes the byte after
        it (the 7-bit pad a stuffed writer's caller appends)."""
        pos = self.pos
        last = self.data[pos - 1 : pos] if pos > self._start else b""
        if self.stuffed and last == b"\xff":
            pos += 1
        self._start = self._i = pos
        self._acc = self._n = 0
        self._ff = False
        return pos

    def _fill(self, n: int) -> None:
        """Buffer at least ``n`` bits: whole words while no byte can need
        de-stuffing, else a byte at a time, stopping as soon as ``n``
        bits are in so that a marker past them is never read."""
        data, i, got = self.data, self._i, self._n
        acc = self._acc & ((1 << got) - 1)
        chunk = data[i : i + max(8, (n - got + 7) >> 3)]
        if self.stuffed and (self._ff or 0xFF in chunk):
            ff = self._ff
            end = len(data)
            while got < n and i < end:
                b = data[i]
                i += 1
                if ff:
                    if b & 0x80:
                        raise ValueError(
                            f"{self.codec} bitstream ran into a marker")
                    acc = (acc << 7) | b
                    got += 7
                else:
                    acc = (acc << 8) | b
                    got += 8
                ff = b == 0xFF
            self._ff = ff
        else:
            acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
            i += len(chunk)
            got += 8 * len(chunk)
        if got < n:
            if not self.pad:
                raise ValueError(f"{self.codec} bitstream truncated")
            k = (n - got + 7) >> 3
            acc <<= 8 * k
            got += 8 * k
            i += k
            self._ff = False
        self._acc, self._i, self._n = acc, i, got


class MSBWriter:
    """MSB-first bit writer; ``out`` holds every completed byte. With
    ``stuffed`` a byte after 0xFF carries 7 bits. A trailing 0xFF is
    left as it is: JPEG 2000 appends its own 0x00 pad, JPEG-LS does not."""

    __slots__ = ("out", "stuffed", "_acc", "_n", "_cap")

    def __init__(self, *, stuffed: bool = False):
        self.out = bytearray()
        self.stuffed = stuffed
        self._acc = self._n = 0
        self._cap = 8  # bits the next byte carries

    def write(self, v: int, n: int) -> None:
        """Append the low ``n`` bits of ``v``."""
        acc = (self._acc << n) | (v & ((1 << n) - 1))
        n += self._n
        if n >= self._cap:  # move the completed bytes to ``out``
            out = self.out
            if self.stuffed:
                cap = self._cap
                while n >= cap:
                    n -= cap
                    b = acc >> n
                    out.append(b)
                    acc &= (1 << n) - 1
                    cap = 7 if b == 0xFF else 8
                self._cap = cap
            else:
                k = n >> 3
                n &= 7
                out += (acc >> n).to_bytes(k, "big")
                acc &= (1 << n) - 1
        self._acc = acc
        self._n = n

    def bytes(self) -> bytes:
        """Pad the last byte with 0 bits and return everything written."""
        if self._n:
            self.write(0, self._cap - self._n)
        return bytes(self.out)


class LSBReader:
    """LSB-first bit reader over ``data`` from byte ``pos``; reading past
    the end raises a ``ValueError`` that names ``codec``."""

    __slots__ = ("data", "codec", "_i", "_acc", "_n")

    def __init__(self, data: bytes, pos: int = 0, *, codec: str = "bitstream"):
        self.data = data
        self.codec = codec
        self._i = pos
        self._acc = self._n = 0

    def read(self, n: int) -> int:
        """The next ``n`` bits as an unsigned integer, first bit lowest."""
        if self._n < n:
            chunk = self.data[self._i : self._i + max(8, (n - self._n + 7) >> 3)]
            self._acc |= int.from_bytes(chunk, "little") << self._n
            self._i += len(chunk)
            self._n += 8 * len(chunk)
            if self._n < n:
                raise ValueError(f"{self.codec} bitstream truncated")
        v = self._acc & ((1 << n) - 1)
        self._acc >>= n
        self._n -= n
        return v


class LSBWriter:
    """LSB-first bit writer; ``out`` holds every completed byte."""

    __slots__ = ("out", "_acc", "_n")

    def __init__(self):
        self.out = bytearray()
        self._acc = self._n = 0

    def write(self, v: int, n: int) -> None:
        """Append the low ``n`` bits of ``v``, lowest first."""
        acc = self._acc | ((v & ((1 << n) - 1)) << self._n)
        n += self._n
        if n >= 8:
            k = n >> 3
            self.out += (acc & ((1 << 8 * k) - 1)).to_bytes(k, "little")
            acc >>= 8 * k
            n &= 7
        self._acc, self._n = acc, n

    def bytes(self) -> bytes:
        """Pad the last byte with 0 bits and return everything written."""
        if self._n:
            self.write(0, 8 - self._n)
        return bytes(self.out)
