"""PNM / TGA / AIFF / AU decoders — spec-built fixtures, value-checked."""

from __future__ import annotations

import numpy as np
import pytest

from intake_spark.llm.multimodal import (
    decode_aiff,
    decode_au,
    decode_audio_full,
    decode_image,
    decode_pnm,
    decode_tga,
)


# --- PNM -------------------------------------------------------------------


def test_pnm_ascii_variants():
    # P1 bitmap: 1=black → 0, 0=white → 255 (same scale as raw P4)
    p1 = b"P1\n# comment\n3 2\n1 0 1\n0 1 0\n"
    a = decode_pnm(p1)
    assert a.shape == (2, 3, 1)
    assert a[:, :, 0].tolist() == [[0, 255, 0], [255, 0, 255]]

    p2 = b"P2\n2 2\n255\n0 64\n128 255\n"
    g = decode_pnm(p2)
    assert g[:, :, 0].tolist() == [[0, 64], [128, 255]]

    p3 = b"P3\n1 2\n255\n255 0 0\n0 0 255\n"
    c = decode_pnm(p3)
    assert c.shape == (2, 1, 3)
    assert c[0, 0].tolist() == [255, 0, 0] and c[1, 0].tolist() == [0, 0, 255]


def test_pnm_raw_variants_and_16bit():
    # P4: 10 wide → 2 row bytes, bits MSB-first; 1 = black → 0
    row = bytes([0b10100000, 0b01000000])  # cols 0,2,9 set
    p4 = b"P4\n10 1\n" + row
    a = decode_pnm(p4)
    assert a.shape == (1, 10, 1)
    assert (a[0, :, 0] == 0).nonzero()[0].tolist() == [0, 2, 9]

    p5 = b"P5 2 2 255\n" + bytes([1, 2, 3, 4])
    assert decode_pnm(p5)[:, :, 0].tolist() == [[1, 2], [3, 4]]

    p6 = b"P6 1 1 255\n" + bytes([9, 8, 7])
    assert decode_pnm(p6)[0, 0].tolist() == [9, 8, 7]

    p5_16 = b"P5 2 1 65535\n" + (1000).to_bytes(2, "big") + (64000).to_bytes(2, "big")
    w = decode_pnm(p5_16)
    assert w.dtype == np.uint16 and w[0, :, 0].tolist() == [1000, 64000]


def test_pnm_via_decode_image_dispatch():
    a = decode_image(b"P6 2 1 255\n" + bytes([1, 2, 3, 4, 5, 6]))
    assert a.shape == (1, 2, 3)


# --- TGA -------------------------------------------------------------------


def _tga(w, h, body, img_type=2, bpp=24, desc=0x20, footer=False):
    hdr = bytes(
        [0, 0, img_type, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ) + w.to_bytes(2, "little") + h.to_bytes(2, "little") + bytes([bpp, desc])
    out = hdr + body
    if footer:
        out += b"\x00" * 8 + b"TRUEVISION-XFILE.\x00"
    return out


def test_tga_uncompressed_and_flip():
    # 2x2 BGR, top-left origin (desc 0x20)
    px = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  10, 20, 30])
    a = decode_tga(_tga(2, 2, px))
    assert a.shape == (2, 2, 3)
    assert a[0, 0].tolist() == [0, 0, 255]      # BGR -> RGB
    assert a[1, 1].tolist() == [30, 20, 10]
    # bottom-left origin flips rows
    b = decode_tga(_tga(2, 2, px, desc=0x00))
    assert b[0, 0].tolist() == a[1, 0].tolist()


def test_tga_rle_and_gray_and_dispatch():
    # RLE: run of 3 red pixels + 1 raw green (BGR order in file)
    body = bytes([0x82, 0, 0, 255, 0x00, 0, 255, 0])
    a = decode_tga(_tga(4, 1, body, img_type=10))
    assert a[0, 0].tolist() == [255, 0, 0] and a[0, 2].tolist() == [255, 0, 0]
    assert a[0, 3].tolist() == [0, 255, 0]

    g = decode_tga(_tga(2, 1, bytes([7, 250]), img_type=3, bpp=8))
    assert g[0, :, 0].tolist() == [7, 250]

    # dispatch via footer
    d = decode_image(_tga(1, 1, bytes([1, 2, 3]), footer=True))
    assert d.shape == (1, 1, 3)

    # type 1 without a color map is inconsistent -> loud error
    with pytest.raises(ValueError, match="without a color map"):
        decode_tga(_tga(1, 1, b"\x00", img_type=1))


def _tga_cm(w, h, body, palette, img_type=1, cm_bits=24, idx_bits=8,
            desc=0x20, cm_first=0):
    n_entries = len(palette) // ((cm_bits + 7) // 8)
    hdr = bytes([0, 1, img_type]) + cm_first.to_bytes(2, "little")
    hdr += n_entries.to_bytes(2, "little") + bytes([cm_bits])
    hdr += bytes([0, 0, 0, 0]) + w.to_bytes(2, "little")
    hdr += h.to_bytes(2, "little") + bytes([idx_bits, desc])
    return hdr + palette + body


def test_tga_color_mapped_and_16bit():
    """Types 1/9 (color-mapped, raw + RLE), 24/32/16-bit palette
    entries, non-zero first-entry index, and 15/16-bit ARGB1555
    true-color pixels."""
    # 24-bit palette (BGR entries): red, green
    pal = bytes([0, 0, 255, 0, 255, 0])
    a = decode_tga(_tga_cm(2, 1, bytes([0, 1]), pal))
    assert a[0, 0].tolist() == [255, 0, 0] and a[0, 1].tolist() == [0, 255, 0]

    # 32-bit palette carries alpha
    pal32 = bytes([0, 0, 255, 128, 0, 255, 0, 255])
    a = decode_tga(_tga_cm(2, 1, bytes([0, 1]), pal32, cm_bits=32))
    assert a.shape == (1, 2, 4)
    assert a[0, 0].tolist() == [255, 0, 0, 128]

    # 16-bit ARGB1555 palette: opaque pure red = 0xFC00
    pal16 = (0xFC00).to_bytes(2, "little") + (0x83E0).to_bytes(2, "little")
    a = decode_tga(_tga_cm(2, 1, bytes([0, 1]), pal16, cm_bits=16))
    assert a[0, 0].tolist() == [255, 0, 0, 255]
    assert a[0, 1].tolist() == [0, 255, 0, 255]

    # RLE color-mapped (type 9): run of 3 index-0 + raw index-1
    body = bytes([0x82, 0, 0x00, 1])
    a = decode_tga(_tga_cm(4, 1, body, pal, img_type=9))
    assert [p.tolist() for p in a[0]] == [[255, 0, 0]] * 3 + [[0, 255, 0]]

    # cm_first offset shifts indices; out-of-range fails loudly
    a = decode_tga(_tga_cm(1, 1, bytes([5]), pal, cm_first=5))
    assert a[0, 0].tolist() == [255, 0, 0]
    with pytest.raises(ValueError, match="index out of range"):
        decode_tga(_tga_cm(1, 1, bytes([9]), pal))

    # a true-color file may still CARRY a palette (developer data,
    # spec-legal): it is skipped, pixels follow it
    px2 = bytes([255, 0, 0, 0, 255, 0])
    a = decode_tga(_tga_cm(2, 1, px2, pal, img_type=2, idx_bits=24))
    assert a[0, 0].tolist() == [0, 0, 255]
    # but a color-mapped type WITHOUT a map is inconsistent
    with pytest.raises(ValueError, match="without a color map"):
        decode_tga(_tga(1, 1, b"\x00", img_type=1))

    # true-color 16-bit pixels (ARGB1555, type 2); the descriptor's
    # attribute-bit COUNT governs alpha: 0 attribute bits (or 15-bit
    # depth) = opaque even when bit 15 is clear — most writers leave
    # it clear on opaque images
    px = (0xFC00).to_bytes(2, "little") + (0x001F).to_bytes(2, "little")
    a = decode_tga(_tga(2, 1, px, bpp=16))  # desc 0x20: 0 attr bits
    assert a[0, 0].tolist() == [255, 0, 0, 255]
    assert a[0, 1].tolist() == [0, 0, 255, 255]
    a = decode_tga(_tga(2, 1, px, bpp=16, desc=0x21))  # 1 attr bit
    assert a[0, 0].tolist() == [255, 0, 0, 255]
    assert a[0, 1].tolist() == [0, 0, 255, 0]  # bit 15 clear -> transparent
    # 15-bit declared depth stores the same 2-byte pixels, no attribute
    a = decode_tga(_tga(2, 1, px, bpp=15))
    assert a[0, 0].tolist()[:3] == [255, 0, 0] and a[0, 1, 3] == 255

    # opaque 16-bit PALETTE with all attribute bits clear stays opaque;
    # a palette that uses the bit is honored
    pal_clear = (0x7C00).to_bytes(2, "little") + (0x03E0).to_bytes(2, "little")
    a = decode_tga(_tga_cm(2, 1, bytes([0, 1]), pal_clear, cm_bits=16))
    assert a[0, 0].tolist() == [255, 0, 0, 255]

    # RLE with 2-byte pixels (type 10 at 16 bpp)
    body = (bytes([0x82]) + (0xFC00).to_bytes(2, "little")
            + bytes([0x00]) + (0x83E0).to_bytes(2, "little"))
    a = decode_tga(_tga(4, 1, body, img_type=10, bpp=16))
    assert a[0, 0].tolist() == [255, 0, 0, 255]
    assert a[0, 2].tolist() == [255, 0, 0, 255]
    assert a[0, 3].tolist() == [0, 255, 0, 255]

    # 16-bit grayscale: intensity + attribute byte
    a = decode_tga(_tga(2, 1, bytes([7, 255, 250, 0]), img_type=3, bpp=16))
    assert a.shape == (1, 2, 2)
    assert a[0, 0].tolist() == [7, 255] and a[0, 1].tolist() == [250, 0]
    # other depths stay a NAMED gate
    with pytest.raises(NotImplementedError, match="grayscale"):
        decode_tga(_tga(1, 1, b"\x00" * 3, img_type=3, bpp=24))


# --- AIFF ------------------------------------------------------------------


def _ext80(rate: float) -> bytes:
    # build the 80-bit extended float for integral rates
    import math

    if rate == 0:
        return b"\x00" * 10
    exp = int(math.floor(math.log2(rate)))
    mant = int(rate / 2.0**exp * (1 << 63))
    return ((exp + 16383).to_bytes(2, "big")) + mant.to_bytes(8, "big")


def _aiff(rate, nch, bits, frames_bytes, n_frames, kind=b"AIFF", comp=b""):
    comm = (
        nch.to_bytes(2, "big")
        + n_frames.to_bytes(4, "big")
        + bits.to_bytes(2, "big")
        + _ext80(rate)
        + comp
    )
    ssnd = (0).to_bytes(4, "big") + (0).to_bytes(4, "big") + frames_bytes
    chunks = b"COMM" + len(comm).to_bytes(4, "big") + comm
    if len(comm) % 2:
        chunks += b"\x00"
    chunks += b"SSND" + len(ssnd).to_bytes(4, "big") + ssnd
    body = kind + chunks
    return b"FORM" + len(body).to_bytes(4, "big") + body


def test_aiff_pcm16_stereo():
    samples = np.array([[1000, -1000], [32767, -32768]], dtype=">i2")
    data = _aiff(44100, 2, 16, samples.tobytes(), 2)
    rate, arr, bits = decode_aiff(data)
    assert (rate, bits) == (44100, 16)
    assert arr.tolist() == [[1000, -1000], [32767, -32768]]
    # magic dispatch
    r2, a2, b2 = decode_audio_full(data)
    assert a2.tolist() == arr.tolist()


def test_aiff_24bit_and_unsupported_compression():
    val = -(2**22)
    b3 = (val & 0xFFFFFF).to_bytes(3, "big")
    rate, arr, bits = decode_aiff(_aiff(8000, 1, 24, b3, 1))
    assert bits == 24 and arr[0, 0] == val

    with pytest.raises(NotImplementedError, match="compression"):
        decode_aiff(_aiff(8000, 1, 16, b"\x00\x00", 1, kind=b"AIFC",
                          comp=b"ima4"))


def test_aifc_g711_ulaw_alaw():
    """AIFC 'ulaw'/'alaw': one companded byte per sample through the
    same G.711 expanders the AU reader uses — values must MATCH the AU
    decode of the identical byte stream."""
    from intake_spark.llm.multimodal import _alaw_expand, _mulaw_expand

    raw = bytes(range(0, 256, 17))  # 16 companded bytes
    for comp, expand in ((b"ulaw", _mulaw_expand),
                         (b"alaw", _alaw_expand)):
        blob = _aiff(8000, 2, 16, raw, len(raw) // 2, kind=b"AIFC",
                     comp=comp)
        rate, arr, bits = decode_aiff(blob)
        assert (rate, bits, arr.shape) == (8000, 16, (8, 2))
        want = expand(np.frombuffer(raw, dtype=np.uint8)).reshape(8, 2)
        assert arr.tolist() == want.tolist()
    # uppercase compression ids (some writers emit ULAW)
    blob = _aiff(8000, 1, 16, raw, len(raw), kind=b"AIFC", comp=b"ULAW")
    _r, arr, _b = decode_aiff(blob)
    assert arr.shape == (16, 1)


# --- AU --------------------------------------------------------------------


def _au(enc, rate, nch, body):
    return (
        b".snd"
        + (24).to_bytes(4, "big")
        + len(body).to_bytes(4, "big")
        + enc.to_bytes(4, "big")
        + rate.to_bytes(4, "big")
        + nch.to_bytes(4, "big")
        + body
    )


def test_au_pcm16_and_dispatch():
    body = np.array([123, -456], dtype=">i2").tobytes()
    rate, arr, bits = decode_au(_au(3, 8000, 1, body))
    assert (rate, bits) == (8000, 16) and arr[:, 0].tolist() == [123, -456]
    r2, a2, _ = decode_audio_full(_au(3, 8000, 1, body))
    assert a2[:, 0].tolist() == [123, -456]


def test_au_mulaw_known_values():
    # G.711 reference points: byte 0xFF encodes +0, 0x7F encodes -0,
    # byte 0x00 the most negative value (-8031 on the 14-bit scale,
    # ×4 on our 16-bit output), 0x80 the most positive (+8031)
    rate, arr, bits = decode_au(_au(1, 8000, 1, bytes([0xFF, 0x7F, 0x00, 0x80])))
    assert bits == 16
    assert arr[0, 0] == 0 and arr[1, 0] == 0
    assert arr[2, 0] == -8031 * 4
    assert arr[3, 0] == 8031 * 4


def test_meta_probes_for_new_formats():
    from intake_spark.llm.audio_meta import audio_meta
    from intake_spark.llm.multimodal import image_meta

    m = image_meta(b"P6 7 5 255\n" + bytes(7 * 5 * 3))
    assert (m["format"], m["width"], m["height"]) == ("pnm", 7, 5)

    t = image_meta(_tga(3, 4, bytes(3 * 4 * 3), footer=True))
    assert (t["format"], t["width"], t["height"]) == ("tga", 3, 4)

    samples = np.zeros((44100, 2), dtype=">i2")
    am = audio_meta(_aiff(44100, 2, 16, samples.tobytes(), 44100))
    assert am["format"] == "aiff" and am["duration_s"] == 1.0 and am["channels"] == 2

    au = audio_meta(_au(3, 8000, 1, np.zeros(8000, dtype=">i2").tobytes()))
    assert au["format"] == "au" and au["duration_s"] == 1.0 and au["bits"] == 16


def test_image_meta_jpeg2000_reference_grid_offset():
    """SIZ dims are Xsiz-XOsiz / Ysiz-YOsiz (T.800 A.5.1): a codestream
    with a non-zero reference-grid origin must not report inflated dims."""
    import struct

    from intake_spark.llm.multimodal import image_meta

    siz_body = struct.pack(
        ">HIIIIIIII H BBB",
        0,          # Rsiz
        1000, 800,  # Xsiz, Ysiz (grid extent)
        360, 300,   # XOsiz, YOsiz (image origin on the grid)
        1000, 800,  # XTsiz, YTsiz
        0, 0,       # XTOsiz, YTOsiz
        1,          # Csiz
        7, 1, 1,    # Ssiz, XRsiz, YRsiz
    )
    cs = b"\xff\x4f\xff\x51" + struct.pack(">H", 2 + len(siz_body)) + siz_body
    m = image_meta(cs)
    assert (m["format"], m["width"], m["height"]) == ("jpeg2000", 640, 500)


# --- IMA-ADPCM WAV / A-law AU ---------------------------------------------


def _ima_encode_mono(samples, rate=8000):
    """Reference IMA-ADPCM encoder (same published tables) for round-trip
    fixtures: one block, mono."""
    import struct

    from intake_spark.llm.multimodal import _IMA_INDEX, _IMA_STEP

    pred, idx = samples[0], 0
    nibs = []
    for s in samples[1:]:
        step = _IMA_STEP[idx]
        diff = s - pred
        n = 0
        if diff < 0:
            n = 8
            diff = -diff
        if diff >= step:
            n |= 4
            diff -= step
        if diff >= step >> 1:
            n |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            n |= 1
            diff -= step >> 2
        # decoder-mirror reconstruction
        d = step >> 3
        if n & 1:
            d += step >> 2
        if n & 2:
            d += step >> 1
        if n & 4:
            d += step
        pred = pred - d if n & 8 else pred + d
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX[n & 7]))
        nibs.append(n)
    if len(nibs) % 8:
        nibs += [0] * (8 - len(nibs) % 8)
    body = bytearray()
    for i in range(0, len(nibs), 2):
        body.append(nibs[i] | (nibs[i + 1] << 4))
    block = struct.pack("<hBB", samples[0], 0, 0) + bytes(body)
    block_align = len(block)
    fmt = struct.pack("<HHIIHH", 0x11, 1, rate, rate * block_align // 505, block_align, 4)
    data = block
    riff = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    riff += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


def test_wav_ima_adpcm_roundtrip():
    import numpy as np

    from intake_spark.llm.multimodal import decode_audio_full, decode_wav_full

    # a slow ramp the 4-bit quantizer can track closely
    truth = [0]
    for i in range(1, 64):
        truth.append(truth[-1] + (3 if i % 2 else -2))
    blob = _ima_encode_mono(truth)
    rate, arr, sw = decode_wav_full(blob)
    assert rate == 8000 and sw == 2 and arr.shape[1] == 1
    got = arr[: len(truth), 0].astype(int).tolist()
    assert got[0] == truth[0]
    # quantization error bounded by the minimum step ladder
    assert max(abs(g - t) for g, t in zip(got, truth)) <= 8
    r2, a2, bits = decode_audio_full(blob)
    assert bits == 16 and a2.tolist() == arr.tolist()


def test_au_alaw_known_values():
    from intake_spark.llm.multimodal import decode_au

    # G.711 A-law reference points: 0xD5 -> +8 ("analog zero"),
    # 0x55 -> -8, 0x2A -> most negative (-32256), 0xAA -> most positive
    rate, arr, bits = decode_au(_au(27, 8000, 1, bytes([0xD5, 0x55, 0x2A, 0xAA])))
    assert bits == 16
    assert arr[:, 0].tolist() == [8, -8, -32256, 32256]


def test_truncated_inputs_raise_cleanly():
    """Every new binary decoder must fail FAST on truncation — an
    exception, never a hang or a silent wrong answer."""
    from intake_spark.llm.multimodal import (
        decode_aiff,
        decode_au,
        decode_pnm,
        decode_tga,
        decode_wav_adpcm,
    )
    from intake_spark.llm.video import parse_y4m

    samples = np.zeros((4, 1), dtype=">i2")
    good = {
        "pnm": b"P6 2 2 255\n" + bytes(12),
        "tga": _tga(2, 2, bytes(12)),
        "aiff": _aiff(8000, 1, 16, samples.tobytes(), 4),
        "au": _au(3, 8000, 1, samples.tobytes()),
        "y4m": b"YUV4MPEG2 W2 H2 F25:1 C420\n" + b"FRAME\n" + bytes(6),
    }
    dec = {
        "pnm": decode_pnm,
        "tga": decode_tga,
        "aiff": decode_aiff,
        "au": decode_au,
        "y4m": parse_y4m,
    }
    for name, blob in good.items():
        dec[name](blob)  # sanity: full blob decodes
        for cut in (1, 3, len(blob) // 2, len(blob) - 1):
            try:
                dec[name](blob[:cut])
            except Exception:
                pass  # any exception is fine; hangs/garbage are not


# --- review-pass regressions ----------------------------------------------


def test_aifc_sowt_little_endian():
    samples_le = np.array([[1000], [-2000]], dtype="<i2")
    data = _aiff(8000, 1, 16, samples_le.tobytes(), 2, kind=b"AIFC", comp=b"sowt")
    rate, arr, bits = decode_aiff(data)
    assert arr[:, 0].tolist() == [1000, -2000]


def test_pbm_unseparated_digits():
    from intake_spark.llm.multimodal import decode_pnm

    # spec-valid plain PBM: no whitespace between pixels
    a = decode_pnm(b"P1\n4 2\n0110\n1001\n")
    assert ((a[:, :, 0] == 0).astype(int).tolist()) == [[0, 1, 1, 0], [1, 0, 0, 1]]


def test_cur_like_bytes_not_hijacked_as_tga():
    # Windows cursor/icon directory starts 00 00 02 00 <count> ... —
    # previously matched the footer-less TGA heuristic
    cur = bytes([0, 0, 2, 0, 1, 0, 16, 16, 0, 0, 1, 0, 32, 0, 0, 0, 0, 0]) + bytes(64)
    with pytest.raises((NotImplementedError, ValueError)):
        decode_image(cur)


def test_au_alaw_meta_bits():
    from intake_spark.llm.audio_meta import audio_meta

    m = audio_meta(_au(27, 8000, 1, bytes(8000)))
    assert m["bits"] == 8 and m["duration_s"] == 1.0


def test_pil_escape_hatch_for_lossy_codecs(monkeypatch):
    """When pillow IS installed (faked here), lossy WebP and AVIF blobs
    decode through it into the standard (H, W, C) uint8 contract; when
    it is absent, the named codec gate stays."""
    import struct
    import sys
    import types

    import numpy as np
    import pytest

    from intake_spark.llm.multimodal import decode_image

    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 64, 48)
    lossy_webp = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8)) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    )
    avif = b"\x00\x00\x00\x18ftypavif" + b"\x00" * 16

    # no pillow in this container: both stay named gates
    for blob in (lossy_webp, avif):
        with pytest.raises(NotImplementedError):
            decode_image(blob)

    class FakeImg:
        mode = "RGB"
        info: dict = {}

        def convert(self, m):
            return self

        def __array__(self, dtype=None, copy=None):
            return np.full((4, 5, 3), 7, dtype="uint8")

    fake_image = types.ModuleType("PIL.Image")
    fake_image.open = lambda bio: FakeImg()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)

    for blob in (lossy_webp, avif):
        arr = decode_image(blob)
        assert arr.shape == (4, 5, 3) and arr.dtype == np.uint8

    # grayscale result is normalized to a channel axis
    class GrayImg(FakeImg):
        def __array__(self, dtype=None, copy=None):
            return np.zeros((4, 5), dtype="uint8")

    fake_image.open = lambda bio: GrayImg()
    assert decode_image(avif).shape == (4, 5, 1)

    # stdlib-decodable formats must NOT detour through pillow
    fake_image.open = lambda bio: (_ for _ in ()).throw(AssertionError("PIL used"))
    from tests.test_llm_ops import _png_rgb_with_filters

    px = np.zeros((3, 2, 3), dtype="uint8")
    assert decode_image(_png_rgb_with_filters(px, filters=[0] * 3)).shape[:2] == (3, 2)


def test_soundfile_escape_hatch_for_lossy_audio(monkeypatch):
    """MP3/OGG blobs decode through soundfile when installed (faked),
    normalized to (rate, int16 (n, ch), bits); absent, the named gate."""
    import sys
    import types

    import numpy as np
    import pytest

    from intake_spark.llm.multimodal import decode_audio_full

    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 64

    with pytest.raises(NotImplementedError):
        decode_audio_full(mp3)

    fake_sf = types.ModuleType("soundfile")

    def fake_read(bio, dtype="int16", always_2d=True):
        assert dtype == "int16" and always_2d
        return np.arange(8, dtype="int16").reshape(4, 2), 22050

    fake_sf.read = fake_read
    monkeypatch.setitem(sys.modules, "soundfile", fake_sf)
    rate, arr, bits = decode_audio_full(mp3)
    assert rate == 22050 and arr.shape == (4, 2) and bits == 16

    # WAV must NOT detour through soundfile
    fake_sf.read = lambda *a, **k: (_ for _ in ()).throw(AssertionError("sf used"))
    import io
    import wave

    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.zeros(16, dtype="<i2").tobytes())
    rate, arr, bits = decode_audio_full(bio.getvalue())
    assert rate == 8000 and bits == 16 and arr.shape == (16, 1)


def test_pyav_escape_hatch_for_video(monkeypatch, spark):
    """Unknown containers (MP4 etc.) decode through PyAV when installed
    (faked): sample_video_frames emits decoded RAW24 frames that
    video_frame_features consumes; absent PyAV, the named error stays."""
    import sys
    import types

    import numpy as np
    import pytest

    from intake_spark.llm.video import _av_sample_frames, sample_video_frames, video_frame_features

    mp4 = b"\x00\x00\x00\x18ftypisom" + b"\x00" * 64

    with pytest.raises(ImportError):
        _av_sample_frames(mp4, 1)

    class FakeFrame:
        def __init__(self, i):
            self.i = i

        def to_ndarray(self, format):
            assert format == "rgb24"
            return np.full((4, 6, 3), self.i, dtype="uint8")

    class FakeStream:
        average_rate = 25

        class codec_context:
            name = "h264"

    class FakeContainer:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        class streams:
            video = [FakeStream()]

        def decode(self, vs):
            return iter(FakeFrame(i) for i in range(5))

    fake_av = types.ModuleType("av")
    fake_av.open = lambda bio: FakeContainer()
    monkeypatch.setitem(sys.modules, "av", fake_av)

    fps, name, frames, n = _av_sample_frames(mp4, 2)
    assert (fps, name, n) == (25.0, "h264", 5)
    assert [f[0] for f in frames] == [0, 2, 4]
    assert frames[0][1:3] == (6, 4)

    # driver-side replica of the UDF logic (the fake module can't cross
    # the Python-worker boundary): the RAW24 rows and the feature branch
    raw = frames[0][3]
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(4, 6, 3)
    assert float(arr.mean()) == 0.0

    # without av and with an unknown container, the Spark path raises the
    # named error end-to-end
    monkeypatch.delitem(sys.modules, "av")
    df = spark.createDataFrame([("f.mp4", bytearray(mp4))], "path string, content binary")
    with pytest.raises(Exception, match="PyAV|unrecognized video container"):
        sample_video_frames(df, every_n=1).collect()

    # MJPEG-AVI keeps the native path untouched: still-encoded JPEG
    # frame bytes, codec MJPG (the escape hatch only takes over for
    # codecs outside the native set)
    from tests.test_video import _gray_frame, make_avi

    avi = make_avi([_gray_frame(100)], 8, 8)
    df2 = spark.createDataFrame([("f.avi", bytearray(avi))], "path string, content binary")
    rows = sample_video_frames(df2, every_n=1).collect()
    assert rows and rows[0].codec == "MJPG"
    assert bytes(rows[0].frame_bytes)[:3] == b"\xff\xd8\xff"

    # non-MJPEG AVI without PyAV: the demux-only behavior is preserved —
    # encoded frame bytes with the foreign codec tag, decode gated later
    h264_avi = avi.replace(b"MJPG", b"H264", 1)
    df3 = spark.createDataFrame(
        [("f2.avi", bytearray(h264_avi))], "path string, content binary"
    )
    rows3 = sample_video_frames(df3, every_n=1).collect()
    assert rows3 and rows3[0].codec == "H264"
    assert len(bytes(rows3[0].frame_bytes)) > 0


def test_arithmetic_jpeg_reaches_pil_hatch(monkeypatch):
    """Arithmetic-coded JPEG (SOF10) is a NotImplementedError gate from
    decode_jpeg (progressive SOF2 decodes natively since r8); decode_image
    delegates the gate to pillow when installed and keeps the named gate
    otherwise (review finding r6)."""
    import struct
    import sys
    import types

    import numpy as np
    import pytest

    from intake_spark.llm.multimodal import decode_image

    def _seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    prog = (
        b"\xff\xd8"
        + _seg(0xCA, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
        + b"\xff\xd9"
    )

    with pytest.raises(NotImplementedError, match="SOF0/SOF1/SOF2"):
        decode_image(prog)

    class FakeImg:
        mode = "RGB"
        info: dict = {}

        def __array__(self, dtype=None, copy=None):
            return np.full((8, 8, 3), 3, dtype="uint8")

    fake_image = types.ModuleType("PIL.Image")
    fake_image.open = lambda bio: FakeImg()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)

    assert decode_image(prog).shape == (8, 8, 3)


def test_pil_hatch_normalizes_exotic_modes(monkeypatch):
    """CMYK/LA/I pillow modes are converted to the uint8 RGB(A)/L
    contract instead of leaking 4-channel-CMYK-as-RGBA or int32 planes
    (review finding r6)."""
    import sys
    import types

    import numpy as np

    from intake_spark.llm.multimodal import _pil_decode

    calls = []

    class ModalImg:
        info: dict = {}

        def __init__(self, mode):
            self.mode = mode

        def convert(self, m):
            calls.append((self.mode, m))
            out = ModalImg(m)
            return out

        def __array__(self, dtype=None, copy=None):
            if self.mode == "RGBA":
                return np.zeros((2, 3, 4), dtype="uint8")
            if self.mode == "RGB":
                return np.zeros((2, 3, 3), dtype="uint8")
            if self.mode == "L":
                return np.zeros((2, 3), dtype="uint8")
            if self.mode == "I":
                return np.zeros((2, 3), dtype="int32")
            if self.mode == "CMYK":
                return np.zeros((2, 3, 4), dtype="uint8")
            raise AssertionError(self.mode)

    fake_image = types.ModuleType("PIL.Image")
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)

    # CMYK -> RGB (3 channels, not a 4-channel fake-RGBA)
    fake_image.open = lambda bio: ModalImg("CMYK")
    assert _pil_decode(b"x").shape == (2, 3, 3)
    assert calls[-1] == ("CMYK", "RGB")
    # LA (luminance+alpha) keeps its alpha -> RGBA
    fake_image.open = lambda bio: ModalImg("LA")
    assert _pil_decode(b"x").shape == (2, 3, 4)
    assert calls[-1] == ("LA", "RGBA")
    # int32 'I' plane -> uint8 RGB, never int32 out
    fake_image.open = lambda bio: ModalImg("I")
    assert _pil_decode(b"x").dtype == np.uint8
    # native modes untouched
    calls.clear()
    fake_image.open = lambda bio: ModalImg("L")
    assert _pil_decode(b"x").shape == (2, 3, 1)
    assert not calls


def test_y4m_gate_routes_to_pyav(monkeypatch, spark):
    """A gated Y4M variant (unsupported colorspace) raises
    NotImplementedError from parse_video; sample_video_frames must route
    it to PyAV when installed, and surface the NAMED Y4M gate (not the
    'unrecognized container' error) when PyAV is absent (review finding
    r6)."""
    import sys
    import types

    import numpy as np
    import pytest

    from intake_spark.llm.video import _av_sample_frames, parse_video, sample_video_frames

    y4m_410 = b"YUV4MPEG2 W4 H4 F25:1 C410\nFRAME\n" + bytes(4 * 4 * 2)

    with pytest.raises(NotImplementedError, match="C410"):
        parse_video(y4m_410)

    # without PyAV: the named Y4M gate survives end-to-end
    df = spark.createDataFrame(
        [("f.y4m", bytearray(y4m_410))], "path string, content binary"
    )
    with pytest.raises(Exception, match="C410"):
        sample_video_frames(df, every_n=1).collect()

    # audio-only container: named error, not IndexError
    class NoVideoContainer:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        class streams:
            video = []

    fake_av = types.ModuleType("av")
    fake_av.open = lambda bio: NoVideoContainer()
    monkeypatch.setitem(sys.modules, "av", fake_av)
    with pytest.raises(ValueError, match="no video stream"):
        _av_sample_frames(b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16, 1)


def test_pil_failure_keeps_named_jpeg_gate(monkeypatch):
    """When pillow is installed but cannot decode the gated SOF type
    (arithmetic-coded/lossless JPEGs are beyond pillow too), the named
    codec gate must survive — not pillow's opaque decode error
    (review finding r6-continuation)."""
    import struct
    import sys
    import types

    import pytest

    from intake_spark.llm.multimodal import decode_image

    def _seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    arith = (
        b"\xff\xd8"
        + _seg(0xC9, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
        + b"\xff\xd9"
    )

    class Broken(OSError):
        pass

    fake_image = types.ModuleType("PIL.Image")

    def _open(bio):
        raise Broken("broken data stream when reading image file")

    fake_image.open = _open
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)

    with pytest.raises(NotImplementedError, match="FFC9") as exc:
        decode_image(arith)
    assert isinstance(exc.value.__cause__, Broken)


def test_features_ladder_delegates_before_probe_rows(monkeypatch):
    """image_features/audio_features per-blob ladder (unit-tested via
    the module-level cell builders the mapInPandas stages call): with a
    media lib faked present, a gated lossy blob yields REAL decoded=1
    features; with it absent, the decoded=0 probe row remains."""
    import struct
    import sys
    import types

    import numpy as np

    from intake_spark.llm import multimodal as mm

    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 64, 48)
    lossy_webp = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8)) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    )
    # no pillow installed: probe row
    cells = mm._image_feature_cells(lossy_webp, 4)
    assert cells["decoded"] == 0 and cells["img_format"] == "webp-lossy"
    assert cells["width"] == 64 and cells["height"] == 48

    class FakeImg:
        mode = "RGB"
        info: dict = {}

        def convert(self, m):
            return self

        def __array__(self, dtype=None, copy=None):
            return np.full((48, 64, 3), 9, dtype="uint8")

    fake_image = types.ModuleType("PIL.Image")
    fake_image.open = lambda bio: FakeImg()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)

    # lossy webp now succeeds through decode_image's own pillow rung
    cells = mm._image_feature_cells(lossy_webp, 4)
    assert cells["decoded"] == 1 and cells["err"] is None
    assert cells["width"] == 64 and cells["height"] == 48
    assert cells["mean_intensity"] == 9.0 and len(cells["thumb"]) == 16

    # the WIDER features-level rung: a recognized-magic blob whose
    # native decode raises (corrupt PNG) is retried through pillow by
    # _image_feature_cells, which decode_image deliberately does not do
    corrupt_png = b"\x89PNG\r\n\x1a\n" + b"garbage-not-a-chunk"
    import pytest as _pytest

    with _pytest.raises(Exception):
        mm.decode_image(corrupt_png)
    cells = mm._image_feature_cells(corrupt_png, 4)
    assert cells["decoded"] == 1 and cells["err"] is None
    assert cells["mean_intensity"] == 9.0

    # audio: MP3 magic, no soundfile -> probe row; faked soundfile ->
    # real features normalized from the int16 contract
    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 64
    cells = mm._audio_feature_cells(mp3)
    assert cells["decoded"] == 0

    fake_sf = types.ModuleType("soundfile")

    def fake_read(bio, dtype="int16", always_2d=True):
        assert dtype == "int16" and always_2d
        return np.full((8000, 2), 1 << 14, dtype="int16"), 8000

    fake_sf.read = fake_read
    monkeypatch.setitem(sys.modules, "soundfile", fake_sf)
    cells = mm._audio_feature_cells(mp3)
    assert cells["decoded"] == 1 and cells["err"] is None
    assert cells["sample_rate"] == 8000 and cells["n_channels"] == 2
    assert cells["n_frames"] == 8000 and cells["duration_s"] == 1.0
    assert abs(cells["peak"] - 0.5) < 1e-12 and abs(cells["rms"] - 0.5) < 1e-12
    assert cells["zero_cross_rate"] == 0.0


@pytest.mark.parametrize(
    "site", ["image_probe", "image_format", "audio_probe", "audio_format",
             "image_transcode", "audio_transcode"]
)
def test_feature_ladder_probes_let_unrelated_errors_propagate(monkeypatch, site):
    """The header-probe rungs of the image/audio feature ladders and of
    the two transcodes catch only what a probe raises on a malformed
    blob: an unrelated TypeError from image_meta/audio_meta propagates,
    whether the probe fills the decoded=0 row, names the format of a
    delegated decode or names a transcode's source format."""
    from intake_spark.llm import audio_meta
    from intake_spark.llm import multimodal as mm

    def boom(blob):
        raise TypeError("unrelated")

    decoded = site.endswith("format")
    if site.startswith("image"):
        monkeypatch.setattr(mm, "image_meta", boom)
        monkeypatch.setattr(
            mm, "_optional_image_decode",
            lambda b: np.zeros((2, 2, 3)) if decoded else None,
        )
        with pytest.raises(TypeError, match="unrelated"):
            if site == "image_transcode":
                mm._image_transcode_cells(b"not an image", "webp")
            else:
                mm._image_feature_cells(b"not an image", 4)
    else:
        monkeypatch.setattr(audio_meta, "audio_meta", boom)
        monkeypatch.setattr(
            mm, "_optional_audio_decode",
            lambda b: (8000, np.zeros((4, 1))) if decoded else None,
        )
        with pytest.raises(TypeError, match="unrelated"):
            if site == "audio_transcode":
                mm._audio_transcode_cells(b"not audio")
            else:
                mm._audio_feature_cells(b"not audio")


@pytest.mark.parametrize("kind", ["image", "audio"])
def test_transcode_cells_keep_malformed_blobs_as_err_rows(kind):
    """What a probe raises on a malformed blob still leaves an err row
    with a null format, not a failed task."""
    from intake_spark.llm import multimodal as mm

    cells = (mm._image_transcode_cells(b"junk", "webp") if kind == "image"
             else mm._audio_transcode_cells(b"junk"))
    content, fmt, src_bytes, out_bytes, lossless, err = cells
    assert (content, fmt, src_bytes, out_bytes, lossless) == (None, None, 4, None, 0)
    assert err


def test_codec_roundtrip_stats_operator(spark):
    """Real J2K/JPEG-LS encode+decode inside mapInPandas: exact=1 and the
    pixel sum equals the text-derived truth (the q130 operator)."""
    from intake_spark.llm.multimodal import codec_roundtrip_stats

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "x" * 200)],
        "doc_id long, text string",
    )
    rows = codec_roundtrip_stats(df).collect()
    assert len(rows) == 6 and all(r.exact == 1 for r in rows)
    want = {
        1: sum(ord(c) % 256 for c in "hello world".ljust(64, " ")),
        2: 32 * 64,
        3: sum(ord(c) % 256 for c in ("x" * 64)),
    }
    for r in rows:
        assert (r.width, r.height) == (8, 8)
        assert r.sum_px == want[r.doc_id], r


def test_transcode_images(spark, tmp_path):
    """transcode_images (r9): corpus normalization to one storage codec —
    decode any stdlib-supported source, re-encode lossless, prove the
    losslessness per row by decoding the OUTPUT; gated/corrupt rows keep
    err instead of failing the batch."""
    import numpy as np

    from intake_spark.llm import multimodal
    from intake_spark.llm.jpeg2000 import encode_jpeg2000
    from intake_spark.llm.webp import decode_webp

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, (9, 11), dtype=np.uint8)
    from intake_spark.output import _png_bytes

    (tmp_path / "a.png").write_bytes(_png_bytes(gray.tolist()))
    (tmp_path / "b.j2k").write_bytes(encode_jpeg2000(gray, levels=1))
    (tmp_path / "c.bin").write_bytes(b"not an image at all........")
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*")
    out = multimodal.transcode_images(files, to="webp").collect()
    by = {r.path.rsplit("/", 1)[-1]: r for r in out}
    assert by["a.png"].lossless == 1 and by["a.png"].src_format == "png"
    assert by["b.j2k"].lossless == 1
    got = decode_webp(bytes(by["a.png"].content))
    np.testing.assert_array_equal(got[:, :, 0], gray)
    assert by["c.bin"].err is not None and by["c.bin"].content is None
    # sizes recorded for the curation-funnel bookkeeping
    assert by["a.png"].src_bytes > 0 and by["a.png"].out_bytes > 0


def test_transcode_preserves_alpha_and_survives_corrupt_magic(spark, tmp_path):
    """Second-review findings (r9): RGBA/gray+alpha sources keep every
    channel under lossless=1, and corrupt blobs WITH a recognized magic
    (zlib/struct/Index errors, not just ValueError) become err rows."""
    import numpy as np
    import zlib

    from intake_spark.llm import multimodal
    from intake_spark.llm.webp import decode_webp, encode_webp
    from intake_spark.output import _png_bytes

    rng = np.random.default_rng(9)
    rgba = rng.integers(0, 256, (7, 8, 4), dtype=np.uint8)
    (tmp_path / "a.webp").write_bytes(encode_webp(rgba))
    # truncated PNG: magic + header intact, IDAT cut mid-stream
    png = _png_bytes(rng.integers(0, 256, (9, 9), dtype=np.uint8).tolist())
    (tmp_path / "bad.png").write_bytes(png[: len(png) // 2])
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*")
    out = {r.path.rsplit("/", 1)[-1]: r
           for r in multimodal.transcode_images(files, to="webp").collect()}
    assert out["a.webp"].lossless == 1
    np.testing.assert_array_equal(
        decode_webp(bytes(out["a.webp"].content)), rgba
    )
    assert out["bad.png"].err is not None and out["bad.png"].content is None
    # jpeg2000 target keeps all four planes too
    out2 = {r.path.rsplit("/", 1)[-1]: r
            for r in multimodal.transcode_images(files, to="jpeg2000").collect()}
    assert out2["a.webp"].lossless == 1
    from intake_spark.llm.jpeg2000 import decode_jpeg2000

    np.testing.assert_array_equal(
        decode_jpeg2000(bytes(out2["a.webp"].content)), rgba
    )


def test_transcode_audio(spark, tmp_path):
    """transcode_audio: normalize a mixed WAV/AIFF/AU/FLAC corpus to
    FLAC, per-row losslessness proven by decoding the output; corrupt
    rows keep err; 8-bit unsigned WAV promotes to 16-bit values
    unchanged."""
    import io
    import wave

    from intake_spark.llm import multimodal
    from intake_spark.llm.flac import decode_flac, encode_flac

    rng = np.random.default_rng(21)
    pcm = rng.integers(-3000, 3000, (500, 2)).astype(np.int16)

    def wav_bytes(x, rate=8000):
        bio = io.BytesIO()
        with wave.open(bio, "wb") as w:
            w.setnchannels(x.shape[1])
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(x.astype("<i2").tobytes())
        return bio.getvalue()

    (tmp_path / "a.wav").write_bytes(wav_bytes(pcm))
    mono = pcm[:, 0].copy()
    (tmp_path / "b.flac").write_bytes(encode_flac(mono, 8000))
    (tmp_path / "c.aiff").write_bytes(
        _aiff(8000, 1, 16, mono.astype(">i2").tobytes(), len(mono))
    )
    u8 = rng.integers(0, 256, 64).astype(np.uint8)
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(u8.tobytes())
    (tmp_path / "d8.wav").write_bytes(bio.getvalue())
    (tmp_path / "e.bin").write_bytes(b"not audio either..............")

    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*")
    out = {r.path.rsplit("/", 1)[-1]: r
           for r in multimodal.transcode_audio(files).collect()}
    assert out["a.wav"].lossless == 1 and out["a.wav"].src_format == "wav"
    assert out["b.flac"].lossless == 1 and out["c.aiff"].lossless == 1
    assert out["d8.wav"].lossless == 1
    assert out["e.bin"].err is not None and out["e.bin"].content is None
    r2, back, _ = decode_flac(bytes(out["a.wav"].content))
    assert r2 == 8000
    np.testing.assert_array_equal(back, pcm)


# --- WAV beyond stdlib PCM ---------------------------------------------------

_WAV_GUID_TAIL = b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xAA\x00\x38\x9B\x71"


def _wav_fmt(tag, nch, rate, bits, data, ext_sub=None):
    import struct

    fmt = struct.pack("<HHIIHH", tag, nch, rate, rate * nch * bits // 8,
                      nch * bits // 8, bits)
    if ext_sub is not None:
        fmt += struct.pack("<HHI", 22, bits, 0x3)
        fmt += struct.pack("<H", ext_sub) + _WAV_GUID_TAIL
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if len(fmt) % 2:
        body += b"\x00"
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_float_and_extensible():
    """IEEE-float WAV (0x0003, 32/64-bit) normalizes to int16 exactly
    like the soundfile delegation path; WAVE_FORMAT_EXTENSIBLE (0xFFFE)
    unwraps its SubFormat GUID to PCM/float, incl. 24-bit sign
    extension; unknown codec tags (MP3-in-WAV 0x55) stay a named
    gate."""
    from intake_spark.llm.multimodal import decode_wav_full

    x = (np.sin(np.arange(400) / 7.0) * 0.5).astype("<f4")
    ref = np.clip(np.rint(x.astype(np.float64) * 32767), -32768, 32767)
    for bits, buf in ((32, x.tobytes()), (64, x.astype("<f8").tobytes())):
        r, arr, sw = decode_wav_full(_wav_fmt(3, 1, 8000, bits, buf))
        assert (r, sw, arr.shape) == (8000, 2, (400, 1))
        assert (arr[:, 0] == ref).all()

    pcm = np.arange(-300, 300, dtype="<i2")
    r, arr, sw = decode_wav_full(
        _wav_fmt(0xFFFE, 2, 44100, 16, pcm.tobytes(), ext_sub=1)
    )
    assert arr.shape == (300, 2) and (arr.ravel() == pcm).all()

    r, arr, _sw = decode_wav_full(
        _wav_fmt(0xFFFE, 1, 8000, 32, x.tobytes(), ext_sub=3)
    )
    assert (arr[:, 0] == ref).all()

    vals = np.array([-(2**22), 5, 2**22], dtype="<i4")
    raw = b"".join(int(v).to_bytes(3, "little", signed=True)
                   for v in vals.tolist())
    r, arr, sw = decode_wav_full(
        _wav_fmt(0xFFFE, 1, 8000, 24, raw, ext_sub=1)
    )
    assert sw == 3 and (arr[:, 0] == vals).all()

    with pytest.raises(NotImplementedError, match="wFormatTag"):
        decode_wav_full(_wav_fmt(0x55, 1, 8000, 16, b"\x00" * 64))

    # ADPCM inside an EXTENSIBLE wrapper unwraps to the ADPCM decoder
    from intake_spark.llm.multimodal import decode_wav_adpcm

    # build a minimal 1-block mono IMA-ADPCM payload: predictor 100,
    # index 0, eight zero nibbles -> constant-ish output
    import struct as _st
    blk = _st.pack("<hBB", 100, 0, 0) + bytes(4)
    fmt_x = _st.pack("<HHIIHH", 0xFFFE, 1, 8000, 4096, 8, 4)
    fmt_x += _st.pack("<HHI", 22, 4, 0x3) + _st.pack("<H", 0x11) + _WAV_GUID_TAIL
    body = b"fmt " + _st.pack("<I", len(fmt_x)) + fmt_x
    body += b"data" + _st.pack("<I", len(blk)) + blk
    wav_x = b"RIFF" + _st.pack("<I", 4 + len(body)) + b"WAVE" + body
    rate, arr, sw = decode_wav_adpcm(wav_x)
    assert rate == 8000 and arr.shape[1] == 1 and arr[0, 0] == 100

    # magic-dispatch + audio_features survive these via decode_audio_full
    from intake_spark.llm.multimodal import decode_audio_full

    r, arr, bits = decode_audio_full(_wav_fmt(3, 1, 8000, 32, x.tobytes()))
    assert (arr[:, 0] == ref).all() and bits == 16


def test_au_float_encodings():
    """AU encodings 6/7 (IEEE float 32/64, big-endian) normalize to
    int16 like float WAV; the unknown-encoding gate names the full
    supported set."""
    from intake_spark.llm.multimodal import decode_au

    x = (np.sin(np.arange(300) / 5.0) * 0.25).astype(">f4")
    ref = np.clip(np.rint(x.astype(np.float64) * 32767), -32768, 32767)

    def au(enc, payload):
        return (b".snd" + (24).to_bytes(4, "big")
                + len(payload).to_bytes(4, "big")
                + enc.to_bytes(4, "big") + (8000).to_bytes(4, "big")
                + (1).to_bytes(4, "big") + payload)

    for enc, buf in ((6, x.tobytes()), (7, x.astype(">f8").tobytes())):
        rate, arr, bits = decode_au(au(enc, buf))
        assert (rate, bits, arr.shape) == (8000, 16, (300, 1))
        assert (arr[:, 0] == ref).all()

    with pytest.raises(NotImplementedError, match="A-law"):
        decode_au(au(23, b"\x00" * 8))


def test_transcode_16bit_to_jpeg2000(spark, tmp_path):
    """16-bit sources (medical PNG/TIFF) normalize losslessly into the
    JPEG 2000 target; the 8-bit-only gate stays for webp/png targets."""
    from intake_spark.llm import multimodal
    from intake_spark.llm.jpeg2000 import decode_jpeg2000
    from intake_spark.output import _png_bytes

    rng = np.random.default_rng(33)
    wide = rng.integers(0, 65536, (9, 7)).astype(np.uint16)
    (tmp_path / "w.png").write_bytes(_png_bytes(wide.tolist(), bit_depth=16))
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*")
    out = {r.path.rsplit("/", 1)[-1]: r
           for r in multimodal.transcode_images(files, to="jpeg2000").collect()}
    assert out["w.png"].lossless == 1
    np.testing.assert_array_equal(
        decode_jpeg2000(bytes(out["w.png"].content)).astype(np.int64),
        wide.astype(np.int64),
    )
    out8 = {r.path.rsplit("/", 1)[-1]: r
            for r in multimodal.transcode_images(files, to="webp").collect()}
    assert out8["w.png"].err is not None and ">8-bit" in out8["w.png"].err


def test_tga_color_mapped_16bit_indices():
    """Color-mapped TGA with 16-bit little-endian palette indices
    (pixel depth 16 on type 1/9) — rare but valid; indices honor
    cm_first offsets beyond 255."""
    pal = bytes([0, 0, 255, 0, 255, 0, 255, 0, 0])  # red, green, blue BGR
    body = (256).to_bytes(2, "little") + (258).to_bytes(2, "little")
    a = decode_tga(_tga_cm(2, 1, body, pal, idx_bits=16, cm_first=256))
    assert a[0, 0].tolist() == [255, 0, 0]
    assert a[0, 1].tolist() == [0, 0, 255]
    # out-of-range 16-bit index stays loud
    import pytest as _p

    bad = (900).to_bytes(2, "little") * 2
    with _p.raises(ValueError, match="index out of range"):
        decode_tga(_tga_cm(2, 1, bad, pal, idx_bits=16, cm_first=256))
