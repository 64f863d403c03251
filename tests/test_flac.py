"""FLAC decoder vs hand-assembled spec bitstreams: every subframe type
(constant/verbatim/fixed/LPC), Rice + Rice2 + escape residuals, partition
orders, wasted bits, mid/side + left/side + right/side stereo, 8/16/24-bit
depths — sample-exact round trips, no audio library anywhere."""

from __future__ import annotations

import numpy as np
import pytest

from intake_spark.llm.flac import decode_flac, parse_streaminfo


class BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, val: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((val >> i) & 1)

    def s(self, val: int, n: int) -> None:
        self.u(val & ((1 << n) - 1), n)

    def align(self) -> None:
        while len(self.bits) % 8:
            self.bits.append(0)

    def bytes(self) -> bytes:
        self.align()
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _rice(w: BitWriter, residuals, param: int, plen: int = 4) -> None:
    """One whole-block partition (order 0) with the given Rice param."""
    w.u(0 if plen == 4 else 1, 2)  # coding method
    w.u(0, 4)  # partition order 0
    w.u(param, plen)
    for v in residuals:
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1
        q = u >> param
        for _ in range(q):
            w.u(0, 1)
        w.u(1, 1)
        if param:
            w.u(u & ((1 << param) - 1), param)


def make_flac(
    channels: list[list[int]],
    bps: int = 16,
    rate: int = 8000,
    frames: list[dict] | None = None,
    ch_mode: int | None = None,
) -> bytes:
    """Assemble a FLAC stream: STREAMINFO + one frame per ``frames`` spec
    (dict with 'kind' per channel and optional encoder params); default is
    one verbatim frame covering everything."""
    n_ch = len(channels)
    total = len(channels[0])
    w = BitWriter()
    for b in b"fLaC":
        w.u(b, 8)
    # metadata: last=1, type=0 (STREAMINFO), length=34
    w.u(1, 1)
    w.u(0, 7)
    w.u(34, 24)
    w.u(total, 16)  # min block
    w.u(total, 16)  # max block
    w.u(0, 24)
    w.u(0, 24)
    w.u(rate, 20)
    w.u(n_ch - 1, 3)
    w.u(bps - 1, 5)
    w.u(total, 36)
    w.u(0, 128)  # md5 (not validated)

    frames = frames or [{"start": 0, "size": total, "kinds": ["verbatim"] * n_ch}]
    for fi, fr in enumerate(frames):
        start, size = fr["start"], fr["size"]
        kinds = fr["kinds"]
        w.align()
        w.u(0b11111111111110, 14)
        w.u(0, 1)  # reserved
        w.u(0, 1)  # fixed blocking
        w.u(6 if size <= 256 else 7, 4)  # block size: 8- or 16-bit follows
        w.u(0, 4)  # sample rate: from streaminfo
        code = ch_mode if ch_mode is not None else n_ch - 1
        w.u(code, 4)
        w.u(0, 3)  # sample size: from streaminfo
        w.u(0, 1)  # reserved
        w.u(fi, 8)  # coded number (single UTF-8 byte)
        w.u(size - 1, 8 if size <= 256 else 16)
        w.u(0, 8)  # header CRC-8 (decoder skips)

        if ch_mode == 10:  # mid/side
            l = channels[0][start : start + size]
            r = channels[1][start : start + size]
            mid = [(a + b) >> 1 for a, b in zip(l, r)]
            side = [a - b for a, b in zip(l, r)]
            subs = [(mid, bps, kinds[0]), (side, bps + 1, kinds[1])]
        elif ch_mode == 8:  # left/side
            l = channels[0][start : start + size]
            r = channels[1][start : start + size]
            subs = [(l, bps, kinds[0]), ([a - b for a, b in zip(l, r)], bps + 1, kinds[1])]
        elif ch_mode == 9:  # right/side
            l = channels[0][start : start + size]
            r = channels[1][start : start + size]
            subs = [([a - b for a, b in zip(l, r)], bps + 1, kinds[0]), (r, bps, kinds[1])]
        else:
            subs = [(ch[start : start + size], bps, k) for ch, k in zip(channels, kinds)]

        for x, sub_bps, kind in subs:
            w.u(0, 1)  # padding bit
            wasted = fr.get("wasted", 0)
            if kind == "constant":
                w.u(0, 6)
                w.u(0 if not wasted else 1, 1)
                if wasted:
                    for _ in range(wasted - 1):
                        w.u(0, 1)
                    w.u(1, 1)
                w.s(x[0] >> wasted, sub_bps - wasted)
            elif kind == "verbatim":
                w.u(1, 6)
                w.u(0, 1)
                for v in x:
                    w.s(v, sub_bps)
            elif kind == "fixed2":
                w.u(8 + 2, 6)
                w.u(0, 1)
                w.s(x[0], sub_bps)
                w.s(x[1], sub_bps)
                res = [x[i] - (2 * x[i - 1] - x[i - 2]) for i in range(2, len(x))]
                _rice(w, res, fr.get("param", 3), fr.get("plen", 4))
            elif kind == "lpc2":
                order, shift, coefs = 2, fr.get("shift", 4), fr.get("coefs", [20, -5])
                w.u(32 + order - 1, 6)
                w.u(0, 1)
                w.s(x[0], sub_bps)
                w.s(x[1], sub_bps)
                precision = 12
                w.u(precision - 1, 4)
                w.s(shift, 5)
                for c in coefs:
                    w.s(c, precision)
                res = [
                    x[i] - ((coefs[0] * x[i - 1] + coefs[1] * x[i - 2]) >> shift)
                    for i in range(order, len(x))
                ]
                _rice(w, res, fr.get("param", 4), fr.get("plen", 4))
            elif kind == "escape":
                # fixed order 0 with an escaped (raw n-bit) partition
                w.u(8, 6)
                w.u(0, 1)
                w.u(0, 2)  # method: rice 4-bit params
                w.u(0, 4)  # partition order 0
                w.u(15, 4)  # escape
                nbits = fr.get("raw_bits", sub_bps)
                w.u(nbits, 5)
                for v in x:
                    w.s(v, nbits)
            else:
                raise AssertionError(kind)
        w.align()
        w.u(0, 16)  # frame CRC-16 (decoder skips)
    return w.bytes()


def test_streaminfo_and_verbatim_roundtrip():
    x = [0, 100, -100, 32000, -32000, 7, -1, 12345]
    data = make_flac([x], bps=16, rate=44100)
    info = parse_streaminfo(data)
    assert (info["sample_rate"], info["channels"], info["bits_per_sample"]) == (44100, 1, 16)
    assert info["total_samples"] == 8
    rate, arr, bits = decode_flac(data)
    assert rate == 44100 and bits == 16
    assert arr[:, 0].tolist() == x
    # cut inside STREAMINFO, the frame header and the samples: a named
    # error from the bit reader's end check, not an IndexError
    for cut in (20, 45, len(data) - 3):
        with pytest.raises(ValueError, match="FLAC bitstream truncated"):
            decode_flac(data[:cut])
    # cut where the frames start: STREAMINFO's sample count is not met
    with pytest.raises(ValueError, match="FLAC stream truncated: 0 of 8"):
        decode_flac(data[: info["frames_pos"]])


def test_constant_and_fixed_subframes():
    const = [-42] * 16
    ramp = [3 * i - 20 for i in range(16)]  # order-2 predictable (res 0)
    data = make_flac(
        [const, ramp],
        bps=16,
        frames=[{"start": 0, "size": 16, "kinds": ["constant", "fixed2"]}],
    )
    rate, arr, _ = decode_flac(data)
    assert arr[:, 0].tolist() == const
    assert arr[:, 1].tolist() == ramp


def test_lpc_subframe_and_multiframe():
    rng = np.random.default_rng(11)
    x = list(rng.integers(-2000, 2000, size=32))
    x = [int(v) for v in x]
    data = make_flac(
        [x],
        bps=16,
        frames=[
            {"start": 0, "size": 16, "kinds": ["lpc2"], "coefs": [31, -15], "shift": 4},
            {"start": 16, "size": 16, "kinds": ["verbatim"]},
        ],
    )
    rate, arr, _ = decode_flac(data)
    assert arr[:, 0].tolist() == x


def test_rice2_and_escape_partitions():
    x = [int(v) for v in np.random.default_rng(5).integers(-500, 500, size=12)]
    d1 = make_flac([x], bps=16, frames=[{"start": 0, "size": 12, "kinds": ["fixed2"], "plen": 5, "param": 6}])
    assert decode_flac(d1)[1][:, 0].tolist() == x
    d2 = make_flac([x], bps=16, frames=[{"start": 0, "size": 12, "kinds": ["escape"]}])
    assert decode_flac(d2)[1][:, 0].tolist() == x


@pytest.mark.parametrize("mode", [8, 9, 10])
def test_stereo_decorrelation_modes(mode):
    rng = np.random.default_rng(mode)
    left = [int(v) for v in rng.integers(-6000, 6000, size=10)]
    right = [int(v) for v in rng.integers(-6000, 6000, size=10)]
    data = make_flac(
        [left, right],
        bps=16,
        frames=[{"start": 0, "size": 10, "kinds": ["verbatim", "verbatim"]}],
        ch_mode=mode,
    )
    rate, arr, _ = decode_flac(data)
    assert arr[:, 0].tolist() == left
    assert arr[:, 1].tolist() == right


def test_wasted_bits_shift():
    x = [v << 3 for v in (-10, 5, 0, 7)]  # 3 trailing zero bits everywhere
    data = make_flac(
        [x], bps=16,
        frames=[{"start": 0, "size": 4, "kinds": ["constant"], "wasted": 3}],
    )
    # constant subframe fixture writes x[0] only
    rate, arr, _ = decode_flac(data)
    assert arr[:, 0].tolist() == [x[0]] * 4


def test_audio_features_on_flac_column(spark, tmp_path):
    """FLAC flows through the same Arrow-batched audio feature operator as
    WAV — magic dispatch, no format flag."""
    from intake_spark.llm import multimodal

    t = np.arange(800)
    sig = (3000 * np.sin(2 * np.pi * 440 * t / 8000)).astype(int)
    p = tmp_path / "tone.flac"
    p.write_bytes(make_flac([[int(v) for v in sig]], bps=16, rate=8000))
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.flac")
    row = multimodal.audio_features(files, keep_cols=["path"]).collect()[0]
    assert row.sample_rate == 8000 and row.n_channels == 1 and row.n_frames == 800
    assert abs(row.rms - np.sqrt(np.mean((sig / 32768.0) ** 2))) < 1e-9
    assert row.duration_s == pytest.approx(0.1)


def test_recommend_picks_flac(tmp_path):
    from intake_spark.datatypes import recommend

    p = tmp_path / "x.flac"
    p.write_bytes(make_flac([[1, 2, 3]], bps=8))
    kinds = [c.__name__ if isinstance(c, type) else type(c).__name__ for c in recommend(str(p))]
    assert "FLAC" in kinds


def test_mp3_still_gated():
    from intake_spark.llm.multimodal import decode_audio_full

    with pytest.raises(NotImplementedError, match="MP3 and Opus"):
        decode_audio_full(b"\xff\xfb\x90\x00" + b"\x00" * 64)


# --- decode-free media probes (image_meta / media_meta_features) ------------


def _lossy_webp(w, h):
    import struct as st

    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + st.pack("<HH", w, h) + b"\x00" * 8
    body = b"WEBP" + b"VP8 " + st.pack("<I", len(vp8)) + vp8
    return b"RIFF" + st.pack("<I", len(body)) + body


def _avif(w, h):
    import struct as st

    def box(t, p):
        return st.pack(">I", 8 + len(p)) + t + p

    ispe = box(b"ispe", b"\x00\x00\x00\x00" + st.pack(">II", w, h))
    meta = box(b"meta", b"\x00\x00\x00\x00" + box(b"iprp", box(b"ipco", ispe)))
    return box(b"ftyp", b"avif\x00\x00\x00\x00avifmif1") + meta


def test_image_meta_dims_without_decode(tmp_path):
    """Dimensions for every image container, INCLUDING codecs whose pixel
    decode is gated (lossy WebP, AVIF) — header bytes only."""
    import struct as st

    from intake_spark.llm.multimodal import image_meta

    png = b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR" + st.pack(">IIBBBBB", 33, 21, 8, 0, 0, 0, 0) + b"\x00" * 4
    assert image_meta(png) == {"format": "png", "width": 33, "height": 21}
    gif = b"GIF89a" + st.pack("<HH", 11, 7) + b"\x00" * 8
    assert image_meta(gif) == {"format": "gif", "width": 11, "height": 7}
    assert image_meta(_lossy_webp(99, 45)) == {"format": "webp-lossy", "width": 99, "height": 45}
    assert image_meta(_avif(640, 480)) == {"format": "avif", "width": 640, "height": 480}
    # JPEG via a real fixture (SOF walk)
    from tests.test_jpeg import make_gray_jpeg

    j = image_meta(make_gray_jpeg(24, 16, b"\x00"))
    assert (j["format"], j["width"], j["height"]) == ("jpeg", 24, 16)
    # TIFF via the IFD path
    import numpy as np

    from tests.test_tiff import make_tiff

    t = image_meta(make_tiff(np.zeros((5, 9), dtype=np.uint8)))
    assert (t["format"], t["width"], t["height"]) == ("tiff", 9, 5)
    with pytest.raises(ValueError, match="unrecognized"):
        image_meta(b"\x00" * 64)


def test_media_meta_features_triage(spark, tmp_path):
    """The mixed-blob triage operator routes image/audio/video rows by
    magic in ONE Arrow pass, with per-row err for junk."""
    from intake_spark.llm import multimodal
    from intake_spark.llm.multimodal import media_meta_features
    from tests.test_video import make_mp4

    (tmp_path / "img.webp").write_bytes(_lossy_webp(10, 20))
    (tmp_path / "song.flac").write_bytes(make_flac([[0] * 8], bps=16, rate=8000))
    (tmp_path / "clip.mp4").write_bytes(make_mp4(duration_s=1.5))
    (tmp_path / "junk.bin").write_bytes(b"\xde\xad\xbe\xef" * 32)

    files = multimodal.read_binary_dir(spark, str(tmp_path))
    rows = {r.path.rsplit("/", 1)[-1]: r for r in
            media_meta_features(files, keep_cols=["path"]).collect()}
    assert rows["img.webp"].media_kind == "image" and rows["img.webp"].width == 10
    assert rows["song.flac"].media_kind == "audio"
    assert rows["song.flac"].duration_s == pytest.approx(8 / 8000)
    assert rows["clip.mp4"].media_kind == "video" and rows["clip.mp4"].duration_s == 1.5
    assert rows["junk.bin"].media_kind is None and rows["junk.bin"].err


# --- GIF decode -------------------------------------------------------------


def _lzw_encode_gif(indices: bytes, mcs: int) -> bytes:
    """Greedy GIF-variant LZW encoder (LSB-first, late change)."""
    CLEAR = 1 << mcs
    END = CLEAR + 1
    out_bits: list[int] = []
    width = mcs + 1

    def emit(code: int):
        for i in range(width):
            out_bits.append((code >> i) & 1)

    table = {bytes([i]): i for i in range(CLEAR)}
    next_code = END + 1
    emit(CLEAR)
    prev = b""
    for b in bytes(indices):
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        prev = bytes([b])
    if prev:
        emit(table[prev])
    emit(END)
    while len(out_bits) % 8:
        out_bits.append(0)
    out = bytearray()
    for i in range(0, len(out_bits), 8):
        v = 0
        for j, bit in enumerate(out_bits[i : i + 8]):
            v |= bit << j
        out.append(v)
    return bytes(out)


def make_gif(idx, palette, interlace=False, local_table=False) -> bytes:
    """Minimal spec-built GIF89a: one image, global or local color table."""
    import struct as st

    import numpy as np

    h, w = idx.shape
    n = len(palette)
    bits = max(1, (n - 1).bit_length())
    n_pad = 1 << bits
    pal = bytes(
        v for i in range(n_pad) for v in (palette[i] if i < n else (0, 0, 0))
    )
    gflags = (0x80 | (bits - 1)) if not local_table else 0
    out = b"GIF89a" + st.pack("<HHBBB", w, h, gflags, 0, 0)
    if not local_table:
        out += pal
    iflags = (0x40 if interlace else 0) | ((0x80 | (bits - 1)) if local_table else 0)
    out += b"\x2c" + st.pack("<HHHHB", 0, 0, w, h, iflags)
    if local_table:
        out += pal
    mcs = max(2, bits)
    data = idx.astype(np.uint8)
    if interlace:
        rows = list(range(0, h, 8)) + list(range(4, h, 8)) \
            + list(range(2, h, 4)) + list(range(1, h, 2))
        data = data[rows]
    enc = _lzw_encode_gif(data.tobytes(), mcs)
    out += bytes([mcs])
    for i in range(0, len(enc), 255):
        blk = enc[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return out


def test_gif_decode_roundtrip():
    from intake_spark.llm.multimodal import decode_gif, decode_image

    rng = np.random.default_rng(3)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30), (200, 200, 0)]
    idx = rng.integers(0, 5, size=(13, 9), dtype=np.uint8)
    rgb = np.array(palette, dtype=np.uint8)[idx]

    for interlace in (False, True):
        for local in (False, True):
            data = make_gif(idx, palette, interlace=interlace, local_table=local)
            np.testing.assert_array_equal(decode_gif(data), rgb)
    # router picks it up
    np.testing.assert_array_equal(decode_image(make_gif(idx, palette)), rgb)

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOPE" + b"\x00" * 32)


def test_gif_large_table_growth():
    """Enough distinct runs to push the LZW table through several width
    bumps (late change, LSB-first)."""
    from intake_spark.llm.multimodal import decode_gif

    rng = np.random.default_rng(9)
    palette = [(i, 255 - i, i // 2) for i in range(0, 256, 2)]  # 128 colors
    idx = rng.integers(0, 128, size=(64, 64), dtype=np.uint8)
    rgb = np.array(palette, dtype=np.uint8)[idx]
    np.testing.assert_array_equal(decode_gif(make_gif(idx, palette)), rgb)


# --- PNG: Adam7 interlace + 16-bit depth ------------------------------------


def _png_chunks(chunks) -> bytes:
    import struct as st
    import zlib as zl

    out = b"\x89PNG\r\n\x1a\n"
    for tag, payload in chunks:
        out += st.pack(">I", len(payload)) + tag + payload
        out += st.pack(">I", zl.crc32(tag + payload) & 0xFFFFFFFF)
    return out


def make_png(arr, interlace=0) -> bytes:
    """Spec-built PNG encoder for fixtures: filter 0 scanlines, optional
    Adam7 pass splitting, 8- or 16-bit gray/RGB from the array dtype."""
    import struct as st
    import zlib as zl

    import numpy as np

    h, w = arr.shape[:2]
    nch = arr.shape[2] if arr.ndim == 3 else 1
    a3 = arr.reshape(h, w, nch)
    depth = 16 if a3.dtype == np.uint16 else 8
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]

    def scanlines(sub):
        out = bytearray()
        for row in sub:
            out += b"\x00"
            if depth == 16:
                out += row.astype(">u2").tobytes()
            else:
                out += row.astype(np.uint8).tobytes()
        return bytes(out)

    if interlace:
        from intake_spark.llm.multimodal import _ADAM7

        raw = b"".join(
            scanlines(a3[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if a3[y0::dy, x0::dx].size
        )
    else:
        raw = scanlines(a3)
    ihdr = st.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    return _png_chunks([(b"IHDR", ihdr), (b"IDAT", zl.compress(raw)), (b"IEND", b"")])


def test_png_adam7_and_16bit():
    from intake_spark.llm.multimodal import decode_png

    rng = np.random.default_rng(21)
    # 8-bit RGB, interlaced, odd dims (exercises empty/partial passes)
    rgb = rng.integers(0, 256, size=(13, 11, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_png(make_png(rgb, interlace=1)), rgb)
    # 16-bit gray, both plain and interlaced
    g16 = rng.integers(0, 65536, size=(9, 5), dtype=np.uint16)
    np.testing.assert_array_equal(decode_png(make_png(g16))[:, :, 0], g16)
    np.testing.assert_array_equal(decode_png(make_png(g16, interlace=1))[:, :, 0], g16)
    # 16-bit RGBA interlaced
    rgba16 = rng.integers(0, 65536, size=(6, 7, 4), dtype=np.uint16)
    np.testing.assert_array_equal(decode_png(make_png(rgba16, interlace=1)), rgba16)
    # tiny image where several Adam7 passes are empty
    tiny = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_png(make_png(tiny, interlace=1)), tiny)


def _animated_gif(frames, palette, canvas=None, bg=0):
    """Spec-built GIF89a animation: frames = [(x, y, idx, gce_dict)];
    gce_dict keys: disposal, delay_cs, transparent."""
    import struct as st

    import numpy as np

    n = len(palette)
    bits = max(1, (n - 1).bit_length())
    n_pad = 1 << bits
    pal = bytes(
        v for i in range(n_pad) for v in (palette[i] if i < n else (0, 0, 0))
    )
    if canvas is None:
        canvas = (max(x + f.shape[1] for x, _y, f, _g in frames),
                  max(y + f.shape[0] for _x, y, f, _g in frames))
    out = b"GIF89a" + st.pack("<HHBBB", canvas[0], canvas[1],
                              0x80 | (bits - 1), bg, 0)
    out += pal
    for x, y, idx, gce in frames:
        if gce:
            gflags = ((gce.get("disposal", 0) & 7) << 2) | (
                1 if gce.get("transparent") is not None else 0
            )
            out += b"\x21\xf9\x04" + st.pack(
                "<BHB", gflags, gce.get("delay_cs", 0),
                gce.get("transparent") or 0,
            ) + b"\x00"
        h, w = idx.shape
        out += b"\x2c" + st.pack("<HHHHB", x, y, w, h, 0)
        mcs = max(2, bits)
        enc = _lzw_encode_gif(idx.astype(np.uint8).tobytes(), mcs)
        out += bytes([mcs])
        for i in range(0, len(enc), 255):
            blk = enc[i : i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    return out + b"\x3b"


def test_gif_animation_compose():
    """gif_frames honors disposal 1/2/3 and transparency over full
    canvases; decode_gif keeps its first-frame contract."""
    import numpy as np

    from intake_spark.llm.multimodal import decode_gif, gif_frames

    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    base = np.full((4, 4), 1, dtype=np.uint8)       # all red
    patch = np.full((2, 2), 2, dtype=np.uint8)      # green 2x2
    trans = np.array([[3, 0], [0, 3]], dtype=np.uint8)  # blue w/ trans idx 0
    blob = _animated_gif(
        [
            (0, 0, base, {"disposal": 1, "delay_cs": 10}),
            (1, 1, patch, {"disposal": 3, "delay_cs": 20}),
            (0, 0, trans, {"transparent": 0, "delay_cs": 30}),
        ],
        pal,
        canvas=(4, 4),
    )
    frames = gif_frames(blob)
    assert [d for d, _f in frames] == [10, 20, 30]
    f0, f1, f2 = (f for _d, f in frames)
    assert (f0 == [255, 0, 0]).all()
    # frame 1: green patch over red at (1,1)
    assert (f1[1:3, 1:3] == [0, 255, 0]).all() and (f1[0, 0] == [255, 0, 0]).all()
    # frame 2: disposal 3 restored the red canvas, then blue diagonal with
    # transparent holes showing red
    assert (f2[0, 0] == [0, 0, 255]).all() and (f2[0, 1] == [255, 0, 0]).all()
    assert (f2[1, 1] == [0, 0, 255]).all() and (f2[1, 0] == [255, 0, 0]).all()
    assert (f2[3, 3] == [255, 0, 0]).all()
    # first-frame contract unchanged
    np.testing.assert_array_equal(decode_gif(blob), f0)


def test_gif_disposal_background(spark, tmp_path):
    """Disposal 2 clears the frame rect to the background color; the
    video frame sampler emits RAW24:gif canvases through Spark."""
    import numpy as np

    from intake_spark.llm.multimodal import gif_frames

    pal = [(9, 9, 9), (255, 0, 0), (0, 255, 0)]
    f1 = np.full((2, 2), 1, dtype=np.uint8)
    f2 = np.full((1, 1), 2, dtype=np.uint8)
    blob = _animated_gif(
        [
            (0, 0, f1, {"disposal": 2, "delay_cs": 5}),
            (0, 0, f2, {"delay_cs": 5}),
        ],
        pal,
        canvas=(2, 2),
        bg=0,
    )
    frames = gif_frames(blob)
    _d0, a = frames[0]
    _d1, b = frames[1]
    assert (a == [255, 0, 0]).all()
    assert (b[0, 0] == [0, 255, 0]).all()
    assert (b[1, 1] == [9, 9, 9]).all()  # restored to background

    from intake_spark.llm import multimodal, video

    (tmp_path / "a.gif").write_bytes(blob)
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.gif")
    rows = video.sample_video_frames(files, every_n=1).collect()
    assert len(rows) == 2
    assert rows[0].codec == "RAW24:gif" and rows[0].n_frames == 2
    got = np.frombuffer(rows[1].frame_bytes, dtype=np.uint8).reshape(2, 2, 3)
    np.testing.assert_array_equal(got, b)


def test_gif_compose_holds_one_canvas():
    """_gif_compose walks a long animation holding ONE canvas: every
    yield (disposal 0/1/2) is the same ndarray object, so a sampler's
    memory is one canvas plus the frames it explicitly copies — not the
    whole animation (head-commit claim of 22eac35, pinned here)."""
    import numpy as np

    from intake_spark.llm.multimodal import _gif_compose

    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    frames = [
        (0, 0, np.full((4, 4), 1 + (i % 3), dtype=np.uint8),
         {"disposal": (i % 2), "delay_cs": 2})
        for i in range(200)
    ]
    blob = _animated_gif(frames, pal, canvas=(4, 4))
    ids = set()
    n = 0
    for _i, _d, frame in _gif_compose(blob):
        ids.add(id(frame))
        n += 1
    assert n == 200
    # one canvas object reused across all 200 yields — no per-frame
    # allocation (disposal 3 legitimately swaps to the saved canvas, so
    # this animation uses only 0/1/2)
    assert len(ids) == 1


def test_gif_sampler_malformed_falls_to_ladder(spark, tmp_path):
    """A GIF the native parser rejects routes through the PyAV ladder
    like any other gated container instead of failing the executor
    batch; with PyAV absent the error surfaced is the SPECIFIC GIF
    parse error, not the generic unrecognized-container message."""
    import numpy as np
    import pytest

    from intake_spark.llm.multimodal import _gif_compose
    from intake_spark.llm import multimodal, video

    pal = [(0, 0, 0), (255, 0, 0)]
    good = _animated_gif(
        [(0, 0, np.ones((2, 2), dtype=np.uint8), {"delay_cs": 5})], pal
    )
    # replace the trailer with an unknown block code -> native parser
    # raises 'unexpected GIF block'
    bad = good[:-1] + b"\x7f\x3b"
    with pytest.raises(ValueError, match="unexpected GIF block"):
        list(_gif_compose(bad))

    (tmp_path / "bad.gif").write_bytes(bad)
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.gif")
    with pytest.raises(Exception, match="unexpected GIF block"):
        video.sample_video_frames(files, every_n=1).collect()


def test_flac_encoder_rejects_out_of_range_rate():
    """Review finding (r9): rates beyond the 20-bit STREAMINFO field
    (FLAC caps at 655350) must raise, not silently truncate."""
    from intake_spark.llm.flac import encode_flac

    with pytest.raises(ValueError, match="655350"):
        encode_flac(np.zeros(10, dtype=int), 2_000_000)
