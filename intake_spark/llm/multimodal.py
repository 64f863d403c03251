"""Multimodal (image/audio/video/document) columns as opaque binary + typed
metadata, with Arrow-batched decode plumbing.

Model (SURVEY §1.2 ``array``/``image`` structures): media lives in a
``content: binary`` column — ingested via ``spark.read.format("binaryFile")``
— alongside typed metadata (``path``, ``modificationTime``, ``length``) and
decoded-feature columns produced by ``mapInPandas`` stages.

Codecs: PNG (all filter types), baseline TIFF, baseline JPEG (sequential
DCT + Huffman, gray/YCbCr any subsampling, restart markers) and WAV
(8/16/24/32-bit PCM) decode REAL with stdlib+numpy — no PIL/librosa.
Only exotic codecs (WebP/AVIF, video frames) remain import-gated, with
:func:`fake_decode_meta` as the deterministic stand-in so their Spark-side
plumbing stays testable end-to-end.

Scale: binaryFile scans parallelize per file; decode UDFs are
embarrassingly parallel; `maxPartitionBytes`/`filesMaxPartitionNum` size the
tasks. Feature outputs (fixed-width arrays) are shuffle-friendly.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intake_spark.session import map_in_pandas

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("byte_len", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
    ]
)


def read_binary_dir(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Ingest a directory of media files as (path, modificationTime, length,
    content) rows — Spark's binaryFile source; one task per file group."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def binary_from_text(df: DataFrame, text_col: str = "text", out_col: str = "content") -> DataFrame:
    """Test helper: materialize an opaque binary column from a string column
    (UTF-8 bytes) so multimodal plumbing is exercisable on the synthetic
    ``documents`` table without media files."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# Adam7 pass grid: (x0, y0, dx, dy) per pass, from the PNG spec
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, pos: int, h: int, w: int, nch: int, bpb: int):
    """Unfilter ``h`` scanlines of ``w`` pixels (``bpb`` bytes/pixel) →
    (uint8 array of shape (h, w*bpb), new pos). Filtering is BYTE-wise
    with the left reference one whole pixel back, per the spec — which is
    what makes the same loop valid for 8- and 16-bit samples."""
    import numpy as np

    stride = w * bpb
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[pos]
        seg = raw[pos + 1 : pos + 1 + stride]
        pos += 1 + stride
        if ftype == 0:
            out[y] = np.frombuffer(seg, np.uint8)
        elif ftype == 2:  # Up: fully vectorized (uint8 add wraps mod 256)
            out[y] = np.frombuffer(seg, np.uint8) + prev
        elif ftype == 1:  # Sub: recon[x] = raw[x] + recon[x-bpb] is a
            # per-byte-lane running sum, i.e. cumsum mod 256 down the
            # pixel axis — fully vectorized
            lanes = np.frombuffer(seg, np.uint8).reshape(w, bpb)
            out[y] = np.cumsum(lanes, axis=0, dtype=np.uint8).reshape(stride)
        elif ftype == 3:  # Average: left-sequential; bytearray kernel
            # (CPython int indexing ~5x faster than numpy scalar access)
            line = bytearray(seg)
            pb = prev.tobytes()
            for x in range(bpb):
                line[x] = (line[x] + (pb[x] >> 1)) & 0xFF
            for x in range(bpb, stride):
                line[x] = (line[x] + ((line[x - bpb] + pb[x]) >> 1)) & 0xFF
            out[y] = np.frombuffer(line, np.uint8)
        elif ftype == 4:  # Paeth: left-sequential; same bytearray kernel.
            # p-a = b-c, p-b = a-c, p-c = a+b-2c saves the p round-trip
            line = bytearray(seg)
            pb = prev.tobytes()
            for x in range(bpb):
                line[x] = (line[x] + pb[x]) & 0xFF  # a=c=0: predictor is b
            for x in range(bpb, stride):
                a = line[x - bpb]
                b = pb[x]
                c = pb[x - bpb]
                pa = b - c
                if pa < 0:
                    pa = -pa
                pbd = a - c
                if pbd < 0:
                    pbd = -pbd
                pc = a + b - 2 * c
                if pc < 0:
                    pc = -pc
                line[x] = (line[x] + (
                    a if (pa <= pbd and pa <= pc) else (b if pbd <= pc else c)
                )) & 0xFF
            out[y] = np.frombuffer(line, np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        prev = out[y]
    return out, pos


def decode_png(content: bytes):
    """Real PNG decode with the stdlib + numpy: IHDR/PLTE/IDAT parse, zlib
    inflate, scanline unfilter (all 5 filter types incl. Paeth) → ndarray
    of shape (H, W, C), uint8 or uint16 by bit depth. Supports depths
    8/16, color types gray/RGB/palette/gray-alpha/RGBA, and Adam7
    interlacing (seven independently-filtered passes scattered onto the
    pixel grid)."""
    import struct
    import zlib

    import numpy as np

    if content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    i, idat, plte = 8, b"", None
    width = height = ctype = depth = interlace = None
    while i + 8 <= len(content):
        (ln,) = struct.unpack(">I", content[i : i + 4])
        tag = content[i + 4 : i + 8]
        payload = content[i + 8 : i + 8 + ln]
        if tag == b"IHDR":
            width, height, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        i += 12 + ln
    if depth not in (8, 16) or (depth == 16 and ctype == 3):
        raise ValueError(f"unsupported PNG (bit depth {depth}, color type {ctype})")
    nch = _PNG_CHANNELS[ctype]
    bpb = nch * (depth // 8)  # bytes per pixel
    raw = zlib.decompress(idat)

    def rows_to_pixels(rows, h, w):
        if depth == 16:
            flat = rows.reshape(h, w, nch, 2)
            return (flat[..., 0].astype(np.uint16) << 8) | flat[..., 1]
        return rows.reshape(h, w, nch)

    if interlace == 1:  # Adam7
        arr = np.zeros(
            (height, width, nch), dtype=np.uint16 if depth == 16 else np.uint8
        )
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            rows, pos = _png_unfilter(raw, pos, ph, pw, nch, bpb)
            arr[y0::dy, x0::dx] = rows_to_pixels(rows, ph, pw)
    elif interlace == 0:
        rows, _ = _png_unfilter(raw, 0, height, width, nch, bpb)
        arr = rows_to_pixels(rows, height, width)
    else:
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if ctype == 3:  # palette lookup → RGB
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        arr = plte[arr[:, :, 0]]
    return arr


def decode_bmp(content: bytes):
    """Real BMP decode (stdlib struct): uncompressed BI_RGB, 8/24/32-bit,
    BITMAPINFOHEADER+ → (H, W, 3) uint8 RGB (palette applied for 8-bit;
    the 32-bit 4th byte is BI_RGB padding — dropped like PIL's 'BGRX'
    mode; bottom-up rows flipped). Parity: PILImageReader (reference
    readers.py:2228) for the .bmp branch."""
    import struct as st

    import numpy as np

    if content[:2] != b"BM":
        raise ValueError("not a BMP file")
    data_off = st.unpack("<I", content[10:14])[0]
    hdr_size = st.unpack("<I", content[14:18])[0]
    if hdr_size < 40:
        raise ValueError(f"BMP header size {hdr_size} (OS/2 core) not supported")
    width, height = st.unpack("<ii", content[18:26])
    planes, bpp = st.unpack("<HH", content[26:30])
    compression = st.unpack("<I", content[30:34])[0]
    if compression != 0:
        raise ValueError(f"compressed BMP (method {compression}) not supported")
    if bpp not in (8, 24, 32):
        raise ValueError(f"BMP bit depth {bpp} not supported (8/24/32)")
    flip = height > 0
    height = abs(height)
    nch = bpp // 8
    stride = (width * nch + 3) & ~3  # rows pad to 4 bytes
    raw = content[data_off : data_off + stride * height]
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)[:, : width * nch]
    arr = rows.reshape(height, width, nch)
    if flip:
        arr = arr[::-1]
    if bpp == 8:
        # palettized: map indices through the BGRA color table after the
        # info header (colors_used 0 means the full 256)
        colors_used = st.unpack("<I", content[46:50])[0] or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(
            content[pal_off : pal_off + colors_used * 4], dtype=np.uint8
        ).reshape(-1, 4)[:, [2, 1, 0]]  # BGR(A) → RGB
        return np.ascontiguousarray(pal[arr[:, :, 0]])
    # BGR→RGB; the 32-bit 4th byte under BI_RGB is unused padding (real
    # alpha needs BI_BITFIELDS, rejected above) — drop it like PIL's BGRX
    arr = arr[:, :, [2, 1, 0]]
    return np.ascontiguousarray(arr)


def decode_wav_full(content: bytes):
    """Real WAV decode (stdlib ``wave``): → (rate, ndarray of shape
    (n_frames, n_channels), stored_sample_width_bytes). The sample width is
    part of the return because the decoded dtype alone can't express it
    (24-bit samples sign-extend into int32 but span ±2^23)."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(content)) as w:
            rate, nch, sw = w.getframerate(), w.getnchannels(), w.getsampwidth()
            frames = w.readframes(w.getnframes())
    except wave.Error:
        # the stdlib module only accepts integer PCM: IMA-ADPCM, IEEE
        # float and WAVE_FORMAT_EXTENSIBLE dispatch to the manual path
        return _decode_wav_other(content)
    if sw == 3:  # 24-bit PCM: sign-extend each 3-byte sample into int32
        b3 = np.frombuffer(frames, dtype=np.uint8).reshape(-1, 3)
        pad = np.where(b3[:, 2] >= 0x80, 0xFF, 0).astype(np.uint8)
        b4 = np.column_stack([b3, pad]).tobytes()
        arr = np.frombuffer(b4, dtype="<i4").reshape(-1, nch)
        return rate, arr, sw
    try:
        dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}[sw]
    except KeyError:
        raise ValueError(f"unsupported WAV sample width {sw} bytes") from None
    arr = np.frombuffer(frames, dtype=dtype).reshape(-1, nch)
    return rate, arr, sw


def _lib_audio_decode(content: bytes):
    """Optional-dependency escape hatch for the lossy audio codecs
    (MP3/OGG-Vorbis/Opus): delegate to soundfile (libsndfile) when it is
    installed — the reference's LibrosaAudioReader delegation (reference
    readers.py:2169) — normalized to the same (rate, int16 samples
    (n, ch), bits) contract as the stdlib decoders. Raises ImportError
    when no audio library is present."""
    import io

    import soundfile as sf

    data, rate = sf.read(io.BytesIO(content), dtype="int16", always_2d=True)
    return int(rate), data, 16


def decode_audio_full(content: bytes):
    """Magic-dispatched audio decode → (rate, samples ndarray (n, ch),
    bits_per_sample). WAV via the stdlib ``wave`` module; FLAC via the
    package's spec bitstream decoder (llm/flac.py); OGG/VORBIS via the
    native decoder (llm/vorbis.py — the codebooks travel in the stream,
    so no external tables are needed; new r9, soundfile demoted to
    fallback). MP3 and non-Vorbis OGG codecs (Opus) decode through
    soundfile WHEN INSTALLED (:func:`_lib_audio_decode`) and otherwise
    raise the named codec gate."""
    if content[:4] == b"fLaC":
        from intake_spark.llm.flac import decode_flac

        return decode_flac(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        rate, arr, sw = decode_wav_full(content)
        return rate, arr, sw * 8
    if content[:4] == b"FORM" and content[8:12] in (b"AIFF", b"AIFC"):
        return decode_aiff(content)
    if content[:4] == b".snd":
        return decode_au(content)
    gate = None
    if content[:4] == b"OggS":
        import numpy as np

        from intake_spark.llm.vorbis import decode_vorbis

        try:
            rate, pcm = decode_vorbis(content)
            arr = np.clip(np.rint(pcm * 32767.0), -32768, 32767).astype(
                np.int16
            )
            return rate, arr, 16
        except NotImplementedError as exc:
            gate = exc  # reserved spec values: soundfile may still decode
        except ValueError as exc:
            # non-Vorbis OGG (Opus, FLAC-in-OGG): delegate when possible
            gate = exc
    try:
        return _lib_audio_decode(content)
    except ImportError as exc:
        if gate is not None:
            raise NotImplementedError(
                f"OGG stream not natively decodable ({gate}) — OGG/Vorbis "
                "incl. floor 0 decodes natively; Opus needs soundfile"
            ) from gate
        raise NotImplementedError(
            "WAV/FLAC/AIFF/AU/OGG-Vorbis decode natively; MP3 and Opus "
            "need an audio codec library — install soundfile and "
            "decode_audio_full delegates automatically"
        ) from exc


def decode_wav(content: bytes):
    """(rate, samples) form of :func:`decode_wav_full`."""
    rate, arr, _sw = decode_wav_full(content)
    return rate, arr


def resize_nearest(arr, out_h: int, out_w: int):
    """Nearest-neighbor resize of an (H, W, C) array — numpy indexing only;
    the standard cheap thumbnail/feature-normalization step."""
    import numpy as np

    h, w = arr.shape[:2]
    rows = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    cols = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return arr[rows][:, cols]


def _pil_decode(content: bytes) -> np.ndarray:
    """Optional-dependency escape hatch for the lossy codecs (lossy
    WebP, AVIF/HEIF, arithmetic-coded JPEG …): when pillow IS installed,
    delegate to it — exactly the reference's own PILImageReader
    delegation (reference readers.py:2228) — and normalize to the same
    (H, W, C) uint8 ndarray contract the stdlib decoders return.
    Raises ImportError when pillow is absent; callers turn that into
    the named codec gate."""
    import io

    import numpy as np
    from PIL import Image

    img = Image.open(io.BytesIO(content))
    if img.mode == "P":
        # palette indices are not pixel values
        img = img.convert("RGBA" if "transparency" in img.info else "RGB")
    if img.mode not in ("RGB", "RGBA", "L"):
        # CMYK/YCbCr/LA/I/F/I;16 …: normalize to the uint8 RGB(A)/L
        # contract — a raw CMYK plane read as RGBA (or an int32 'I'
        # plane) would silently corrupt downstream channel features
        has_alpha = "A" in img.mode or "transparency" in img.info
        img = img.convert("RGBA" if has_alpha else "RGB")
    arr = np.asarray(img)
    return arr if arr.ndim == 3 else arr[:, :, None]


def _jpeg_frame_marker(content: bytes) -> int | None:
    """First SOF/SOS marker code in a JPEG marker stream — distinguishes
    JPEG-LS (SOF55, 0xF7) from DCT JPEGs without decoding anything."""
    import struct as _s

    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            return None
        m = content[pos + 1]
        if m == 0xFF:
            pos += 1
            continue
        if m in (0x01,) or 0xD0 <= m <= 0xD9:
            pos += 2
            continue
        if (0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC)) or m in (0xF7, 0xDA):
            return m
        (ln,) = _s.unpack_from(">H", content, pos + 2)
        pos += 2 + ln
    return None


def decode_image(content: bytes):
    """Image decode: PNG, baseline TIFF, baseline JPEG, JPEG-LS (T.87,
    llm/jpegls.py), BMP, GIF, PNM, TGA and lossless WebP (VP8L) all
    decode with the stdlib paths; the remaining codecs (lossy WebP,
    AVIF, non-MJPEG video frames) decode through pillow WHEN INSTALLED
    (:func:`_pil_decode`) and otherwise raise the named codec gate.

    Contract: DCT JPEGs (SOF0/1/2) always come back uint8 (H, W, C) —
    12-bit SOF1 is scaled to 8-bit here (call :func:`decode_jpeg`
    directly for raw uint16, as the DICOM pixel path does). Natively
    16-bit sources (16-bit PNG/PNM/TIFF, lossless SOF3) keep their
    uint16 samples unscaled: full precision is those formats' point."""
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(content)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        from intake_spark.sci import decode_tiff

        return decode_tiff(content)
    if content[:3] == b"\xff\xd8\xff":
        fm = _jpeg_frame_marker(content)
        if fm == 0xF7:  # SOF55: JPEG-LS (T.87)
            from intake_spark.llm.jpegls import decode_jpegls

            arr = decode_jpegls(content)
            return arr[:, :, None]
        if fm == 0xC3:  # SOF3: lossless JPEG (T.81 process 14)
            arr = decode_jpeg_lossless(content)
            return arr if arr.ndim == 3 else arr[:, :, None]
        try:
            arr = decode_jpeg(content)
        except NotImplementedError as gate:
            # arithmetic-coded SOF types: stdlib can't, pillow may —
            # keep the named gate when pillow is absent OR when pillow
            # itself fails (its opaque 'broken data stream' must not
            # replace the gate). SOF0/1/2 all decode natively above.
            try:
                return _pil_decode(content)
            except ImportError:
                raise gate from None
            except Exception as exc:
                raise gate from exc
        if arr.dtype != "uint8":
            # extended 12-bit SOF1: decode_image's contract is uint8
            # (H, W, C), so scale 0..4095 → 0..255 here; direct
            # decode_jpeg callers (the DICOM pixel path) keep the raw
            # uint16 samples
            arr = (arr >> 4).astype("uint8")
        # single-component JPEGs decode 2-D; normalize to (H, W, 1) so every
        # decode_image caller can rely on a channel axis
        return arr if arr.ndim == 3 else arr[:, :, None]
    if content[:2] == b"BM":
        return decode_bmp(content)
    if content[:3] == b"GIF":
        return decode_gif(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        from intake_spark.llm.webp import decode_webp

        try:
            return decode_webp(content)
        except NotImplementedError as gate:
            # lossy VP8: stdlib can't, pillow can — keep the named gate
            # when pillow is absent
            try:
                return _pil_decode(content)
            except ImportError:
                raise gate from None
    if content[:2] == b"\xff\x4f" or content[:12] == (
        b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    ):
        from intake_spark.llm.jpeg2000 import decode_jpeg2000

        try:
            arr = decode_jpeg2000(content)
        except NotImplementedError as gate:
            # the one still-gated J2K feature (HTJ2K): pillow when
            # installed, else the named gate (color, 9/7, tiles,
            # subsampling natively since r8; layers, precincts, code-
            # block styles, PPM/PPT, COC/QCC/RGN/POC natively since r9)
            try:
                return _pil_decode(content)
            except ImportError:
                raise gate from None
            except Exception as exc:
                raise gate from exc
        return arr if arr.ndim == 3 else arr[:, :, None]
    if content[:1] == b"P" and content[1:2] in b"123456":
        return decode_pnm(content)
    if content[-18:] == b"TRUEVISION-XFILE.\x00" or (
        len(content) > 18
        and int.from_bytes(content[12:14], "little") > 0
        and int.from_bytes(content[14:16], "little") > 0
        and (
            (
                content[1] == 0
                and content[2] in (2, 3, 10, 11)
                and content[3:8] == b"\x00\x00\x00\x00\x00"  # no colormap
                and content[16] in (8, 15, 16, 24, 32)
            )
            or (
                content[1] == 1  # color-mapped types with a plausible map
                and content[2] in (1, 9)
                and content[7] in (15, 16, 24, 32)  # palette entry bits
                and int.from_bytes(content[5:7], "little") > 0
                and content[16] == 8
            )
        )
    ):
        # TGA has no leading magic: trust the v2 footer, else the
        # known-image-type header shape (palette spec consistent with
        # the declared type)
        return decode_tga(content)
    try:
        return _pil_decode(content)
    except ImportError as exc:
        raise NotImplementedError(
            "PNG/TIFF/JPEG/BMP/WebP-lossless decode natively; the remaining "
            "codecs (AVIF, lossy WebP, ...) require pillow — install it and "
            "decode_image delegates automatically, or use fake_decode_meta "
            "for plumbing tests"
        ) from exc


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("thumb", T.ArrayType(T.DoubleType())),
        T.StructField("decoded", T.IntegerType()),
        T.StructField("img_format", T.StringType()),
        T.StructField("err", T.StringType()),
    ]
)


# what a header probe (image_meta / audio_meta) raises on a malformed,
# truncated or unrecognized blob: its own ValueErrors, short-buffer
# struct.error, an index or tag past the end, a gated variant
_PROBE_ERRORS = (ValueError, LookupError, NotImplementedError, struct.error)


def _optional_image_decode(blob: bytes):
    """Widest rung of the :func:`image_features` ladder: give pillow
    (via :func:`_pil_decode`, the reference's PILImageReader surface)
    a chance at ANY blob the stdlib ladder rejected — including
    recognized-magic variants whose native decode raised, which
    :func:`decode_image` deliberately does NOT retry (direct calls keep
    the named gate/parse error). Returns None when pillow is absent or
    fails too; the caller then emits the ``decoded=0`` probe row."""
    try:
        return _pil_decode(blob)
    except Exception:  # pillow raises arbitrary types on arbitrary bytes
        return None


def _optional_audio_decode(blob: bytes):
    """Audio mirror of :func:`_optional_image_decode`: retry ANY
    stdlib-rejected blob through soundfile (:func:`_lib_audio_decode`,
    the reference's LibrosaAudioReader surface). Returns (rate, float64
    (n, ch) full-scale samples) or None when soundfile is absent or
    fails too."""
    try:
        rate, data, bits = _lib_audio_decode(blob)
    except Exception:  # soundfile raises arbitrary types on arbitrary bytes
        return None
    import numpy as np

    return rate, data.astype(np.float64) / float(1 << (bits - 1))


def _image_feature_cells(blob: bytes, thumb_size: int) -> dict:
    """Per-blob cell values for :func:`image_features` — module-level so
    the delegation ladder (stdlib decode → optional pillow → header
    probe) is unit-testable driver-side."""
    try:
        arr = decode_image(blob)
        fmt = None
    except Exception as exc:
        arr = _optional_image_decode(blob)
        if arr is None:
            err_label = f"{type(exc).__name__}: {exc}"
            w = h = fmt = None
            try:
                m = image_meta(blob)
                w, h, fmt = m["width"], m["height"], m["format"]
            except _PROBE_ERRORS:
                pass
            return {
                "width": w, "height": h, "n_channels": None,
                "mean_intensity": None, "thumb": None, "decoded": 0,
                "img_format": fmt, "err": err_label[:200],
            }
        # delegated decode: record which container it was (the stdlib
        # gate message is gone — decoded=1 says the pixels are real)
        try:
            fmt = image_meta(blob)["format"]
        except _PROBE_ERRORS:
            fmt = None
    gray = arr.mean(axis=2)
    thumb = resize_nearest(arr, thumb_size, thumb_size).mean(axis=2)
    return {
        "width": arr.shape[1], "height": arr.shape[0],
        "n_channels": arr.shape[2],
        "mean_intensity": float(gray.mean()),
        "thumb": [float(x) for x in thumb.ravel()],
        "decoded": 1, "img_format": fmt, "err": None,
    }


def image_features(
    df: DataFrame,
    content_col: str = "content",
    keep_cols: list[str] | None = None,
    thumb_size: int = 8,
) -> DataFrame:
    """REAL decode → feature-extract → resize stage for image columns:
    Arrow-batched mapInPandas produces (width, height, n_channels,
    mean_intensity, thumb, decoded, img_format, err) where ``thumb`` is a
    flattened nearest-neighbor grayscale thumbnail — the end-to-end
    multimodal pipeline with no fake and no media libraries.

    Mixed-directory behavior: blobs whose PIXEL decode is gated (lossy
    WebP/AVIF — codecs that genuinely need an image library) or corrupt
    still flow. The ladder per blob: stdlib decode → pillow delegation
    when installed (:func:`_optional_image_decode`, the reference's
    PILImageReader surface — delegated decodes emit real ``decoded=1``
    features) → decode-free header probe (:func:`image_meta` dims,
    ``decoded=0``, the gate/parse message in ``err``) rather than
    failing the whole batch. Direct :func:`decode_image` calls keep the
    named gate."""
    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != content_col]
    out_schema = T.StructType([df.schema[c] for c in keep] + list(IMAGE_FEATURES_SCHEMA.fields))
    feat_keys = (
        "width", "height", "n_channels", "mean_intensity", "thumb",
        "decoded", "img_format", "err",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in feat_keys}
            for content in pdf[content_col]:
                # the fallback contract is "corrupt blobs still flow":
                # truncated streams raise zlib.error / struct.error /
                # EOFError / IndexError, not only the named codec gates —
                # _image_feature_cells walks the whole ladder per blob
                cells = _image_feature_cells(bytes(content), thumb_size)
                for k in feat_keys:
                    rows[k].append(cells[k])
            out = pdf[keep].copy()
            out["width"] = pd.array(rows["width"], dtype="Int32")
            out["height"] = pd.array(rows["height"], dtype="Int32")
            out["n_channels"] = pd.array(rows["n_channels"], dtype="Int32")
            out["mean_intensity"] = rows["mean_intensity"]
            out["thumb"] = rows["thumb"]
            out["decoded"] = pd.array(rows["decoded"], dtype="int32")
            out["img_format"] = rows["img_format"]
            out["err"] = rows["err"]
            yield out

    return map_in_pandas(df, run, schema=out_schema)


def _fake_meta(content: bytes) -> tuple[int, str, int, int, int]:
    """Deterministic stand-in decode: md5-derived pseudo dimensions."""
    digest = hashlib.md5(content).hexdigest()
    return (
        len(content),
        digest,
        int(digest[:4], 16) % 1920 + 1,
        int(digest[4:8], 16) % 1080 + 1,
        int(digest[8:10], 16) % 4 + 1,
    )


def fake_decode_meta(
    df: DataFrame, content_col: str = "content", keep_cols: list[str] | None = None
) -> DataFrame:
    """Arrow-batched ``mapInPandas`` 'decode' stage producing IMAGE_META_SCHEMA
    columns from the binary column. Swap ``_fake_meta`` for a real codec and
    the plumbing (schema, batching, parallelism) is unchanged."""
    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != content_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep] + list(IMAGE_META_SCHEMA.fields)
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf[content_col].map(_fake_meta)
            out = pdf[keep].copy()
            out["byte_len"] = [m[0] for m in meta]
            out["content_hash"] = [m[1] for m in meta]
            out["width"] = pd.array([m[2] for m in meta], dtype="int32")
            out["height"] = pd.array([m[3] for m in meta], dtype="int32")
            out["n_channels"] = pd.array([m[4] for m in meta], dtype="int32")
            yield out

    return map_in_pandas(df, decode_batches, schema=out_schema)


CODEC_ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_px", T.LongType()),
        T.StructField("exact", T.IntegerType()),
    ]
)


TRANSCODE_SCHEMA = T.StructType(
    [
        T.StructField("content", T.BinaryType()),
        T.StructField("src_format", T.StringType()),
        T.StructField("src_bytes", T.LongType()),
        T.StructField("out_bytes", T.LongType()),
        T.StructField("lossless", T.IntegerType()),
        T.StructField("err", T.StringType()),
    ]
)


def transcode_images(
    df: DataFrame,
    to: str = "webp",
    content_col: str = "content",
    keep_cols: "list[str] | None" = None,
) -> DataFrame:
    """Distributed image transcode: decode each binary image column with
    the stdlib decoders and re-encode it as ``to`` ('webp' VP8L /
    'png' / 'jpeg2000' — all lossless) — the standard corpus-
    normalization step (one storage codec for a multi-format crawl).
    Output: re-encoded ``content`` + source format, byte sizes, and a
    per-row ``lossless`` flag proven by decoding the OUTPUT and
    comparing pixels. Rows whose source decode is gated or corrupt keep
    err + null content instead of failing the batch.

    Scale: Arrow-batched mapInPandas, embarrassingly parallel per file;
    pixels never leave the executor. Parity surface: the reference
    converts media via PIL writers (output.py:268+)."""
    import numpy as np

    if to not in ("webp", "png", "jpeg2000"):
        raise ValueError("transcode_images supports webp/png/jpeg2000")
    keep = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != content_col
    ]
    out_schema = T.StructType(
        [df.schema[c] for c in keep] + list(TRANSCODE_SCHEMA.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from intake_spark.llm.jpeg2000 import (
            decode_jpeg2000,
            encode_jpeg2000,
        )
        from intake_spark.llm.webp import decode_webp, encode_webp
        from intake_spark.output import _png_bytes

        def enc_webp(arr):
            # every channel count maps faithfully into RGBA: gray ->
            # replicated RGB, gray+alpha -> replicated RGB + alpha; the
            # lossless check covers EVERY source channel (an RGBA
            # source that lost its alpha must not claim lossless=1)
            c = arr.shape[2]
            if c == 1:
                src = arr[:, :, 0]
                blob = encode_webp(src)
                back = decode_webp(blob)
                ok = (back[:, :, 0] == src).all() and (
                    back[:, :, 1] == src).all() and (back[:, :, 2] == src).all()
            elif c == 2:  # gray + alpha
                g = arr[:, :, 0]
                rgba = np.stack([g, g, g, arr[:, :, 1]], axis=-1)
                blob = encode_webp(rgba)
                back = decode_webp(blob)
                ok = (back == rgba).all()
            else:
                blob = encode_webp(arr)
                back = decode_webp(blob)
                ok = (back[:, :, :c] == arr).all() and (
                    c == 4 or (back[:, :, 3] == 255).all()
                )
            return blob, bool(ok)

        def enc_png(arr):
            if arr.shape[2] != 1:
                raise NotImplementedError(
                    "png transcode path is grayscale-only here — use webp "
                    "for color"
                )
            blob = _png_bytes(arr[:, :, 0].tolist())
            back = decode_png(blob)
            return blob, bool((back[:, :, 0] == arr[:, :, 0]).all())

        def enc_j2k(arr):
            # ALL channels travel as components (4-component = RGB+A
            # with no MCT) — dropping a plane must not claim lossless
            planes = [arr[:, :, i].astype(np.int64)
                      for i in range(arr.shape[2])]
            blob = encode_jpeg2000(
                planes if len(planes) > 1 else planes[0], levels=2
            )
            back = decode_jpeg2000(blob)
            if back.ndim == 2:
                back = back[:, :, None]
            return blob, bool((back == arr).all())

        enc = {"webp": enc_webp, "png": enc_png, "jpeg2000": enc_j2k}[to]
        for pdf in batches:
            rows = []
            keep_iters = [pdf[c] for c in keep]
            for vals in zip(pdf[content_col], *keep_iters):
                blob = bytes(vals[0])
                base = tuple(vals[1:])
                try:
                    fmt = image_meta(blob).get("format")
                except Exception:
                    fmt = None
                try:
                    arr = decode_image(blob)
                    if arr.dtype != np.uint8 and to != "jpeg2000":
                        # VP8L/this PNG path are 8-bit codecs; J2K keeps
                        # any precision losslessly (the 16-bit medical
                        # normalization case)
                        raise NotImplementedError(
                            "transcode of >8-bit sources needs the "
                            "jpeg2000 target (webp/png would silently "
                            "narrow)"
                        )
                    out, ok = enc(arr)
                    rows.append(base + (out, fmt, len(blob), len(out),
                                        int(ok), None))
                except Exception as exc:  # noqa: BLE001 — per-row err
                    # contract: corrupt blobs (zlib.error, struct.error,
                    # IndexError from truncation, pillow's OSError...)
                    # become err rows, never a failed Spark task
                    rows.append(base + (None, fmt, len(blob), None, 0,
                                        f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(
                rows, columns=list(keep) + [f.name for f in TRANSCODE_SCHEMA]
            )

    return map_in_pandas(df, run, schema=out_schema)


def transcode_audio(
    df: DataFrame,
    to: str = "flac",
    content_col: str = "content",
    keep_cols: "list[str] | None" = None,
) -> DataFrame:
    """Distributed audio transcode: decode each binary audio column with
    the stdlib decoders (WAV incl. ADPCM, FLAC, AIFF/AIFC, AU/G.711,
    OGG/Vorbis) and re-encode as FLAC — the audio twin of
    :func:`transcode_images` for corpus normalization. Output columns
    match TRANSCODE_SCHEMA: re-encoded ``content`` + source format,
    byte sizes, and a per-row ``lossless`` flag proven by decoding the
    OUTPUT and comparing samples (lossy SOURCES — Vorbis — still earn
    lossless=1 here: the flag certifies the transcode step preserved
    the decoded PCM, the only thing a transcode can promise). Gated or
    corrupt rows keep err + null content instead of failing the batch.

    Bit depth: the smallest FLAC-codable width that holds the decoded
    samples (8-bit unsigned WAV promotes to the next signed width
    rather than shifting the values). Arrow-batched mapInPandas;
    samples never leave the executor."""
    import numpy as np

    if to != "flac":
        raise ValueError("transcode_audio supports to='flac'")
    keep = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != content_col
    ]
    out_schema = T.StructType(
        [df.schema[c] for c in keep] + list(TRANSCODE_SCHEMA.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from intake_spark.llm.audio_meta import audio_meta
        from intake_spark.llm.flac import decode_flac, encode_flac

        def enc(rate, arr, bits):
            arr = np.asarray(arr)
            if arr.ndim == 1:
                arr = arr[:, None]
            lo = int(arr.min()) if arr.size else 0
            hi = int(arr.max()) if arr.size else 0
            bps = next(
                (b for b in (8, 12, 16, 20, 24, 32)
                 if b >= bits and -(1 << (b - 1)) <= lo
                 and hi < (1 << (b - 1))),
                None,
            )
            if bps is None:
                raise ValueError("samples exceed FLAC's 32-bit range")
            blob = encode_flac(arr.astype(np.int64), rate, bps=bps)
            r2, back, _b2 = decode_flac(blob)
            ok = r2 == rate and back.shape == arr.shape and (
                back == arr).all()
            return blob, bool(ok)

        for pdf in batches:
            rows = []
            keep_iters = [pdf[c] for c in keep]
            for vals in zip(pdf[content_col], *keep_iters):
                blob = bytes(vals[0])
                base = tuple(vals[1:])
                try:
                    fmt = audio_meta(blob).get("format")
                except Exception:
                    fmt = None
                try:
                    rate, arr, bits = decode_audio_full(blob)
                    out, ok = enc(rate, arr, bits)
                    rows.append(base + (out, fmt, len(blob), len(out),
                                        int(ok), None))
                except Exception as exc:  # noqa: BLE001 — per-row err
                    # same contract as transcode_images: corrupt blobs
                    # become err rows, never a failed Spark task
                    rows.append(base + (None, fmt, len(blob), None, 0,
                                        f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(
                rows, columns=list(keep) + [f.name for f in TRANSCODE_SCHEMA]
            )

    return map_in_pandas(df, run, schema=out_schema)


def codec_roundtrip_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
    codecs: tuple = ("jpeg2000", "jpegls"),
) -> DataFrame:
    """REAL stdlib codec round-trip inside the distributed pipeline:
    each document's text becomes a deterministic size×size uint8 image
    (code points mod 256, space-padded), which is ENCODED and DECODED
    executor-side with the named lossless codecs. Output per (doc,
    codec): decoded dims, decoded pixel sum, and a bit-exactness flag.

    Because the codecs are lossless, sum_px is a pure function of the
    text — which is what makes a full-value SQL oracle possible for a
    binary codec path (q30's fake-decode plumbing check, upgraded to
    the real coders). Arrow-batched mapInPandas; encoded images never
    leave the executor."""
    n_px = size * size
    out_schema = T.StructType(
        [df.schema[id_col]] + list(CODEC_ROUNDTRIP_SCHEMA.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from intake_spark.llm.flac import decode_flac, encode_flac
        from intake_spark.llm.jpeg2000 import (
            CBSTY_BYPASS,
            CBSTY_SEGSYM,
            decode_jpeg2000,
            encode_jpeg2000,
        )
        from intake_spark.llm.jpegls import decode_jpegls, encode_jpegls
        from intake_spark.llm.webp import decode_webp, encode_webp
        from intake_spark.output import _png_bytes

        def flac_rt(a):
            # audio lane: the same 64 values as one int16 PCM block,
            # reshaped back to the image grid so the oracle is uniform
            rate, back, _bps = decode_flac(
                encode_flac(a.reshape(-1).astype(np.int64), 8000,
                            block_size=a.size)
            )
            return back[:, 0].astype(np.uint8).reshape(a.shape)

        pairs = {
            "jpeg2000": (
                lambda a: encode_jpeg2000(a, levels=1, cb_exp=4),
                decode_jpeg2000,
            ),
            "jpegls": (encode_jpegls, decode_jpegls),
            "png": (
                lambda a: _png_bytes(a.tolist()),
                lambda b: decode_png(b)[:, :, 0],
            ),
            # r9 packet-layer surface exercised end-to-end: quality
            # layers + precincts + bypass/segsym styles + PPT headers
            "j2k_full": (
                lambda a: encode_jpeg2000(
                    a, levels=1, cb_exp=4, layers=2, precincts=(3, 3),
                    cb_style=CBSTY_BYPASS | CBSTY_SEGSYM,
                    packed_headers="ppt", sop=True, eph=True,
                ),
                decode_jpeg2000,
            ),
            "flac": (lambda a: a, flac_rt),
            "webp": (encode_webp, lambda b: decode_webp(b)[:, :, 1]),
        }
        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                s = ((text or "")[:n_px]).ljust(n_px, " ")
                arr = np.array(
                    [ord(c) % 256 for c in s], dtype=np.uint8
                ).reshape(size, size)
                for codec in codecs:
                    enc, dec = pairs[codec]
                    back = dec(enc(arr))
                    rows.append(
                        {
                            id_col: did,
                            "codec": codec,
                            "width": back.shape[1],
                            "height": back.shape[0],
                            "sum_px": int(back.astype(np.int64).sum()),
                            "exact": int(
                                back.shape == arr.shape and (back == arr).all()
                            ),
                        }
                    )
            out = pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            out["exact"] = out["exact"].astype("int32")
            yield out

    # spread the codec work across the executors: the per-row cost is
    # milliseconds of CPU (encode+decode through real coders), while the
    # input is a narrow text table that typically arrives as one or two
    # parquet splits — without the repartition the whole stage runs on
    # the scan's task count (measured: one 1.6 MB row group = ONE core
    # doing ~4 s of codec work while 31 idle). Round-robin keeps the
    # spread even and deterministic under retries; the shuffle moves
    # only (id, text).
    par = df.sparkSession.sparkContext.defaultParallelism
    return map_in_pandas(
        df.select(id_col, text_col).repartition(par), run, schema=out_schema)


def frame_sample_plan(df: DataFrame, content_col: str = "content", every_n: int = 30) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame index.

    Decoder stubbed (no decord/ffmpeg here): frame count is derived
    deterministically from the byte length; the explode shape — media row →
    many frame rows, each later decodable independently — is the real part.
    """
    n_frames = (F.length(F.col(content_col)) / 100 + 1).cast("int")
    return df.withColumn(
        "frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n)))
    )


# ---------------------------------------------------------------------------
# Baseline JPEG decode — stdlib + numpy (parity: PILImageReader,
# reference readers.py:2228, which delegates to libjpeg via PIL). Scope:
# Huffman DCT (SOF0 baseline, SOF1 extended 8/12-bit, SOF2 progressive),
# grayscale and YCbCr with any h/v subsampling (4:4:4, 4:2:0, 4:2:2, ...),
# multi-scan + spectral selection + successive approximation, restart
# markers. Arithmetic coding and hierarchical processes raise clearly.
# ---------------------------------------------------------------------------

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_huff_table(bits: list[int], values: bytes) -> dict:
    """Canonical JPEG Huffman table → {(length, code): symbol}."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBits:
    """MSB-first bit reader over a de-stuffed entropy interval."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                return 0  # spec: pad with 1s/0s at segment end
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    """DC/AC magnitude-category decode (ITU T.81 F.2.2.1 EXTEND)."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def decode_jpeg_lossless(content: bytes):
    """Lossless JPEG (ITU T.81 process 14, SOF3) → (H, W) or (H, W, C)
    ndarray (uint8 for P<=8, uint16 otherwise). Huffman-coded
    prediction residuals with selection values 1-7 and point transform;
    the DICOM 'JPEG Lossless SV1' transfer syntaxes (1.2.840.10008.1.2.
    4.57/.70) are this process with Ss=1. Color images decode whether
    coded as ONE interleaved scan or one scan PER component (point
    transform applied per scan, T.81); subsampled components decode in
    per-component scans at their own dimensions — or inside an
    interleaved scan as Hi x Vi MCU sample blocks (T.81 A.2.3) — and
    nearest-upsample to the frame grid; restart markers reset the
    predictor per T.81 H.2.2 (restarts inside a subsampled interleaved
    scan stay a named gate)."""
    import numpy as np

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI marker)")
    huff: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    planes = None
    plane_pt: dict[int, int] = {}
    pos = 2
    while pos < len(content):
        if content[pos] != 0xFF:
            pos += 1
            continue
        marker = content[pos + 1]
        if marker == 0xFF:  # 0xFF fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        seglen = int.from_bytes(content[pos + 2 : pos + 4], "big")
        body = content[pos + 4 : pos + 2 + seglen]
        if marker == 0xC4:  # DHT (DC class only in lossless)
            b = 0
            while b < len(body):
                _cls, tid = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                nval = sum(bits)
                huff[tid] = _jpeg_huff_table(bits, body[b + 17 : b + 17 + nval])
                b += 17 + nval
        elif marker == 0xC3:  # SOF3
            prec = body[0]
            h, w, ncomp = (
                int.from_bytes(body[1:3], "big"),
                int.from_bytes(body[3:5], "big"),
                body[5],
            )
            comps = []
            fac = {}
            for c in range(ncomp):
                cid, hv, _tq = body[6 + c * 3 : 9 + c * 3]
                comps.append(cid)
                fac[cid] = (hv >> 4, hv & 0xF)
            hmax = max(fh for fh, _fv in fac.values())
            vmax = max(fv for _fh, fv in fac.values())
            cdims = {
                cid: (-(-h * fv // vmax), -(-w * fh // hmax))
                for cid, (fh, fv) in fac.items()
            }
            frame = {"p": prec, "h": h, "w": w, "comps": comps,
                     "fac": fac, "cdims": cdims}
        elif marker == 0xDD:
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("lossless JPEG scan before SOF3")
            ns = body[0]
            scan_tables = {}
            order = []
            for s in range(ns):
                cid, tsel = body[1 + s * 2], body[2 + s * 2]
                scan_tables[cid] = tsel >> 4
                order.append(cid)
            predictor = body[1 + 2 * ns]  # Ss = selection value
            pt = body[3 + 2 * ns] & 0xF  # Al = point transform
            if not 1 <= predictor <= 7:
                raise ValueError(
                    f"lossless JPEG selection value {predictor}"
                )
            unknown = [c for c in order if c not in frame["comps"]]
            if unknown:
                raise ValueError(
                    f"lossless JPEG scan for unknown component {unknown}"
                )
            mcu_mode = len(order) > 1 and any(
                frame["fac"][c] != (1, 1) for c in order
            )
            P = frame["p"]
            if len(order) == 1:
                H, W = frame["cdims"][order[0]]
            else:
                H, W = frame["h"], frame["w"]
            if planes is None:
                planes = [
                    np.zeros(frame["cdims"][c], dtype=np.int64)
                    for c in frame["comps"]
                ]
            for cid in order:
                if cid in plane_pt:
                    raise ValueError(
                        f"lossless JPEG component {cid} scanned twice"
                    )
                plane_pt[cid] = pt
            # de-stuffed entropy intervals split on restart markers
            # (shared helper — includes fill-byte-before-RST handling);
            # next_pos resumes the marker walk for multi-scan files
            # (T.81 allows one scan per component, the layout some
            # DICOM color encoders emit)
            intervals, next_pos = _jpeg_entropy_intervals(content, pos + 2 + seglen)
            default = 1 << (P - pt - 1)
            tables = [huff[scan_tables[cid]] for cid in order]
            plane_of = {cid: frame["comps"].index(cid) for cid in order}
            if mcu_mode:
                # interleaved scan with subsampled components (T.81
                # A.2.3/H.2): each MCU carries an Hi x Vi sample block
                # per component in scan order; planes pad up to whole
                # MCUs and crop back after decode. Prediction is per
                # component plane, causal under MCU order (left/up
                # neighbors always land in this or an earlier MCU).
                if restart_interval:
                    raise NotImplementedError(
                        "lossless JPEG restart intervals inside a "
                        "subsampled interleaved scan are not supported"
                    )
                hmax2 = max(frame["fac"][c][0] for c in order)
                vmax2 = max(frame["fac"][c][1] for c in order)
                mcux = -(-frame["w"] // hmax2)
                mcuy = -(-frame["h"] // vmax2)
                pads = {
                    cid: np.zeros(
                        (mcuy * frame["fac"][cid][1],
                         mcux * frame["fac"][cid][0]),
                        dtype=np.int64,
                    )
                    for cid in order
                }
                reader = _JpegBits(intervals[0])
                for my in range(mcuy):
                    for mx in range(mcux):
                        for si, cid in enumerate(order):
                            fh, fv = frame["fac"][cid]
                            pl = pads[cid]
                            tab = tables[si]
                            for v in range(fv):
                                y = my * fv + v
                                for hh in range(fh):
                                    x = mx * fh + hh
                                    t = reader.huff(tab)
                                    if t == 16:
                                        diff = 32768
                                    elif t:
                                        diff = _jpeg_extend(
                                            reader.bits(t), t
                                        )
                                    else:
                                        diff = 0
                                    if y == 0 and x == 0:
                                        px = default
                                    elif y == 0:
                                        px = pl[y, x - 1]
                                    elif x == 0:
                                        px = pl[y - 1, x]
                                    else:
                                        a, b = pl[y, x - 1], pl[y - 1, x]
                                        c = pl[y - 1, x - 1]
                                        px = (
                                            a if predictor == 1 else
                                            b if predictor == 2 else
                                            c if predictor == 3 else
                                            a + b - c if predictor == 4
                                            else
                                            a + ((b - c) >> 1)
                                            if predictor == 5 else
                                            b + ((a - c) >> 1)
                                            if predictor == 6 else
                                            (a + b) >> 1
                                        )
                                    pl[y, x] = (int(px) + diff) & 0xFFFF
                for cid in order:
                    ch_, cw_ = frame["cdims"][cid]
                    planes[plane_of[cid]][:] = pads[cid][:ch_, :cw_]
                pos = next_pos
                continue
            reader = _JpegBits(intervals[0])
            interval_idx = 0
            samples_done = 0
            use_default = True  # scan start / first sample after restart
            oned_y = -1  # line a restart started on: 1-D Ra prediction
            for y in range(H):
                for x in range(W):
                    for si, cid in enumerate(order):
                        pl = planes[plane_of[cid]]
                        t = reader.huff(tables[si])
                        if t == 16:
                            diff = 32768
                        elif t:
                            diff = _jpeg_extend(reader.bits(t), t)
                        else:
                            diff = 0
                        if use_default:
                            px = default
                        elif y == 0 or y == oned_y:
                            # T.81 H.1.2.1: the 1-D predictor Ra is used
                            # for the first line of the scan AND the
                            # remainder of the line at the beginning of
                            # each restart interval
                            px = pl[y, x - 1]
                        elif x == 0:
                            px = pl[y - 1, x]
                        else:
                            a, b = pl[y, x - 1], pl[y - 1, x]
                            c = pl[y - 1, x - 1]
                            px = (
                                a if predictor == 1 else
                                b if predictor == 2 else
                                c if predictor == 3 else
                                a + b - c if predictor == 4 else
                                a + ((b - c) >> 1) if predictor == 5 else
                                b + ((a - c) >> 1) if predictor == 6 else
                                (a + b) >> 1
                            )
                        pl[y, x] = (int(px) + diff) & 0xFFFF
                    if use_default:
                        use_default = False
                        oned_y = y
                    samples_done += 1
                    if restart_interval and samples_done % restart_interval == 0:
                        interval_idx += 1
                        if interval_idx < len(intervals):
                            reader = _JpegBits(intervals[interval_idx])
                            use_default = True
            pos = next_pos
            continue
        pos += 2 + seglen
    if frame is None or planes is None:
        raise ValueError("JPEG lacks SOF3/SOS segments")
    missing = [c for c in frame["comps"] if c not in plane_pt]
    if missing:
        raise ValueError(
            f"lossless JPEG components without scans: {missing}"
        )
    P = frame["p"]
    nc = len(frame["comps"])
    # point transform is per SCAN (T.81): shift each plane by its own Al
    planes = [
        pl << plane_pt[cid] if plane_pt[cid] else pl
        for cid, pl in zip(frame["comps"], planes)
    ]
    H, W = frame["h"], frame["w"]
    if any(pl.shape != (H, W) for pl in planes):
        # nearest-upsample subsampled components to the frame grid
        # (same policy as the JPEG-LS and JPEG 2000 decoders)
        up = []
        for pl in planes:
            rows = np.minimum(np.arange(H) * pl.shape[0] // H,
                              pl.shape[0] - 1)
            cols = np.minimum(np.arange(W) * pl.shape[1] // W,
                              pl.shape[1] - 1)
            up.append(pl[np.ix_(rows, cols)])
        planes = up
    out = np.stack(planes, axis=-1) if nc > 1 else planes[0]
    dt_ = np.uint8 if P <= 8 else np.uint16
    return out.astype(dt_)


def _jpeg_entropy_intervals(content: bytes, pos: int) -> tuple[list[bytes], int]:
    """De-stuffed entropy intervals of one scan, split on restart markers.

    Returns (intervals, next_pos) where next_pos is the offset of the
    marker (0xFF byte) that terminated the scan, so the caller can keep
    walking the marker stream (multi-scan sequential/progressive files).
    """
    intervals: list[bytes] = []
    cur = bytearray()
    p = pos
    n = len(content)
    while p < n:
        byte = content[p]
        if byte == 0xFF and p + 1 < n:
            nxt = content[p + 1]
            if nxt == 0xFF:
                # 0xFF fill byte before an in-scan RST or the scan's
                # terminating marker (T.81 B.1.1.2) — drop it, the last
                # FF of the run is the marker's own prefix
                p += 1
                continue
            if nxt == 0x00:
                cur.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                intervals.append(bytes(cur))
                cur = bytearray()
                p += 2
                continue
            break  # EOI or next marker segment
        cur.append(byte)
        p += 1
    intervals.append(bytes(cur))
    return intervals, p


def decode_jpeg(content: bytes):
    """Huffman DCT JPEG → (H, W) grayscale or (H, W, 3) RGB ndarray
    (uint8 for 8-bit precision, uint16 for 12-bit).

    Supports the Huffman DCT processes of ITU T.81: baseline sequential
    (SOF0), extended sequential (SOF1, 8/12-bit samples + 16-bit quant
    tables), and progressive (SOF2) — multi-scan files, spectral
    selection and successive approximation per Annex G (DC first/refine,
    AC first/refine with EOB runs), non-interleaved scans, restart
    markers, any h/v sampling. Arithmetic-coded and hierarchical frames
    gate with NotImplementedError; decode_image delegates those to
    pillow when installed (the reference's PILImageReader delegation,
    reference readers.py:2228).
    """
    import numpy as np

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI marker)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    scans: list[dict] = []
    restart_interval = 0
    adobe_transform = None
    pos = 2
    n = len(content)
    while pos < n:
        if content[pos] != 0xFF:
            pos += 1
            continue
        marker = content[pos + 1]
        if marker == 0xFF:  # 0xFF fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(content[pos + 2 : pos + 4], "big")
        body = content[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (Pq=1 → 16-bit elements, legal for SOF1/2)
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0xF
                if prec:
                    qt[tid] = np.frombuffer(
                        body[b + 1 : b + 129], dtype=">u2"
                    ).astype(np.float64)
                    b += 129
                else:
                    qt[tid] = np.frombuffer(
                        body[b + 1 : b + 65], dtype=np.uint8
                    ).astype(np.float64)
                    b += 65
        elif marker == 0xC4:  # DHT (tables may be redefined between scans)
            b = 0
            while b < len(body):
                cls, tid = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                nval = sum(bits)
                tbl = _jpeg_huff_table(bits, body[b + 17 : b + 17 + nval])
                (huff_dc if cls == 0 else huff_ac)[tid] = tbl
                b += 17 + nval
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
            if frame is not None:
                raise ValueError("JPEG has multiple SOF segments")
            prec = body[0]
            h, w, ncomp = (
                int.from_bytes(body[1:3], "big"),
                int.from_bytes(body[3:5], "big"),
                body[5],
            )
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + c * 3 : 9 + c * 3]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"marker": marker, "p": prec, "h": h, "w": w, "comps": comps}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            # named codec gate (NotImplementedError, like lossy WebP):
            # decode_image catches it and delegates to pillow when installed
            raise NotImplementedError(
                f"JPEG frame type FFC{marker & 0xF:X} not supported "
                "(Huffman SOF0/SOF1/SOF2 only; arithmetic-coded and "
                "hierarchical processes gate)"
            )
        elif marker == 0xEE and body[:5] == b"Adobe":  # APP14 color hints
            # transform byte: 0 = none (RGB for 3 comps, CMYK for 4),
            # 1 = YCbCr, 2 = YCCK. Adobe 4-component data is INK-INVERTED.
            adobe_transform = body[11] if len(body) > 11 else 0
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:  # SOS: scan header + entropy data, then keep walking
            ns = body[0]
            sc_comps = []
            for s in range(ns):
                cid, tables = body[1 + s * 2], body[2 + s * 2]
                # snapshot the table dicts NOW: DHT between scans redefines ids
                sc_comps.append(
                    (cid, huff_dc.get(tables >> 4), huff_ac.get(tables & 0xF))
                )
            ss = body[1 + 2 * ns]
            se = body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            intervals, pos = _jpeg_entropy_intervals(content, pos + 2 + seglen)
            scans.append(
                {
                    "comps": sc_comps,
                    "ss": ss,
                    "se": se,
                    "ah": ahal >> 4,
                    "al": ahal & 0xF,
                    "ri": restart_interval,
                    "intervals": intervals,
                }
            )
            continue
        pos += 2 + seglen
    if frame is None or not scans:
        raise ValueError("JPEG lacks SOF/SOS segments")
    progressive = frame["marker"] == 0xC2
    P, H, W = frame["p"], frame["h"], frame["w"]
    if P not in (8, 12):
        raise NotImplementedError(f"JPEG sample precision {P} not supported")
    comps = frame["comps"]
    if len(comps) not in (1, 3, 4):
        raise NotImplementedError(
            f"JPEG with {len(comps)} components (unknown color space)"
        )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    comp_by_id = {}
    for c in comps:
        # padded (MCU-grid) block dims vs the non-interleaved block dims
        # of T.81 A.2.2 — single-component scans cover only the latter
        c["bw_pad"], c["bh_pad"] = mcus_x * c["h"], mcus_y * c["v"]
        c["bw"] = -(-(-(-W * c["h"] // hmax)) // 8)
        c["bh"] = -(-(-(-H * c["v"] // vmax)) // 8)
        comp_by_id[c["id"]] = c
    # coefficient accumulators in ZIGZAG index space, refined scan by scan
    coefs = {
        c["id"]: np.zeros((c["bh_pad"], c["bw_pad"], 64), dtype=np.int32)
        for c in comps
    }

    for scan in scans:
        sc = scan["comps"]
        ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
        if not progressive:
            ss, se, ah, al = 0, 63, 0, 0  # sequential scans are always full-band
        interleaved = len(sc) > 1
        if progressive and ss > 0 and interleaved:
            raise ValueError("progressive AC scans must be non-interleaved")
        dc_scan = ss == 0
        needs_dc = (not progressive) or (dc_scan and ah == 0)
        needs_ac = (not progressive) or not dc_scan
        for _cid, _tdc, _tac in sc:
            if (needs_dc and _tdc is None) or (needs_ac and _tac is None):
                raise ValueError(
                    "JPEG scan references an undefined Huffman table"
                )
        if interleaved:
            units = mcus_x * mcus_y
        else:
            c0 = comp_by_id[sc[0][0]]
            units = c0["bw"] * c0["bh"]
        preds = {cid: 0 for cid, _, _ in sc}
        eobrun = 0
        intervals = scan["intervals"]
        reader = _JpegBits(intervals[0])
        interval_idx = 0
        ri = scan["ri"]
        p1 = 1 << al
        m1 = -p1
        for u in range(units):
            if ri and u and u % ri == 0:
                interval_idx += 1
                if interval_idx < len(intervals):
                    reader = _JpegBits(intervals[interval_idx])
                preds = {cid: 0 for cid, _, _ in sc}
                eobrun = 0
            if interleaved:
                my, mx = divmod(u, mcus_x)
                blocks = []
                for cid, tdc, tac in sc:
                    c = comp_by_id[cid]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            blocks.append(
                                (cid, tdc, tac, my * c["v"] + by, mx * c["h"] + bx)
                            )
            else:
                cid, tdc, tac = sc[0]
                by, bx = divmod(u, comp_by_id[cid]["bw"])
                blocks = [(cid, tdc, tac, by, bx)]
            for cid, tdc, tac, by, bx in blocks:
                coef = coefs[cid][by, bx]
                if not progressive:
                    t = reader.huff(tdc)
                    preds[cid] += _jpeg_extend(reader.bits(t), t) if t else 0
                    coef[0] = preds[cid]
                    k = 1
                    while k <= 63:
                        rs = reader.huff(tac)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            break
                        coef[k] = _jpeg_extend(reader.bits(s), s)
                        k += 1
                elif dc_scan:
                    if ah == 0:  # DC first (G.1.2.1): diff scaled by 2^Al
                        t = reader.huff(tdc)
                        preds[cid] += _jpeg_extend(reader.bits(t), t) if t else 0
                        coef[0] = preds[cid] << al
                    else:  # DC refinement (G.1.2.3): one bit per block
                        if reader.bit():
                            coef[0] |= p1
                elif ah == 0:  # AC first scan (G.1.2.2) with EOB runs
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = reader.huff(tac)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.bits(r)
                            break
                        k += r
                        if k > se:
                            break
                        coef[k] = _jpeg_extend(reader.bits(s), s) << al
                        k += 1
                else:  # AC refinement (G.1.2.3): correction bits + new coeffs
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = reader.huff(tac)
                            r, s = rs >> 4, rs & 0xF
                            newval = 0
                            if s == 0:
                                if r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += reader.bits(r)
                                    break
                                # r == 15: advance over 16 zero-history coeffs
                            else:  # s is 1 by G.1.2.3: a newly nonzero coeff
                                newval = p1 if reader.bit() else m1
                            # advance r zero-history positions, emitting a
                            # correction bit for every nonzero coeff passed
                            while k <= se:
                                if coef[k] != 0:
                                    if reader.bit() and not (coef[k] & p1):
                                        coef[k] += p1 if coef[k] >= 0 else m1
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if newval and k <= se:
                                coef[k] = newval
                            k += 1
                    if eobrun > 0:
                        while k <= se:  # EOB run: refinement bits only
                            if coef[k] != 0:
                                if reader.bit() and not (coef[k] & p1):
                                    coef[k] += p1 if coef[k] >= 0 else m1
                            k += 1
                        eobrun -= 1

    missing_qt = sorted({c["tq"] for c in comps} - set(qt))
    if missing_qt:
        # a scan that precedes (or omits) its DQT must raise the codec's
        # named gate, not a raw KeyError — decode_image's except clauses
        # and image_features' err labeling depend on the exception type
        raise ValueError(
            "JPEG scan references undefined quantization table(s) "
            f"{missing_qt}"
        )
    # dequantize (zigzag×zigzag), dezigzag, batch IDCT, level shift
    C = np.cos((2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16) / 2
    C[0, :] *= 1 / np.sqrt(2)
    zz = np.asarray(_JPEG_ZIGZAG)
    level = float(1 << (P - 1))
    maxv = (1 << P) - 1
    out_planes = []
    for c in comps:
        deq = coefs[c["id"]].astype(np.float64) * qt[c["tq"]]
        nat = np.empty_like(deq)
        nat[..., zz] = deq
        b8 = nat.reshape(c["bh_pad"], c["bw_pad"], 8, 8)
        spat = np.einsum("ki,yxkl,lj->yxij", C, b8, C) + level
        pl = spat.transpose(0, 2, 1, 3).reshape(c["bh_pad"] * 8, c["bw_pad"] * 8)
        pl = np.repeat(np.repeat(pl, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out_planes.append(pl[:H, :W])
    dt_ = np.uint8 if P == 8 else np.uint16
    if len(out_planes) == 1:
        return np.clip(out_planes[0].round(), 0, maxv).astype(dt_)

    def ycc_to_rgb(y, cb, cr):
        r = y + 1.402 * (cr - level)
        g = y - 0.344136 * (cb - level) - 0.714136 * (cr - level)
        b = y + 1.772 * (cb - level)
        return r, g, b

    if len(out_planes) == 4:
        # 4-component JPEG: CMYK or YCCK (transform 2 — YCbCr applied to
        # the inverted C/M/Y channels). ADOBE files (APP14 present)
        # store INK-INVERTED values, so stored = maxv - ink and RGB
        # falls out of the multiplicative conversion directly:
        # R = (maxv - C_ink)(maxv - K_ink)/maxv = stored_C*stored_K/maxv.
        # Without APP14 the samples are plain ink values (libjpeg/PIL
        # apply the inversion only when the Adobe marker is present).
        if adobe_transform == 2:
            c, m_, ye = ycc_to_rgb(*out_planes[:3])
            k = out_planes[3]
        else:
            c, m_, ye, k = out_planes
        planes4 = [np.clip(x, 0, maxv) for x in (c, m_, ye, k)]
        if adobe_transform is None:  # plain CMYK: invert inks first
            planes4 = [maxv - x for x in planes4]
        c, m_, ye, k = planes4
        rgb = np.stack([c * k, m_ * k, ye * k], axis=2) / maxv
        return np.clip(rgb.round(), 0, maxv).astype(dt_)
    if adobe_transform == 0:
        # APP14 transform 0 with 3 components: the planes ARE R, G, B
        return np.clip(
            np.stack(out_planes, axis=2).round(), 0, maxv
        ).astype(dt_)
    r, g, b = ycc_to_rgb(*out_planes)
    return np.clip(np.stack([r, g, b], axis=2).round(), 0, maxv).astype(dt_)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_cross_rate", T.DoubleType()),
        T.StructField("decoded", T.IntegerType()),
        T.StructField("audio_format", T.StringType()),
        T.StructField("err", T.StringType()),
    ]
)


def _audio_float_cells(rate: int, x, fmt, decoded: int, err) -> dict:
    """Feature cells from full-scale float samples (n, ch) — shared by
    the stdlib-decoded and soundfile-delegated arms so the two paths
    can never drift in their RMS/peak/zero-cross math."""
    import numpy as np

    mono = x.mean(axis=1)
    n = len(mono)
    zc = float(np.mean(np.abs(np.diff(np.signbit(mono))))) if n > 1 else 0.0
    return {
        "sample_rate": rate, "n_channels": x.shape[1], "n_frames": n,
        "duration_s": n / rate if rate else 0.0,
        "rms": float(np.sqrt(np.mean(mono**2))) if n else 0.0,
        "peak": float(np.abs(x).max()) if n else 0.0,
        "zero_cross_rate": zc, "decoded": decoded,
        "audio_format": fmt, "err": err,
    }


def _audio_feature_cells(blob: bytes) -> dict:
    """Per-blob cell values for :func:`audio_features` — the delegation
    ladder (stdlib decode → optional soundfile → container probe),
    module-level for driver-side unit testing."""
    import numpy as np

    from intake_spark.llm.audio_meta import audio_meta as _audio_meta

    try:
        rate, arr, bits = decode_audio_full(blob)
    except Exception as exc:
        got = _optional_audio_decode(blob)
        if got is not None:
            rate, x = got
            try:
                fmt = _audio_meta(blob)["format"]
            except _PROBE_ERRORS:
                fmt = None
            return _audio_float_cells(rate, x, fmt, 1, None)
        err_label = f"{type(exc).__name__}: {exc}"
        sr = ch = dur = fmt = None
        try:
            m = _audio_meta(blob)
            sr, ch = m["sample_rate"], m["channels"]
            dur, fmt = m["duration_s"], m["format"]
        except _PROBE_ERRORS:
            pass
        return {
            "sample_rate": sr, "n_channels": ch, "n_frames": None,
            "duration_s": dur, "rms": None, "peak": None,
            "zero_cross_rate": None, "decoded": 0,
            "audio_format": fmt, "err": err_label[:200],
        }
    if arr.dtype == np.uint8:  # 8-bit WAV PCM is unsigned
        x = (arr.astype(np.float64) - 128.0) / 128.0
    else:
        # full scale follows the *stored* bit depth, not the
        # decoded dtype: 24-bit samples sign-extend into int32
        # but span +-2^23 (FLAC can also carry 12/20-bit)
        x = arr.astype(np.float64) / float(1 << (bits - 1))
    return _audio_float_cells(rate, x, None, 1, None)


def audio_features(
    df: DataFrame,
    content_col: str = "content",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """REAL decode → feature stage for WAV/FLAC columns (the audio mirror
    of :func:`image_features`): Arrow-batched mapInPandas over the
    magic-dispatched decoders produces the standard audio-QA features —
    sample rate, channels, duration, RMS level, peak, zero-crossing rate —
    normalized to [-1, 1] full scale regardless of bit depth.

    Mixed-directory behavior mirrors :func:`image_features`: blobs whose
    SAMPLE decode is gated (MP3/OGG — codecs that genuinely need an audio
    library) or corrupt walk the ladder — stdlib decode → soundfile
    delegation when installed (:func:`_optional_audio_decode`, real
    ``decoded=1`` features) → decode-free container probe
    (:func:`intake_spark.llm.audio_meta.audio_meta` rate/channels/
    duration, ``decoded=0``, the gate message in ``err``)."""
    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != content_col]
    out_schema = T.StructType([df.schema[c] for c in keep] + list(AUDIO_FEATURES_SCHEMA.fields))
    feat_keys = (
        "sample_rate", "n_channels", "n_frames", "duration_s",
        "rms", "peak", "zero_cross_rate", "decoded", "audio_format", "err",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {k: [] for k in feat_keys}
            for content in pdf[content_col]:
                # "corrupt blobs still flow": _audio_feature_cells walks
                # stdlib decode -> soundfile delegation -> probe per blob
                cells = _audio_feature_cells(bytes(content))
                for k in feat_keys:
                    cols[k].append(cells[k])
            out = pdf[keep].copy()
            out["sample_rate"] = pd.array(cols["sample_rate"], dtype="Int32")
            out["n_channels"] = pd.array(cols["n_channels"], dtype="Int32")
            out["n_frames"] = pd.array(cols["n_frames"], dtype="Int64")
            for k in ("duration_s", "rms", "peak", "zero_cross_rate"):
                out[k] = cols[k]
            out["decoded"] = pd.array(cols["decoded"], dtype="int32")
            out["audio_format"] = cols["audio_format"]
            out["err"] = cols["err"]
            yield out

    return map_in_pandas(df, run, schema=out_schema)


def image_meta(content: bytes) -> dict:
    """Decode-free image dimensions + format, header bytes only — works
    for every container INCLUDING the codecs whose pixel decode is gated
    (lossy WebP VP8, AVIF): (format, width, height). The cheap dimension/
    aspect pre-filter a multimodal corpus pipeline runs before paying for
    pixel decode; parity with PIL's lazy ``Image.open`` size probe."""
    import struct as _s

    if content[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = _s.unpack_from(">II", content, 16)
        return {"format": "png", "width": w, "height": h}
    if content[:3] == b"GIF":
        w, h = _s.unpack_from("<HH", content, 6)
        return {"format": "gif", "width": w, "height": h}
    if content[:1] == b"P" and content[1:2] in b"123456":
        toks = []
        pos = 2
        while len(toks) < 2 and pos < len(content):
            while pos < len(content) and content[pos : pos + 1].isspace():
                pos += 1
            if content[pos : pos + 1] == b"#":
                while pos < len(content) and content[pos] not in (10, 13):
                    pos += 1
                continue
            start = pos
            while pos < len(content) and not content[pos : pos + 1].isspace():
                pos += 1
            toks.append(int(content[start:pos]))
        return {"format": "pnm", "width": toks[0], "height": toks[1]}
    if content[-18:] == b"TRUEVISION-XFILE.\x00":
        w = int.from_bytes(content[12:14], "little")
        h = int.from_bytes(content[14:16], "little")
        return {"format": "tga", "width": w, "height": h}
    if content[:2] == b"BM":
        w, h = _s.unpack_from("<ii", content, 18)
        return {"format": "bmp", "width": w, "height": abs(h)}
    if content[:2] == b"\xff\xd8":  # JPEG: walk markers to a SOF
        pos = 2
        while pos + 4 <= len(content):
            if content[pos] != 0xFF:
                pos += 1
                continue
            marker = content[pos + 1]
            if marker == 0xFF:  # fill byte padding before a marker
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = _s.unpack_from(">H", content, pos + 2)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = _s.unpack_from(">HH", content, pos + 5)
                return {"format": "jpeg", "width": w, "height": h}
            if marker == 0xF7:  # SOF55: JPEG-LS frame header, same layout
                h, w = _s.unpack_from(">HH", content, pos + 5)
                return {"format": "jpeg-ls", "width": w, "height": h}
            pos += 2 + seglen
        raise ValueError("JPEG has no SOF marker")
    if content[:2] == b"\xff\x4f" or content[:12] == (
        b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    ):
        from intake_spark.llm.jpeg2000 import _unwrap_jp2

        cs = _unwrap_jp2(bytes(content))
        # SIZ immediately follows SOC: Lsiz Rsiz Xsiz Ysiz XOsiz YOsiz.
        # Image extent is Xsiz-XOsiz / Ysiz-YOsiz (T.800 A.5.1) — a
        # non-zero reference-grid offset must not inflate the dims.
        if cs[2:4] == b"\xff\x51":
            xsiz, ysiz, xo, yo = _s.unpack_from(">IIII", cs, 8)
            return {"format": "jpeg2000", "width": xsiz - xo, "height": ysiz - yo}
        raise ValueError("JPEG 2000 codestream lacks SIZ")
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        pos = 12
        while pos + 8 <= len(content):
            fourcc = content[pos : pos + 4]
            (size,) = _s.unpack_from("<I", content, pos + 4)
            body = pos + 8
            if fourcc == b"VP8X":  # canvas size: 24-bit minus-one fields
                w = int.from_bytes(content[body + 4 : body + 7], "little") + 1
                h = int.from_bytes(content[body + 7 : body + 10], "little") + 1
                return {"format": "webp", "width": w, "height": h}
            if fourcc == b"VP8L":
                bits = int.from_bytes(content[body + 1 : body + 5], "little")
                return {"format": "webp-lossless",
                        "width": (bits & 0x3FFF) + 1,
                        "height": ((bits >> 14) & 0x3FFF) + 1}
            if fourcc == b"VP8 ":  # lossy: dims parse even though decode gates
                if content[body + 3 : body + 6] != b"\x9d\x01\x2a":
                    raise ValueError("bad VP8 keyframe start code")
                w, h = _s.unpack_from("<HH", content, body + 6)
                return {"format": "webp-lossy", "width": w & 0x3FFF, "height": h & 0x3FFF}
            pos = body + size + (size & 1)
        raise ValueError("WebP container has no image chunk")
    if len(content) >= 12 and content[4:8] == b"ftyp" and content[8:12] in (b"avif", b"avis", b"heic", b"mif1"):
        # AVIF/HEIF: meta -> iprp -> ipco -> ispe carries the spatial extent
        from intake_spark.llm.video import _bmff_boxes

        def find_ispe(start, end):
            for typ, b, e in _bmff_boxes(content, start, end):
                if typ == b"ispe":
                    w, h = _s.unpack_from(">II", content, b + 4)
                    return w, h
                if typ in (b"meta", b"iprp", b"ipco"):
                    # meta is a FULL box (4-byte version/flags prefix)
                    got = find_ispe(b + (4 if typ == b"meta" else 0), e)
                    if got:
                        return got
            return None

        got = find_ispe(0, len(content))
        if not got:
            raise ValueError("AVIF/HEIF has no ispe property")
        return {"format": content[8:12].decode("ascii"), "width": got[0], "height": got[1]}
    if content[:2] in (b"II", b"MM"):
        import io

        from intake_spark.sci import tiff_meta

        m = tiff_meta(io.BytesIO(content))
        return {"format": "tiff", "width": m["width"], "height": m["height"]}
    raise ValueError("unrecognized image container")


def media_meta_features(
    df: DataFrame,
    content_col: str = "content",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Unified decode-free metadata stage for MIXED media binary columns:
    tries image → audio → video container probes per row and emits
    (media_kind, format, width, height, duration_s, err). One Arrow batch
    pass, header bytes only — the triage operator that routes a raw
    crawled blob column to the right decode pipeline."""
    from intake_spark.llm.audio_meta import audio_meta
    from intake_spark.llm.video import video_meta

    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != content_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField("media_kind", T.StringType()),
            T.StructField("format", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("err", T.StringType()),
        ]
    )

    def probe(content: bytes) -> dict:
        is_avi = content[:4] == b"RIFF" and content[8:12] == b"AVI "
        is_webm = content[:4] == b"\x1a\x45\xdf\xa3"
        is_mp4 = len(content) >= 12 and content[4:8] == b"ftyp" and content[8:12] not in (
            b"avif", b"avis", b"heic", b"mif1"
        )
        if is_avi or is_mp4 or is_webm:
            m = video_meta(content)
            return {"media_kind": "video", "format": m["format"],
                    "width": m["width"], "height": m["height"],
                    "duration_s": m["duration_s"]}
        try:
            m = image_meta(content)
            return {"media_kind": "image", "format": m["format"],
                    "width": m["width"], "height": m["height"], "duration_s": None}
        except ValueError:
            pass
        m = audio_meta(content)
        return {"media_kind": "audio", "format": m["format"], "width": None,
                "height": None, "duration_s": m["duration_s"]}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {k: [] for k in ("media_kind", "format", "width", "height", "duration_s", "err")}
            for content in pdf[content_col]:
                try:
                    m = probe(bytes(content))
                    for k in ("media_kind", "format", "width", "height", "duration_s"):
                        cols[k].append(m[k])
                    cols["err"].append(None)
                except Exception as exc:
                    for k in ("media_kind", "format", "width", "height", "duration_s"):
                        cols[k].append(None)
                    cols["err"].append(str(exc)[:200])
            out = pdf[keep].copy()
            out["media_kind"] = cols["media_kind"]
            out["format"] = cols["format"]
            out["width"] = pd.array(cols["width"], dtype="Int32")
            out["height"] = pd.array(cols["height"], dtype="Int32")
            out["duration_s"] = pd.array(cols["duration_s"], dtype="float64")
            out["err"] = cols["err"]
            yield out

    return map_in_pandas(df, run, schema=out_schema)


def lzw_decode_gif(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW (LSB-first bit packing, variable width from
    min_code_size+1 up to 12): Clear resets, End stops. ``data`` is the
    already-concatenated sub-block payload."""
    CLEAR = 1 << min_code_size
    END = CLEAR + 1
    out = bytearray()
    table: list[bytes] = []

    def reset():
        table.clear()
        table.extend(bytes([i]) for i in range(CLEAR))
        table.append(b"")
        table.append(b"")

    reset()
    width = min_code_size + 1
    bitbuf = 0
    nbits = 0
    prev = None
    for byte in data:
        bitbuf |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = bitbuf & ((1 << width) - 1)
            bitbuf >>= width
            nbits -= width
            if code == CLEAR:
                reset()
                width = min_code_size + 1
                prev = None
                continue
            if code == END:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"corrupt GIF LZW stream (code {code})")
            out += entry
            prev = entry
            if len(table) >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _gif_parse(content: bytes):
    """GIF89a/87a walk → (header_dict, frame iterator). Each yielded
    frame is (x, y, idx_array, color_table, gce) where gce carries the
    preceding Graphic Control Extension's disposal/transparency/delay
    (empty dict when absent). Interlaced rows arrive deinterlaced."""
    import struct as _s

    import numpy as np

    if content[:3] != b"GIF" or content[3:6] not in (b"87a", b"89a"):
        raise ValueError("not a GIF file")
    sw, sh, flags, bg, _ar = _s.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(content[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    header = {"w": sw, "h": sh, "gct": gct, "bg": bg}

    def frames():
        nonlocal pos
        gce: dict = {}
        while pos < len(content):
            b = content[pos]
            if b == 0x21:  # extension: label + sub-blocks
                label = content[pos + 1]
                pos += 2
                if label == 0xF9 and content[pos] >= 4:  # Graphic Control
                    gflags, delay = _s.unpack_from("<BH", content, pos + 1)
                    gce = {
                        "disposal": (gflags >> 2) & 0x7,
                        "delay_cs": delay,
                        "transparent": content[pos + 4] if gflags & 1 else None,
                    }
                while content[pos]:
                    pos += 1 + content[pos]
                pos += 1
            elif b == 0x2C:  # image descriptor
                x, y, w, h, iflags = _s.unpack_from("<HHHHB", content, pos + 1)
                pos += 10
                ct = header["gct"]
                if iflags & 0x80:
                    n = 2 << (iflags & 7)
                    ct = np.frombuffer(
                        content[pos : pos + 3 * n], dtype=np.uint8
                    ).reshape(-1, 3)
                    pos += 3 * n
                if ct is None:
                    raise ValueError("GIF image has no color table")
                mcs = content[pos]
                pos += 1
                blocks = bytearray()
                while content[pos]:
                    ln = content[pos]
                    blocks += content[pos + 1 : pos + 1 + ln]
                    pos += 1 + ln
                pos += 1
                idx = np.frombuffer(
                    lzw_decode_gif(bytes(blocks), mcs)[: w * h], dtype=np.uint8
                ).reshape(h, w)
                if iflags & 0x40:  # interlaced: 4-pass row shuffle
                    de = np.empty_like(idx)
                    rows = list(range(0, h, 8)) + list(range(4, h, 8)) \
                        + list(range(2, h, 4)) + list(range(1, h, 2))
                    for src, dst in enumerate(rows):
                        de[dst] = idx[src]
                    idx = de
                yield x, y, idx, ct, gce
                gce = {}
            elif b == 0x3B:  # trailer
                return
            else:
                raise ValueError(f"unexpected GIF block 0x{b:02x}")

    return header, frames()


def decode_gif(content: bytes):
    """Real GIF decode (stdlib + numpy): header, global/local color
    tables, interlaced rows, LSB-first LZW → (H, W, 3) uint8 RGB of the
    FIRST image frame (same first-frame contract as the TIFF/SVS page
    selection; :func:`gif_frames` composes full animations)."""
    import numpy as np

    _header, frames = _gif_parse(content)
    for _x, _y, idx, ct, _gce in frames:
        return ct[np.clip(idx, 0, len(ct) - 1)]
    raise ValueError("GIF contains no image data")


def _gif_compose(content: bytes):
    """Generator over composed GIF animation frames: yields
    (frame_index, delay_cs, canvas_view). The canvas is REUSED between
    yields — consumers must copy a frame they keep. This is what lets a
    sampler walk a long animation holding one canvas plus only the
    frames it keeps."""
    import numpy as np

    header, frames = _gif_parse(content)
    sw, sh, gct, bg = header["w"], header["h"], header["gct"], header["bg"]
    bg_rgb = (
        gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    i = 0
    for x, y, idx, ct, gce in frames:
        # clamp a malformed frame rect to the canvas
        idx = idx[: max(0, sh - y), : max(0, sw - x)]
        h, w = idx.shape
        disposal = gce.get("disposal", 0)
        before = canvas.copy() if disposal == 3 else None
        rgb = ct[np.clip(idx, 0, len(ct) - 1)]
        region = canvas[y : y + h, x : x + w]
        trans = gce.get("transparent")
        if trans is not None:
            mask = idx != trans
            region[mask] = rgb[mask]
        else:
            region[:, :] = rgb
        yield i, int(gce.get("delay_cs", 0)), canvas
        i += 1
        if disposal == 2:
            canvas[y : y + h, x : x + w] = bg_rgb
        elif disposal == 3 and before is not None:
            canvas = before


def gif_frames(content: bytes, max_frames: int | None = None):
    """Animated GIF → [(delay_cs, (H, W, 3) uint8 RGB full canvas)],
    honoring the GCE disposal methods (1 leave, 2 restore-to-background,
    3 restore-to-previous) and per-frame transparency — the compose
    operation decode_gif's first-frame contract leaves to the caller.
    Parity: the reference reads animations via imageio/PIL (reference
    readers.py:2228,2261); this composes them stdlib-side. For sampled
    access over long animations use :func:`_gif_compose` directly, which
    holds one canvas instead of every frame."""
    out = []
    for _i, delay, frame in _gif_compose(content):
        out.append((delay, frame.copy()))
        if max_frames is not None and len(out) >= max_frames:
            break
    if not out:
        raise ValueError("GIF contains no image data")
    return out


def decode_pnm(content: bytes):
    """Netpbm family (reference surface: PIL/imageio open these via
    readers.py PILImageReader/ImageIOReader): P1/P2/P3 ASCII and P4/P5/P6
    raw bitmap/graymap/pixmap, maxval up to 65535 (16-bit is big-endian
    per spec). Returns (H, W, C) uint8/uint16 ndarray (C=1 or 3)."""
    import numpy as np

    if len(content) < 2 or content[:1] != b"P" or content[1:2] not in b"123456":
        raise ValueError("not a PNM file")
    kind = int(content[1:2])

    # header tokens with '#' comments; raster starts after ONE whitespace
    # byte following the last header token
    pos = 2
    tokens = []
    want = 2 if kind in (1, 4) else 3  # bitmaps carry no maxval
    while len(tokens) < want:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] not in (10, 13):
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(content[start:pos]))
    pos += 1  # the single whitespace separating header from raster
    w, h = tokens[0], tokens[1]
    maxval = tokens[2] if want == 3 else 1
    nch = 3 if kind in (3, 6) else 1
    dt = np.uint16 if maxval > 255 else np.uint8

    if kind == 1:  # plain PBM: spec allows unseparated pixel digits
        need = h * w
        bits = []
        i = pos
        while i < len(content) and len(bits) < need:
            b = content[i]
            if b in (0x30, 0x31):
                bits.append(b - 0x30)
            elif b == 0x23:  # '#' comment to end of line
                while i < len(content) and content[i] not in (10, 13):
                    i += 1
            i += 1
        arr = np.array(bits, dtype=dt)
        # same intensity scale as the raw (P4) decoder: 1=black -> 0,
        # 0=white -> 255 (maxval for PBM is 1, NOT the intensity range)
        return ((1 - arr).astype(np.uint8) * 255).reshape(h, w, 1)
    if kind in (2, 3):  # ASCII graymap/pixmap: whitespace-separated
        vals = content[pos:].split()
        need = h * w * nch
        arr = np.array([int(v) for v in vals[:need]], dtype=dt)
        return arr.reshape(h, w, nch)
    if kind == 4:  # packed bits, rows padded to whole bytes
        rowbytes = (w + 7) // 8
        raw = np.frombuffer(content, dtype=np.uint8, count=h * rowbytes, offset=pos)
        bits = np.unpackbits(raw.reshape(h, rowbytes), axis=1)[:, :w]
        return ((1 - bits).astype(np.uint8) * 255).reshape(h, w, 1)
    count = h * w * nch
    if maxval > 255:
        raw = np.frombuffer(content, dtype=">u2", count=count, offset=pos)
        return raw.astype(np.uint16).reshape(h, w, nch)
    raw = np.frombuffer(content, dtype=np.uint8, count=count, offset=pos)
    return raw.reshape(h, w, nch)


def _tga_rle_decode(data: bytes, n_pixels: int, bpp: int):
    import numpy as np

    out = np.empty(n_pixels * bpp, dtype=np.uint8)
    di = oi = 0
    while oi < n_pixels * bpp:
        hdr = data[di]
        di += 1
        count = (hdr & 0x7F) + 1
        if hdr & 0x80:  # run packet: one pixel repeated
            px = data[di : di + bpp]
            di += bpp
            out[oi : oi + count * bpp] = np.tile(
                np.frombuffer(px, dtype=np.uint8), count
            )
        else:  # raw packet
            out[oi : oi + count * bpp] = np.frombuffer(
                data, dtype=np.uint8, count=count * bpp, offset=di
            )
            di += count * bpp
        oi += count * bpp
    return out


def _tga_expand16(flat, n, use_attr: bool = True):
    """ARGB1555 little-endian pixels → (n, 4) RGBA uint8 (5-bit channels
    scaled by the 255/31 ladder). ``use_attr``: honor bit 15 as alpha
    (attribute bit set = opaque); when the file declares ZERO attribute
    bits — or for 15-bit pixels, which have none by definition — the
    caller passes False and everything is opaque (most writers leave
    bit 15 clear on opaque images, and "all transparent" would be the
    wrong read of them)."""
    import numpy as np

    v = flat.reshape(n, 2).astype(np.uint16)
    px = v[:, 0] | (v[:, 1] << 8)
    r = ((px >> 10) & 0x1F).astype(np.uint16)
    g = ((px >> 5) & 0x1F).astype(np.uint16)
    b = (px & 0x1F).astype(np.uint16)
    if use_attr:
        a = (((px >> 15) & 1) * 255).astype(np.uint8)
    else:
        a = np.full(n, 255, dtype=np.uint8)
    scale = lambda c: ((c * 255 + 15) // 31).astype(np.uint8)  # noqa: E731
    return np.stack([scale(r), scale(g), scale(b), a], axis=1)


def decode_tga(content: bytes):
    """Truevision TGA: uncompressed and RLE true-color/grayscale/
    color-mapped (types 1/2/3/9/10/11), 8/15/16/24/32-bit pixels and
    palette entries (16-bit grayscale = intensity + attribute byte),
    both vertical origins. BGR(A)/ARGB1555 storage converted to
    RGB(A). Returns (H, W, C) uint8."""
    import numpy as np

    if len(content) < 18:
        raise ValueError("TGA too short")
    idlen = content[0]
    cmap_type = content[1]
    img_type = content[2]
    if img_type not in (1, 2, 3, 9, 10, 11):
        raise NotImplementedError(
            f"TGA type {img_type}: color-mapped/true-color/grayscale "
            "(1/2/3) and their RLE forms (9/10/11) are implemented"
        )
    mapped = img_type in (1, 9)
    if mapped and cmap_type != 1:
        raise ValueError(
            f"TGA color-mapped type {img_type} without a color map"
        )
    cm_first = int.from_bytes(content[3:5], "little")
    cm_len = int.from_bytes(content[5:7], "little")
    cm_bits = content[7]
    w = int.from_bytes(content[12:14], "little")
    h = int.from_bytes(content[14:16], "little")
    bpp_bits = content[16]
    desc = content[17]
    if bpp_bits not in (8, 15, 16, 24, 32):
        raise NotImplementedError(f"TGA {bpp_bits}-bit pixels")
    if mapped and bpp_bits not in (8, 16):
        raise NotImplementedError(
            f"TGA color-mapped with {bpp_bits}-bit indices (8/16-bit only)"
        )
    if img_type in (3, 11) and bpp_bits not in (8, 16):
        raise NotImplementedError(
            f"TGA grayscale with {bpp_bits}-bit samples (8/16-bit only)"
        )
    bpp = (bpp_bits + 7) // 8
    pos = 18 + idlen
    palette = None
    if cmap_type == 1:
        # the color map is present even for true-color types (spec: it
        # may carry developer data) — skip it; index into it for 1/9
        if cm_bits not in (15, 16, 24, 32):
            raise ValueError(f"TGA color-map entry size {cm_bits}")
        cm_bytes = (cm_bits + 7) // 8
        raw = np.frombuffer(
            content, dtype=np.uint8, count=cm_len * cm_bytes, offset=pos
        )
        pos += cm_len * cm_bytes
        if mapped:
            if cm_bits in (15, 16):
                # palette alpha is unsignaled: honor the attribute bit
                # only if SOME entry sets it, else the (common) opaque
                # palette with clear bits would decode fully transparent
                any_attr = bool(cm_len) and bool(
                    (np.frombuffer(raw, dtype="<u2", count=cm_len)
                     >> 15).any()
                )
                palette = _tga_expand16(raw, cm_len,
                                        use_attr=cm_bits == 16 and any_attr)
            else:
                e = raw.reshape(cm_len, cm_bytes)
                cols = [e[:, 2], e[:, 1], e[:, 0]]  # BGR(A) order
                if cm_bytes == 4:
                    cols.append(e[:, 3])
                palette = np.stack(cols, axis=1)
    n = h * w
    if img_type in (9, 10, 11):
        flat = _tga_rle_decode(content[pos:], n, bpp)
    else:
        flat = np.frombuffer(content, dtype=np.uint8, count=n * bpp, offset=pos)
    if mapped:
        # index width follows the pixel depth: 8-bit or 16-bit LE
        if bpp == 2:
            idx = flat.view("<u2").astype(np.int64) - cm_first
        else:
            idx = flat.astype(np.int64) - cm_first
        if idx.size and (int(idx.min()) < 0 or int(idx.max()) >= cm_len):
            raise ValueError("TGA color-map index out of range")
        arr = palette[idx].reshape(h, w, palette.shape[1])
    elif bpp_bits in (15, 16) and img_type in (2, 10):
        # the image descriptor declares the attribute-bit count: 15-bit
        # pixels have none, and 16-bit files declaring 0 are opaque
        use_attr = bpp_bits == 16 and (desc & 0x0F) >= 1
        arr = _tga_expand16(flat, n, use_attr=use_attr).reshape(h, w, 4)
    elif bpp_bits == 16 and img_type in (3, 11):
        # 16-bit grayscale: 8-bit intensity + 8-bit attribute (alpha)
        arr = flat.reshape(h, w, 2)
    else:
        arr = flat.reshape(h, w, bpp)
    if not (desc & 0x20):  # origin bottom-left → flip to top-left
        arr = arr[::-1]
    if not mapped and bpp_bits not in (15, 16) and bpp >= 3:
        arr = arr[:, :, [2, 1, 0] + ([3] if bpp == 4 else [])]  # BGR(A)
    return np.ascontiguousarray(arr)


def _read_extended80(b: bytes) -> float:
    """80-bit IEEE 754 extended float (AIFF sample rate field)."""
    sign = -1.0 if b[0] & 0x80 else 1.0
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0.0
    return sign * mant * 2.0 ** (exp - 16383 - 63)


def decode_aiff(content: bytes):
    """AIFF/AIFC (FORM/COMM/SSND chunks) → (rate, samples (n, ch) int
    ndarray, bits_per_sample): big-endian PCM, 'sowt' little-endian
    PCM, and G.711 'ulaw'/'alaw' companded AIFC. The Apple twin of WAV;
    the reference reads it via soundfile (readers.py
    SoundFileReader)."""
    import numpy as np

    if content[:4] != b"FORM" or content[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF file")
    pos, end = 12, 8 + int.from_bytes(content[4:8], "big")
    nch = bits = rate = None
    frames = 0
    data = None
    little = False  # AIFC 'sowt' = byte-swapped (little-endian) PCM
    g711 = None     # AIFC 'ulaw'/'alaw' = G.711 companded bytes
    while pos + 8 <= min(end, len(content)):
        cid = content[pos : pos + 4]
        clen = int.from_bytes(content[pos + 4 : pos + 8], "big")
        body = content[pos + 8 : pos + 8 + clen]
        if cid == b"COMM":
            nch = int.from_bytes(body[0:2], "big")
            frames = int.from_bytes(body[2:6], "big")
            bits = int.from_bytes(body[6:8], "big")
            rate = int(round(_read_extended80(body[8:18])))
            if len(body) >= 22:
                comp = body[18:22]
                if comp == b"sowt":
                    little = True
                elif comp in (b"ulaw", b"ULAW", b"alaw", b"ALAW"):
                    # G.711 companded AIFC: one byte per sample, the
                    # same formula-derived expanders the AU reader uses
                    g711 = comp.lower()
                elif comp != b"NONE":
                    raise NotImplementedError(
                        f"AIFC compression {comp!r}: PCM and G.711 "
                        "ulaw/alaw decode"
                    )
        elif cid == b"SSND":
            off = int.from_bytes(body[0:4], "big")
            data = body[8 + off :]
        pos += 8 + clen + (clen & 1)  # chunks pad to even
    if nch is None or data is None:
        raise ValueError("AIFF missing COMM or SSND chunk")
    n = frames * nch
    if g711 is not None:
        # COMM declares 16 significant bits but SSND stores one
        # companded byte per sample
        expand = _mulaw_expand if g711 == b"ulaw" else _alaw_expand
        arr = expand(np.frombuffer(data, dtype=np.uint8, count=n))
        return rate, arr.reshape(-1, nch), 16
    sw = (bits + 7) // 8
    bo = "<" if little else ">"
    if sw == 1:
        arr = np.frombuffer(data, dtype=np.int8, count=n).astype(np.int16)
    elif sw == 2:
        arr = np.frombuffer(data, dtype=bo + "i2", count=n).astype(np.int16)
    elif sw == 3:
        raw = np.frombuffer(data, dtype=np.uint8, count=n * 3).reshape(-1, 3)
        if little:
            raw = raw[:, ::-1]
        arr = (
            (raw[:, 0].astype(np.int32) << 16)
            | (raw[:, 1].astype(np.int32) << 8)
            | raw[:, 2]
        )
        arr = (arr << 8) >> 8  # sign-extend 24-bit
    else:
        arr = np.frombuffer(data, dtype=bo + "i4", count=n).astype(np.int32)
    return rate, arr.reshape(-1, nch), bits


def _mulaw_expand(u):
    """ITU-T G.711 μ-law byte → linear 16-bit (formula-derived, no table)."""
    import numpy as np

    u = ~u.astype(np.uint8)
    sign = (u & 0x80) != 0
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant.astype(np.int32) << 1) + 33) << exp) - 33
    out = np.where(sign, -mag, mag)
    return (out * 4).astype(np.int16)  # scale 14-bit to 16-bit range


def decode_au(content: bytes):
    """Sun/NeXT .au (.snd): big-endian header — PCM 8/16/24/32, IEEE
    float 32/64 (normalized to int16) and G.711 mu/A-law encodings →
    (rate, samples (n, ch), bits)."""
    import numpy as np

    if content[:4] != b".snd":
        raise ValueError("not an AU file")
    off = int.from_bytes(content[4:8], "big")
    enc = int.from_bytes(content[12:16], "big")
    rate = int.from_bytes(content[16:20], "big")
    nch = int.from_bytes(content[20:24], "big")
    data = content[off:]
    if enc == 1:  # μ-law
        arr = _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
        return rate, arr.reshape(-1, nch), 16
    if enc == 27:  # G.711 A-law
        arr = _alaw_expand(np.frombuffer(data, dtype=np.uint8))
        return rate, arr.reshape(-1, nch), 16
    if enc == 2:
        arr = np.frombuffer(data, dtype=np.int8).astype(np.int16)
        return rate, arr.reshape(-1, nch), 8
    if enc == 3:
        return rate, np.frombuffer(data, dtype=">i2").astype(np.int16).reshape(-1, nch), 16
    if enc == 4:
        raw = np.frombuffer(data, dtype=np.uint8)
        raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3)
        arr = (
            (raw[:, 0].astype(np.int32) << 16)
            | (raw[:, 1].astype(np.int32) << 8)
            | raw[:, 2]
        )
        arr = (arr << 8) >> 8
        return rate, arr.reshape(-1, nch), 24
    if enc == 5:
        return rate, np.frombuffer(data, dtype=">i4").astype(np.int32).reshape(-1, nch), 32
    if enc in (6, 7):  # IEEE float 32/64: normalize like float WAV
        x = np.frombuffer(data, dtype=">f4" if enc == 6 else ">f8")
        x = x[: (len(x) // max(nch, 1)) * max(nch, 1)].astype(np.float64)
        arr = np.clip(np.rint(x * 32767.0), -32768, 32767).astype(np.int16)
        return rate, arr.reshape(-1, nch), 16
    raise NotImplementedError(
        f"AU encoding {enc}: PCM 8/16/24/32, IEEE float 32/64, G.711 "
        "mu-law and A-law decode"
    )


# IMA/DVI ADPCM normative spec constants (IMA Digital Audio Focus and
# Technical Working Groups, "Recommended Practices for Enhancing Digital
# Audio Compatibility", rev 3.00 — these two tables ARE the published
# algorithm, unlike trained codec probability tables)
_IMA_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_nibbles(nibs, pred: int, idx: int):
    out = []
    for n in nibs:
        step = _IMA_STEP[idx]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX[n & 7]))
        out.append(pred)
    return out, pred, idx


def _wav_chunks(content: bytes):
    """(fmt_body, data_body) of a RIFF/WAVE stream."""
    import struct as _s

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV file")
    pos = 12
    end = min(len(content), 8 + _s.unpack_from("<I", content, 4)[0])
    fmt = data = None
    while pos + 8 <= end:
        cid = content[pos : pos + 4]
        (clen,) = _s.unpack_from("<I", content, pos + 4)
        if cid == b"fmt ":
            fmt = content[pos + 8 : pos + 8 + clen]
        elif cid == b"data":
            data = content[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return fmt, data


def _decode_wav_other(content: bytes):
    """WAV formats the stdlib ``wave`` module rejects: IMA-ADPCM
    (0x11), IEEE float 32/64 (0x0003 — normalized to int16 like the
    library delegation path), and WAVE_FORMAT_EXTENSIBLE (0xFFFE —
    the mandatory container for >2 channels or >16 valid bits, whose
    SubFormat GUID's leading u16 is the actual codec tag). Unknown
    codec tags (MP3-in-WAV 0x55, A/mu-law wrappers...) raise the named
    gate so the features layer emits err rows, not wrong samples."""
    import struct as _s

    import numpy as np

    fmt, data = _wav_chunks(content)
    tag, nch, rate = _s.unpack_from("<HHI", fmt, 0)
    bits = _s.unpack_from("<H", fmt, 14)[0] if len(fmt) >= 16 else 0
    if tag == 0xFFFE:
        if len(fmt) < 40:
            raise ValueError("WAVE_FORMAT_EXTENSIBLE fmt chunk too short")
        # SubFormat GUID: the first u16 is the wrapped format tag
        tag = _s.unpack_from("<H", fmt, 24)[0]
    if tag == 0x11:
        return decode_wav_adpcm(content)
    if tag == 3:  # IEEE float: normalize like the soundfile delegation
        if bits == 32:
            x = np.frombuffer(data, dtype="<f4")
        elif bits == 64:
            x = np.frombuffer(data, dtype="<f8")
        else:
            raise ValueError(f"IEEE-float WAV with {bits} bits")
        x = x[: (len(x) // max(nch, 1)) * max(nch, 1)].astype(np.float64)
        arr = np.clip(np.rint(x * 32767.0), -32768, 32767).astype(np.int16)
        return rate, arr.reshape(-1, nch), 2
    if tag == 1:  # PCM inside an EXTENSIBLE wrapper
        sw = (bits + 7) // 8
        n = (len(data) // (sw * nch)) * nch
        if sw == 1:
            arr = np.frombuffer(data, dtype=np.uint8, count=n)
        elif sw == 2:
            arr = np.frombuffer(data, dtype="<i2", count=n)
        elif sw == 3:
            b3 = np.frombuffer(
                data, dtype=np.uint8, count=n * 3
            ).reshape(-1, 3)
            pad = np.where(b3[:, 2] >= 0x80, 0xFF, 0).astype(np.uint8)
            arr = np.frombuffer(
                np.column_stack([b3, pad]).tobytes(), dtype="<i4"
            )
        elif sw == 4:
            arr = np.frombuffer(data, dtype="<i4", count=n)
        else:
            raise ValueError(f"unsupported WAV sample width {sw} bytes")
        return rate, arr.reshape(-1, nch), sw
    raise NotImplementedError(
        f"WAV codec wFormatTag {tag:#06x} is not supported — PCM, "
        "IEEE float, IMA-ADPCM and their EXTENSIBLE wrappers decode"
    )


def decode_wav_adpcm(content: bytes):
    """IMA-ADPCM WAV (wFormatTag 0x11 — the classic 4-bit speech/game
    compression the stdlib ``wave`` module rejects) → (rate, int16
    samples (n, ch), decoded_width=2 — the same (rate, arr, sw-bytes)
    contract as :func:`decode_wav_full`, which dispatches here when the
    stdlib module rejects the format tag). Block layout per spec: a
    4-byte per-channel
    header (first sample + step index) then channel-interleaved 4-byte
    nibble words."""
    import struct as _s

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV file")
    pos, end = 12, min(len(content), 8 + _s.unpack_from("<I", content, 4)[0])
    fmt = None
    data = None
    while pos + 8 <= end:
        cid = content[pos : pos + 4]
        (clen,) = _s.unpack_from("<I", content, pos + 4)
        if cid == b"fmt ":
            fmt = content[pos + 8 : pos + 8 + clen]
        elif cid == b"data":
            data = content[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, nch, rate = _s.unpack_from("<HHI", fmt, 0)
    (block_align,) = _s.unpack_from("<H", fmt, 12)
    if tag == 0xFFFE and len(fmt) >= 26:
        # EXTENSIBLE wrapper: the SubFormat GUID's leading u16 is the tag
        tag = _s.unpack_from("<H", fmt, 24)[0]
    if tag != 0x11:
        raise ValueError(f"not IMA-ADPCM (wFormatTag {tag:#x})")
    chans: list[list[int]] = [[] for _ in range(nch)]
    for bstart in range(0, len(data) - (len(data) % block_align or 0), block_align):
        block = data[bstart : bstart + block_align]
        preds, idxs = [], []
        for c in range(nch):
            (p,) = _s.unpack_from("<h", block, c * 4)
            idxs.append(min(88, max(0, block[c * 4 + 2])))
            preds.append(p)
            chans[c].append(p)  # header carries the block's first sample
        body = block[4 * nch :]
        # nibble words interleave per channel in 4-byte groups
        for w in range(0, len(body), 4 * nch):
            for c in range(nch):
                word = body[w + c * 4 : w + c * 4 + 4]
                nibs = []
                for byte in word:
                    nibs.append(byte & 0xF)
                    nibs.append(byte >> 4)
                vals, preds[c], idxs[c] = _ima_nibbles(nibs, preds[c], idxs[c])
                chans[c].extend(vals)
    n = min(len(ch) for ch in chans) if chans else 0
    arr = np.column_stack([np.array(ch[:n], dtype=np.int16) for ch in chans])
    return rate, arr, 2


def _alaw_expand(a):
    """ITU-T G.711 A-law byte → linear 16-bit (formula-derived)."""
    import numpy as np

    u = (a.astype(np.uint8) ^ 0x55).astype(np.int32)
    seg = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = np.where(
        seg == 0,
        (2 * mant + 1) << 3,
        ((2 * mant + 33) << 2) << seg,
    )
    return np.where(u & 0x80, mag, -mag).astype(np.int16)
