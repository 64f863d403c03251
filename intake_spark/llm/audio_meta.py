"""Audio metadata WITHOUT sample decode: MP3 frame-header / Xing walk and
OGG page walk (Vorbis + Opus id headers), stdlib-only.

The multimodal mandate treats audio as opaque binary + typed metadata;
for MP3/OGG the sample decode genuinely needs a codec library (named gate
in ``multimodal.decode_audio_full``), but the CONTAINER metadata —
sample rate, channels, bitrate, duration — is public-spec framing that
parses in a few hundred bytes + an O(frames) skip walk. That is what a
corpus pipeline actually filters on (duration/bitrate bounds) before
paying for decode. Parity: the reference surfaces the same fields via
librosa/soundfile probes.
"""

from __future__ import annotations

import struct

# MPEG-1/2/2.5 Layer I/II/III bitrate table (kbps), indexed
# [version_group][layer][bitrate_index]; version_group 0 = MPEG-1,
# 1 = MPEG-2/2.5 (they share a table)
_BITRATES_V1_L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_BITRATES_V2_L3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160]
_SAMPLE_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000], 0: [11025, 12000, 8000]}


def _id3v2_size(content: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (syncsafe 28-bit size)."""
    if content[:3] != b"ID3" or len(content) < 10:
        return 0
    b = content[6:10]
    return 10 + ((b[0] & 0x7F) << 21 | (b[1] & 0x7F) << 14 | (b[2] & 0x7F) << 7 | (b[3] & 0x7F))


def _mp3_frame(content: bytes, pos: int):
    """Parse one MPEG audio frame header at pos → (frame_len, meta) or
    None if no valid sync there."""
    if pos + 4 > len(content):
        return None
    b0, b1, b2, b3 = content[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version = (b1 >> 3) & 3  # 0=2.5, 2=MPEG2, 3=MPEG1 (1 reserved)
    layer = (b1 >> 1) & 3  # 1 = Layer III
    if version == 1 or layer != 1:
        return None  # only Layer III framed here
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    padding = (b2 >> 1) & 1
    mode = (b3 >> 6) & 3  # 3 = mono
    rate = _SAMPLE_RATES[version][sr_idx]
    kbps = (_BITRATES_V1_L3 if version == 3 else _BITRATES_V2_L3)[br_idx]
    spf = 1152 if version == 3 else 576  # samples per Layer-III frame
    frame_len = (spf // 8) * kbps * 1000 // rate + padding
    return frame_len, {
        "mpeg_version": {3: "1", 2: "2", 0: "2.5"}[version],
        "sample_rate": rate,
        "bitrate_kbps": kbps,
        "channels": 1 if mode == 3 else 2,
        "samples_per_frame": spf,
        "version_code": version,
        "mode": mode,
    }


def mp3_meta(content: bytes, max_walk_frames: int = 2_000_000) -> dict:
    """MP3 container metadata: first-frame header fields + duration.

    Duration comes from the Xing/Info VBR header's frame count when
    present (one read), else from an O(frames) header-skip walk (no
    sample decode; ~4 bytes looked at per frame). CBR streams report
    ``vbr=False`` and a bitrate; VBR reports the average implied by
    duration."""
    pos = _id3v2_size(content)
    # resync tolerance: scan forward for the first valid header
    first = None
    limit = min(len(content) - 4, pos + (1 << 16))
    while pos <= limit:
        first = _mp3_frame(content, pos)
        if first:
            break
        pos += 1
    if not first:
        raise ValueError("no MPEG Layer III frame sync found")
    frame_len, meta = first
    rate, spf = meta["sample_rate"], meta["samples_per_frame"]

    # Xing/Info header sits after the side info of the first frame
    side = (17 if meta["channels"] == 1 else 32) if meta["version_code"] == 3 else (
        9 if meta["channels"] == 1 else 17
    )
    # protection bit 0 = a 16-bit CRC sits between header and side info
    crc = 2 if (content[pos + 1] & 0x01) == 0 else 0
    xing_off = pos + 4 + crc + side
    n_frames = None
    vbr = False
    tag = content[xing_off : xing_off + 4]
    if tag in (b"Xing", b"Info"):
        (flags,) = struct.unpack(">I", content[xing_off + 4 : xing_off + 8])
        vbr = tag == b"Xing"
        if flags & 1:
            (n_frames,) = struct.unpack(">I", content[xing_off + 8 : xing_off + 12])
    if n_frames is None:
        # walk frame-to-frame by declared lengths
        n_frames = 0
        p = pos
        while p + 4 <= len(content) and n_frames < max_walk_frames:
            fr = _mp3_frame(content, p)
            if not fr:
                break
            n_frames += 1
            p += fr[0]
    duration = n_frames * spf / rate if rate else 0.0
    bitrate = meta["bitrate_kbps"]
    if vbr and duration > 0:
        # the documented semantics: VBR reports the AVERAGE bitrate implied
        # by payload size / duration, not the (arbitrary) first frame's
        bitrate = int(round((len(content) - pos) * 8 / duration / 1000))
    out = {
        "format": "mp3",
        "sample_rate": rate,
        "channels": meta["channels"],
        "duration_s": round(duration, 6),
        "n_frames": n_frames,
        "vbr": vbr,
        "bitrate_kbps": bitrate,
        "mpeg_version": meta["mpeg_version"],
    }
    return out


def ogg_meta(content: bytes) -> dict:
    """OGG container metadata via the page walk: codec id header (Vorbis
    ``\\x01vorbis`` or Opus ``OpusHead``) gives rate/channels; the LAST
    page's granule position gives total samples → duration. Only page
    headers are touched (27 bytes + lacing each)."""
    if content[:4] != b"OggS":
        raise ValueError("not an OGG stream (no OggS capture)")
    pos = 0
    codec = None
    rate = 0
    channels = 0
    pre_skip = 0
    last_granule = 0
    n_pages = 0
    while pos + 27 <= len(content):
        if content[pos : pos + 4] != b"OggS":
            break
        granule = struct.unpack("<q", content[pos + 6 : pos + 14])[0]
        nsegs = content[pos + 26]
        lacing = content[pos + 27 : pos + 27 + nsegs]
        body = pos + 27 + nsegs
        size = sum(lacing)
        if n_pages == 0:
            head = content[body : body + 19]
            if head[:7] == b"\x01vorbis":
                codec = "vorbis"
                channels = head[11]
                rate = struct.unpack("<I", head[12:16])[0]
            elif head[:8] == b"OpusHead":
                codec = "opus"
                channels = head[9]
                pre_skip = struct.unpack("<H", head[10:12])[0]
                # granules are ALWAYS 48 kHz for Opus regardless of the
                # input-rate field at bytes 12:16
                rate = 48000
            else:
                codec = "unknown"
        if granule >= 0:
            last_granule = granule
        n_pages += 1
        pos = body + size
    if codec == "unknown" or rate == 0:
        raise ValueError("unsupported OGG codec (Vorbis and Opus id headers only)")
    samples = max(0, last_granule - (pre_skip if codec == "opus" else 0))
    return {
        "format": f"ogg/{codec}",
        "sample_rate": rate,
        "channels": channels,
        "duration_s": round(samples / rate, 6),
        "n_pages": n_pages,
    }


def audio_meta(content: bytes) -> dict:
    """Magic-dispatched container metadata for WAV/FLAC/AIFF/AU/MP3/OGG — no
    sample decode anywhere on this path."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        # header-only probe (fmt + data chunk SIZES): decoding samples in
        # the triage stage would defeat its purpose on multi-GB PCM
        import struct as _s

        pos, end = 12, min(len(content), 8 + int.from_bytes(content[4:8], "little"))
        rate = nch = bits = 0
        dsize = 0
        tag = 1
        while pos + 8 <= end:
            cid = content[pos : pos + 4]
            (clen,) = _s.unpack_from("<I", content, pos + 4)
            if cid == b"fmt ":
                tag, nch, rate = _s.unpack_from("<HHI", content, pos + 8)
                (bits,) = _s.unpack_from("<H", content, pos + 8 + 14)
            elif cid == b"data":
                dsize = clen
            pos += 8 + clen + (clen & 1)
        if tag == 0x11:  # IMA-ADPCM: ~2 samples per byte after headers
            n = dsize * 2 // max(nch, 1)
        else:
            n = dsize // max((bits // 8) * nch, 1) if bits else 0
        return {
            "format": "wav",
            "sample_rate": rate,
            "channels": nch,
            "duration_s": round(n / rate, 6) if rate else 0.0,
            "bits": bits,
        }
    if content[:4] == b"fLaC":
        from intake_spark.llm.flac import parse_streaminfo

        info = parse_streaminfo(content)
        rate = info["sample_rate"]
        return {
            "format": "flac",
            "sample_rate": rate,
            "channels": info["channels"],
            "duration_s": round(info["total_samples"] / rate, 6) if rate else 0.0,
            "bits": info["bits_per_sample"],
        }
    if content[:4] == b"OggS":
        return ogg_meta(content)
    if content[:4] == b"FORM" and content[8:12] in (b"AIFF", b"AIFC"):
        # COMM chunk only — no SSND read, decode-free
        pos, end = 12, 8 + int.from_bytes(content[4:8], "big")
        while pos + 8 <= min(end, len(content)):
            cid = content[pos : pos + 4]
            clen = int.from_bytes(content[pos + 4 : pos + 8], "big")
            if cid == b"COMM":
                from intake_spark.llm.multimodal import _read_extended80

                body = content[pos + 8 : pos + 8 + clen]
                nch = int.from_bytes(body[0:2], "big")
                frames = int.from_bytes(body[2:6], "big")
                bits = int.from_bytes(body[6:8], "big")
                rate = int(round(_read_extended80(body[8:18])))
                return {
                    "format": "aiff",
                    "sample_rate": rate,
                    "channels": nch,
                    "duration_s": round(frames / rate, 6) if rate else 0.0,
                    "bits": bits,
                }
            pos += 8 + clen + (clen & 1)
        raise ValueError("AIFF missing COMM chunk")
    if content[:4] == b".snd":
        dlen = int.from_bytes(content[8:12], "big")
        off = int.from_bytes(content[4:8], "big")
        if dlen == 0xFFFFFFFF:  # spec: size unknown — measure the content
            dlen = max(0, len(content) - off)
        enc = int.from_bytes(content[12:16], "big")
        rate = int.from_bytes(content[16:20], "big")
        nch = int.from_bytes(content[20:24], "big")
        bits = {1: 8, 2: 8, 3: 16, 4: 24, 5: 32, 27: 8}.get(enc, 0)
        n = dlen // max(1, (bits // 8) * nch) if bits else 0
        return {
            "format": "au",
            "sample_rate": rate,
            "channels": nch,
            "duration_s": round(n / rate, 6) if rate else 0.0,
            "bits": bits,
        }
    return mp3_meta(content)  # mp3 has no single magic; framing validates


def audio_meta_features(df, content_col: str = "content", keep_cols=None):
    """Typed-metadata stage for mixed audio binary columns: Arrow-batched
    mapInPandas over :func:`audio_meta` → (format, sample_rate, channels,
    duration_s) per row, plus an ``err`` column (null on success) so one
    corrupt file flags instead of failing the batch. Container-header
    parsing only — the cheap pre-filter a pipeline runs BEFORE deciding
    which rows are worth a real decode."""
    import pandas as pd
    from pyspark.sql import types as T

    from intake_spark.session import map_in_pandas

    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != content_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField("format", T.StringType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("err", T.StringType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            cols = {"format": [], "sample_rate": [], "channels": [], "duration_s": [], "err": []}
            for content in pdf[content_col]:
                try:
                    m = audio_meta(bytes(content))
                    cols["format"].append(m["format"])
                    cols["sample_rate"].append(m["sample_rate"])
                    cols["channels"].append(m["channels"])
                    cols["duration_s"].append(m["duration_s"])
                    cols["err"].append(None)
                except Exception as exc:
                    cols["format"].append(None)
                    cols["sample_rate"].append(None)
                    cols["channels"].append(None)
                    cols["duration_s"].append(None)
                    cols["err"].append(str(exc)[:200])
            out = pdf[keep].copy()
            out["format"] = cols["format"]
            out["sample_rate"] = pd.array(cols["sample_rate"], dtype="Int32")
            out["channels"] = pd.array(cols["channels"], dtype="Int32")
            out["duration_s"] = pd.array(cols["duration_s"], dtype="float64")
            out["err"] = cols["err"]
            yield out

    return map_in_pandas(df, run, schema=out_schema)
