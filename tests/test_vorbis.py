"""Native OGG/Vorbis decode (llm/vorbis.py) — the one lossy codec whose
entropy codebooks travel in the stream itself, so no external tables
are needed. Verification strategy (the progressive-JPEG trick): the
spec-normative pieces are pinned against independently-derived values
(the spec's own Huffman worked example, a directly-transcribed IMDCT
formula, scalar coupling rules, the 140 dB floor ladder endpoints),
and the full stack is exercised end-to-end through the companion
encoder across block schedules, channel counts and residue types."""

import numpy as np
import pytest

from intake_spark.bitio import LSBReader as _BitReader
from intake_spark.bitio import LSBWriter as _BitWriter
from intake_spark.llm.vorbis import (
    FLOOR1_INVERSE_DB,
    _assign_codewords,
    _render_line,
    _render_point,
    decode_vorbis,
    encode_vorbis,
    imdct,
    mdct,
    ogg_crc,
    ogg_packets,
    ogg_pages,
    vorbis_window,
)


def _snr(a, b):
    return 10 * np.log10(np.mean(a**2) / max(np.mean((a - b) ** 2), 1e-30))


def test_codeword_assignment_spec_example():
    """Vorbis I 3.2.1 worked example: lengths [2,4,4,4,4,2,3,3]."""
    codes, underfull = _assign_codewords([2, 4, 4, 4, 4, 2, 3, 3])
    assert not underfull
    assert codes == {0: (0b00, 2), 1: (0b0100, 4), 2: (0b0101, 4),
                     3: (0b0110, 4), 4: (0b0111, 4), 5: (0b10, 2),
                     6: (0b110, 3), 7: (0b111, 3)}
    with pytest.raises(ValueError):
        _assign_codewords([1, 1, 1])  # over-specified
    assert _assign_codewords([1, 2])[1] is True  # under-specified flagged
    assert _assign_codewords([0, 3, 0])[0] == {1: (0, 1)}  # single entry


def test_bit_packing_lsb_first():
    """Vorbis I 2.1: bits fill bytes LSB-first."""
    bw = _BitWriter()
    bw.write(0b101, 3)
    bw.write(0b0110, 4)
    bw.write(0x1234, 16)
    br = _BitReader(bw.bytes())
    assert br.read(3) == 0b101
    assert br.read(4) == 0b0110
    assert br.read(16) == 0x1234
    # byte layout: first value occupies the LOW bits of byte 0
    assert bw.bytes()[0] & 0b111 == 0b101


def test_imdct_matches_direct_formula():
    """Pin the IMDCT against an explicitly-looped transcription of the
    spec formula y[j] = sum_k X[k] cos(2pi/n (j+0.5+n/4)(k+0.5))."""
    import math

    rng = np.random.default_rng(1)
    n = 16
    X = rng.normal(size=n // 2)
    got = imdct(X, n)
    for j in range(n):
        want = sum(
            X[k] * math.cos(2 * math.pi / n * (j + 0.5 + n / 4) * (k + 0.5))
            for k in range(n // 2)
        )
        assert abs(got[j] - want) < 1e-9


def test_mdct_imdct_tdac_reconstruction():
    """Windowed 50%-overlap MDCT/IMDCT is unit-gain (TDAC): the 4/n
    forward normalization is pinned by reconstruction, not convention."""
    rng = np.random.default_rng(2)
    n = 64
    x = rng.normal(size=4 * n)
    w = vorbis_window(n, n // 2, n // 2)
    acc = np.zeros(len(x))
    for s in range(0, len(x) - n + 1, n // 2):
        blk = x[s : s + n] * w
        acc[s : s + n] += imdct(mdct(blk, n), n) * w
    np.testing.assert_allclose(acc[n // 2 : -n // 2], x[n // 2 : -n // 2],
                               atol=1e-9)


def test_vorbis_window_shape():
    """Slope = sin(pi/2 sin^2(pi/2 (i+.5)/m)); long-next-to-short
    windows carry the short slope centered at n/4 with zero skirts."""
    import math

    w = vorbis_window(8, 4, 4)
    for i in range(4):
        want = math.sin(0.5 * math.pi
                        * math.sin(0.5 * math.pi * (i + 0.5) / 4) ** 2)
        assert abs(w[i] - want) < 1e-12
        assert abs(w[7 - i] - want) < 1e-12
    # power-complementary at the overlap (Princen-Bradley)
    np.testing.assert_allclose(w[:4] ** 2 + w[4:] ** 2, 1.0, atol=1e-12)
    lw = vorbis_window(32, 4, 16)
    assert np.all(lw[: 8 - 2] == 0)  # zero skirt before the short slope
    assert np.all(lw[12:16] == 1.0)  # flat top after the slope


def test_floor_ladder_endpoints():
    """The 256-step inverse-dB ladder spans exactly 140 dB: table[255]
    = 1.0, table[0] = 1.0649863e-07 (the published endpoint)."""
    assert FLOOR1_INVERSE_DB[255] == 1.0
    assert abs(FLOOR1_INVERSE_DB[0] - 1.0649863e-07) < 1e-13
    db = 20 * np.log10(FLOOR1_INVERSE_DB[1] / FLOOR1_INVERSE_DB[0])
    assert abs(db - 140.0 / 256) < 1e-9


def test_render_point_and_line():
    """floor1 line primitives are INTEGER Bresenham (T[render_point]
    truncates toward zero on the error division)."""
    assert _render_point(0, 0, 10, 10, 5) == 5
    assert _render_point(0, 10, 10, 0, 3) == 7
    v = [0] * 10
    _render_line(0, 0, 10, 5, v, 10)
    assert v == [0, 0, 1, 1, 2, 2, 3, 3, 4, 4]
    v = [0] * 10
    _render_line(0, 9, 10, 0, v, 10)
    assert v[0] == 9 and v[9] == 1 and all(a >= b for a, b in zip(v, v[1:]))


def test_inverse_coupling_scalar_rules():
    """Square-polar decoupling: the vectorized decode path must match a
    scalar transcription of the spec's four sign cases."""
    from intake_spark.llm import vorbis as V

    def scalar(M, A):
        if M > 0:
            return (M, M - A) if A > 0 else (M + A, M)
        return (M, M + A) if A > 0 else (M - A, M)

    rng = np.random.default_rng(3)
    m = rng.integers(-20, 21, 64).astype(float)
    a = rng.integers(-20, 21, 64).astype(float)
    # run the decoder's vectorized block on a fake packet path: reuse
    # the same numpy expressions by building a tiny coupled stream is
    # heavy — instead transcribe the vectorized code here and compare
    new_m, new_a = m.copy(), a.copy()
    pos, ap = m > 0, a > 0
    new_a[pos & ap] = (m - a)[pos & ap]
    new_a[pos & ~ap] = m[pos & ~ap]
    new_m[pos & ~ap] = (m + a)[pos & ~ap]
    new_a[~pos & ap] = (m + a)[~pos & ap]
    new_a[~pos & ~ap] = m[~pos & ~ap]
    new_m[~pos & ~ap] = (m - a)[~pos & ~ap]
    for i in range(64):
        assert (new_m[i], new_a[i]) == scalar(m[i], a[i]), (m[i], a[i])


def test_ogg_page_roundtrip_and_crc():
    pks = [b"\x01vorbisHDR", b"\x03vorbisCMT", b"\x05vorbisSET",
           b"\x00audio1" * 100, b"\x00audio2"]
    blob = ogg_pages(pks, granules=[128, 256])
    out, granules = ogg_packets(blob)
    assert out == pks
    assert granules[-1] == 256
    # CRC gates corruption
    bad = bytearray(blob)
    bad[-1] ^= 1  # flip a bit in the last page's body
    with pytest.raises(ValueError, match="CRC"):
        ogg_packets(bytes(bad))
    # a >255-byte packet spans lacing values (continuation handling)
    assert any(v == 255 for v in blob[27:])


def test_ogg_crc_is_the_ogg_variant():
    """Forward (non-reflected) CRC-32 with poly 0x04C11DB7, init 0: a
    one-bit message distinguishes it from the zlib/reflected variant."""
    assert ogg_crc(b"\x00") == 0
    assert ogg_crc(b"\x80") == ogg_crc(b"\x80")
    assert ogg_crc(b"\x01") == 0x04C11DB7


def test_roundtrip_mono_short_blocks():
    rate = 8000
    t = np.arange(4000) / rate
    x = 0.4 * np.sin(2 * np.pi * 440 * t)
    blob = encode_vorbis(x, rate, blocksizes=(256, 256))
    r, pcm = decode_vorbis(blob)
    assert r == rate and pcm.shape == (4000, 1)
    assert _snr(x, pcm[:, 0]) > 20


def test_roundtrip_stereo_schedules_and_residue_types():
    rate = 16000
    t = np.arange(9000) / rate
    x = np.stack([0.5 * np.sin(2 * np.pi * 330 * t),
                  0.3 * np.sin(2 * np.pi * 550 * t + 0.5)], axis=1)
    for kw, floor_snr in [
        (dict(blocksizes=(256, 256)), 20),
        (dict(blocksizes=(256, 2048), schedule=["l"] * 12), 20),
        (dict(blocksizes=(256, 2048),
              schedule=["s", "s", "l", "l", "s", "l", "s", "s", "l", "l",
                        "l", "s", "s", "s", "l", "s"] * 6), 15),
        (dict(blocksizes=(256, 256), residue_type=0), 20),
        (dict(blocksizes=(256, 256), residue_type=1), 20),
    ]:
        r, pcm = decode_vorbis(encode_vorbis(x, rate, **kw))
        assert pcm.shape == x.shape, kw
        assert _snr(x, pcm) > floor_snr, kw


def test_granule_trims_tail():
    rate = 8000
    x = 0.3 * np.sin(np.arange(1000) * 0.1)
    r, pcm = decode_vorbis(encode_vorbis(x, rate, blocksizes=(256, 256)))
    assert pcm.shape[0] == 1000  # not a multiple of the block hop


def test_silence_and_int16_input():
    rate = 8000
    r, pcm = decode_vorbis(
        encode_vorbis(np.zeros(700, dtype=np.int16), rate,
                      blocksizes=(256, 256))
    )
    assert pcm.shape[0] == 700 and np.abs(pcm).max() < 1e-3


def _vq_book_bits(bw, dims, entries, lengths, minimum, delta, vbits, mults):
    """Hand-pack a VQ codebook (lookup type 2) the way the setup header
    carries it."""
    from intake_spark.llm.vorbis import _float32_pack

    bw.write(0x564342, 24)
    bw.write(dims, 16)
    bw.write(entries, 24)
    bw.write(0, 1)  # not ordered
    bw.write(0, 1)  # not sparse
    for ln in lengths:
        bw.write(ln - 1, 5)
    bw.write(2, 4)  # lookup type 2
    bw.write(_float32_pack(minimum), 32)
    bw.write(_float32_pack(delta), 32)
    bw.write(vbits - 1, 4)
    bw.write(0, 1)  # seq_p off
    for m in mults:
        bw.write(m, vbits)


def test_floor0_lsp_curve():
    """Floor type 0 (LSP): header parse, cumulative VQ coefficient
    decode, Bark map, and the §6.2.3 p/q curve — checked against an
    independent recomputation, for even and odd orders."""
    from intake_spark.llm.vorbis import _Codebook, _Floor0

    for order in (4, 5):
        # codebook: dims 2, 4 entries, values minimum + delta * mult
        bw = _BitWriter()
        _vq_book_bits(bw, 2, 4, [2, 2, 2, 2], 0.05, 0.15,
                      3, [1, 2, 3, 1, 2, 2, 4, 1])
        book = _Codebook(_BitReader(bw.bytes()))

        bw = _BitWriter()
        bw.write(order, 8)       # floor0_order
        bw.write(8000, 16)       # rate
        bw.write(64, 16)         # bark_map_size
        bw.write(6, 6)           # amplitude bits
        bw.write(10, 8)          # amplitude offset
        bw.write(0, 4)           # number_of_books - 1
        bw.write(0, 8)           # book 0
        fl = _Floor0(_BitReader(bw.bytes()))
        assert fl.order == order and fl.rate == 8000

        # packet: amplitude, 1-bit book number, then entries 0,1(,2)
        entries = [0, 1] if order == 4 else [0, 1, 2]
        bw = _BitWriter()
        bw.write(40, 6)          # amplitude
        bw.write(0, 1)           # book number (ilog(1) = 1 bit)
        for e in entries:
            book.encode_scalar(bw, e)
        n2 = 128
        curve = fl.decode(_BitReader(bw.bytes()), [book], n2)
        assert curve is not None and len(curve) == n2

        # independent recomputation (minimum/delta as the packed
        # float32 representation quantizes them)
        from intake_spark.llm.vorbis import _float32_pack, _float32_unpack

        mn = _float32_unpack(_float32_pack(0.05))
        dl = _float32_unpack(_float32_pack(0.15))
        vals = {0: (mn + dl * 1, mn + dl * 2),
                1: (mn + dl * 3, mn + dl * 1),
                2: (mn + dl * 2, mn + dl * 2)}
        coeffs = []
        last = 0.0
        for e in entries:
            coeffs += [last + vals[e][0], last + vals[e][1]]
            last = coeffs[-1]
        coeffs = np.array(coeffs[:order])

        def bark(x):
            return (13.1 * np.arctan(0.00074 * x)
                    + 2.24 * np.arctan(1.85e-8 * x * x) + 1e-4 * x)

        cmap = np.minimum(63, np.floor(
            bark(4000.0 * np.arange(n2) / n2) * 64 / bark(4000.0)))
        cw = np.cos(np.pi * cmap / 64)
        cc = np.cos(coeffs)
        if order % 2:
            p = (1 - cw ** 2) * np.prod(
                [4 * (cc[2 * j + 1] - cw) ** 2
                 for j in range((order - 1) // 2)], axis=0)
            q = 0.25 * np.prod(
                [4 * (cc[2 * j] - cw) ** 2
                 for j in range((order + 1) // 2)], axis=0)
        else:
            p = (1 - cw) / 2 * np.prod(
                [4 * (cc[2 * j + 1] - cw) ** 2
                 for j in range(order // 2)], axis=0)
            q = (1 + cw) / 2 * np.prod(
                [4 * (cc[2 * j] - cw) ** 2
                 for j in range(order // 2)], axis=0)
        want = np.exp(0.11512925 * (40 * 10 / (63 * np.sqrt(p + q)) - 10))
        np.testing.assert_allclose(curve, want, rtol=1e-10)

    # amplitude 0 -> unused channel
    bw = _BitWriter()
    bw.write(0, 6)
    assert fl.decode(_BitReader(bw.bytes()), [book], 128) is None


def test_floor0_setup_validation():
    """A floor0 whose books lack value mappings (or point past the book
    list) fails at setup with a named error."""
    from intake_spark.llm.vorbis import (
        VorbisSetup, _build_headers, _write_codebook,
    )

    id_pk, _cm, _setup = _build_headers(8000, 1, 256, 256)

    def setup_with_floor0(book_idx):
        bw = _BitWriter()
        bw.write(5, 8)
        for b in b"vorbis":
            bw.write(b, 8)
        bw.write(1, 8)                 # 2 codebooks
        _write_codebook(bw, 1, [1, 1])  # book 0: scalar-only
        _write_codebook(bw, 4, [4] * 16)  # book 1: residue classbook
        bw.write(0, 6)
        bw.write(0, 16)                # time transform
        bw.write(0, 6)                 # 1 floor
        bw.write(0, 16)                # floor type 0
        bw.write(4, 8)                 # order
        bw.write(8000, 16)             # rate
        bw.write(64, 16)               # bark map size
        bw.write(6, 6)
        bw.write(10, 8)
        bw.write(0, 4)                 # 1 book
        bw.write(book_idx, 8)
        # minimal residue / mapping / mode tail so the packet parses
        # through to the validation pass
        bw.write(0, 6)                 # 1 residue
        bw.write(2, 16)                # type 2
        bw.write(0, 24)                # begin
        bw.write(128, 24)              # end
        bw.write(8 - 1, 24)            # partition size
        bw.write(0, 6)                 # 1 classification
        bw.write(1, 8)                 # classbook = book 1
        bw.write(0, 3)
        bw.write(0, 1)                 # class 0: no passes
        bw.write(0, 6)                 # 1 mapping
        bw.write(0, 16)                # mapping type 0
        bw.write(0, 1)                 # no submaps flag
        bw.write(0, 1)                 # no coupling
        bw.write(0, 2)                 # reserved
        bw.write(0, 8)                 # submap 0: unused time config
        bw.write(0, 8)                 # submap 0: floor 0
        bw.write(0, 8)                 # submap 0: residue 0
        bw.write(0, 6)                 # 1 mode
        bw.write(0, 1)                 # blockflag short
        bw.write(0, 16)                # window type
        bw.write(0, 16)                # transform type
        bw.write(0, 8)                 # mapping 0
        bw.write(1, 1)                 # framing
        return bw.bytes()

    with pytest.raises(ValueError, match="value mapping"):
        VorbisSetup(id_pk, setup_with_floor0(0))
    with pytest.raises(ValueError, match="missing codebook"):
        VorbisSetup(id_pk, setup_with_floor0(7))


def test_decode_audio_full_integration(tmp_path):
    """decode_audio_full routes OGG/Vorbis natively (int16 contract),
    and audio features flow through the Spark pipeline."""
    from intake_spark.llm.multimodal import decode_audio_full

    rate = 8000
    t = np.arange(2000) / rate
    x = 0.4 * np.sin(2 * np.pi * 220 * t)
    blob = encode_vorbis(x, rate, blocksizes=(256, 256))
    r, arr, bits = decode_audio_full(blob)
    assert (r, bits) == (rate, 16)
    assert arr.dtype == np.int16 and arr.shape == (2000, 1)
    assert _snr(x, arr[:, 0] / 32767.0) > 20


def test_audio_features_over_spark(spark, tmp_path):
    from intake_spark.llm import multimodal

    rate = 8000
    t = np.arange(2000) / rate
    (tmp_path / "a.ogg").write_bytes(
        encode_vorbis(0.4 * np.sin(2 * np.pi * 220 * t), rate,
                      blocksizes=(256, 256))
    )
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.ogg")
    rows = multimodal.audio_features(files).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row.sample_rate == rate and row.n_frames == 2000
    assert row.decoded == 1
    assert row.err is None


def test_to_ogg_sink_roundtrip(spark, tmp_path):
    """to_ogg writes a decodable OGG/Vorbis file from chunk rows."""
    from intake_spark import output

    rate = 8000
    t = np.arange(3000) / rate
    x = 0.4 * np.sin(2 * np.pi * 440 * t)
    rows = [(i, [float(v) for v in x[i : i + 500]])
            for i in range(0, 3000, 500)]
    df = spark.createDataFrame(rows, "offset0 long, values array<double>")
    url = str(tmp_path / "out.ogg")
    out = output.to_ogg(df, url, rate=rate, max_bytes=None)
    r, pcm = decode_vorbis(open(url, "rb").read())
    assert r == rate and pcm.shape[0] == 3000
    assert _snr(x, pcm[:, 0]) > 20


def test_encoder_rejects_out_of_range_params():
    """Review findings (r9): blocksizes beyond the 4-bit ID-header
    exponent range and out-of-range rates must fail LOUDLY at encode
    time, not silently truncate into a corrupt stream."""
    x = np.zeros(100)
    with pytest.raises(ValueError, match="blocksizes"):
        encode_vorbis(x, 8000, blocksizes=(65536, 65536))
    with pytest.raises(ValueError, match="blocksizes"):
        encode_vorbis(x, 8000, blocksizes=(256, 16384))
    with pytest.raises(ValueError, match="sample rate"):
        encode_vorbis(x, 0, blocksizes=(256, 256))


def test_decode_is_linear_not_quadratic():
    """The overlap-add accumulator is allocated once from the layout
    extent (review finding r9: per-packet np.vstack was O(packets^2)).
    A ~600-packet stream must decode in well under a second of pure
    accumulator work — timed loosely to catch a quadratic regression."""
    import time

    rate = 8000
    x = 0.1 * np.sin(np.arange(80_000) * 0.05)
    blob = encode_vorbis(x, rate, blocksizes=(256, 256))
    t0 = time.perf_counter()
    r, pcm = decode_vorbis(blob)
    dt = time.perf_counter() - t0
    assert pcm.shape[0] == 80_000
    assert dt < 30.0  # the quadratic version scales at ~packets^2


def test_coupled_stereo_roundtrip():
    """coupling=True ships residues as square-polar magnitude/angle —
    the decoder's inverse-coupling path now runs on a REAL stream, not
    just the transcription unit test; quality matches uncoupled."""
    rate = 16000
    t = np.arange(8000) / rate
    base = 0.5 * np.sin(2 * np.pi * 330 * t)
    x = np.stack([base, 0.9 * base + 0.05 * np.sin(2 * np.pi * 700 * t)],
                 axis=1)
    blob = encode_vorbis(x, rate, blocksizes=(256, 256), coupling=True)
    r, pcm = decode_vorbis(blob)
    assert pcm.shape == x.shape
    assert _snr(x, pcm) > 18
    # coupled + mixed block schedule (windows + coupling together)
    blob = encode_vorbis(x, rate, blocksizes=(256, 1024),
                         schedule=["s", "l", "l", "s"] * 8, coupling=True)
    r, pcm = decode_vorbis(blob)
    assert _snr(x, pcm) > 14
    with pytest.raises(ValueError, match="coupling"):
        encode_vorbis(x[:, :1], rate, coupling=True)


def test_setup_rejects_bad_coupling_and_mux():
    """Second-review finding (r9): coupling channel indices and mux →
    submap references validate at setup, not IndexError mid-packet."""
    from intake_spark.llm.vorbis import VorbisSetup, _build_headers

    id_pk, _c, setup_pk = _build_headers(8000, 2, 256, 256, coupling=True)
    # the coupled setup parses clean
    VorbisSetup(id_pk, setup_pk)
    # corrupt the coupling angle channel: with 2 channels the field is
    # 1 bit; flip the magnitude bit so mag == ang
    # (craft via the writer for robustness)
    # brute-force: flip single bits until the named error fires —
    # proves the validation exists without bit-offset bookkeeping
    hit = False
    for i in range(len(setup_pk) * 8):
        bad = bytearray(setup_pk)
        bad[i // 8] ^= 1 << (i % 8)
        try:
            VorbisSetup(id_pk, bytes(bad))
        except ValueError as e:
            if "coupling step references" in str(e) or \
                    "mux references" in str(e):
                hit = True
                break
        except Exception:
            continue
    assert hit
