"""LLM-pipeline operator semantics: LSH recall vs exact baselines,
dedup invariants, text-analysis sanity, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MEDIUM

from intake_spark.llm import dedup, multimodal, similarity, text
from intake_spark.llm import similarity as sim
from intake_spark.session import load_table


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_MEDIUM, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_MEDIUM, "embeddings").cache()


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """Banded MinHash-LSH must find (nearly) all true near-dup pairs.
    At 16 hashes / 8 bands (r=2), P[collide] = 1-(1-j^2)^8 ≈ 1.0 for j≥0.9."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs(docs, threshold=0.9).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_dedup_pairs(docs, num_hashes=16, bands=8, threshold=0.9).collect()
    }
    assert exact, "test data should contain planted near-dups"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95
    # verification step means no false positives above threshold
    assert lsh <= exact


def test_jaccard_stop_shingle_cap_bounds_candidates(spark):
    """A hot shingle shared by every doc must not explode the candidate
    set when max_shingle_df is active: pairs whose only overlap is the
    stop-shingle disappear, genuinely-similar pairs survive, and the
    denominators still use full shingle counts (capped jaccard is a lower
    bound of exact jaccard)."""
    hot = "the end of line"  # 4 tokens → contains 3-gram stop-shingles
    rows = [(i, f"unique{i} filler{i} token{i} " + hot) for i in range(40)]
    # two planted near-dups sharing real content
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta zeta")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = dedup.jaccard_pairs(docs, threshold=0.1)
    capped = dedup.jaccard_pairs(docs, threshold=0.1, max_shingle_df=10)
    # uncapped: the 40 hot docs pair quadratically (780 pairs)
    assert uncapped.count() > 700
    got = {(r.doc_a, r.doc_b): r.jaccard for r in capped.collect()}
    assert set(got) == {(100, 101)}
    # denominator unchanged: |A∩B|=2 of {3-grams}, |A|=|B|=3 → 2/4
    assert abs(got[(100, 101)] - 0.5) < 1e-12


def test_minhash_signature_stability(spark, docs):
    """Signatures are deterministic run-to-run (md5-derived, no RNG)."""
    s1 = dedup.minhash_signatures(docs, num_hashes=4).orderBy("doc_id").limit(5).collect()
    s2 = dedup.minhash_signatures(docs, num_hashes=4).orderBy("doc_id").limit(5).collect()
    assert s1 == s2


def test_simhash_near_dup_hamming(spark, docs):
    """Near-dup docs (jaccard≥0.9) should have small simhash Hamming
    distance; random pairs large. Checks the signal, not exact values."""
    pairs = dedup.jaccard_pairs(docs, threshold=0.9).collect()
    sims = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    near = [ham(sims[p.doc_a], sims[p.doc_b]) for p in pairs]
    assert sum(near) / len(near) <= 6
    far = [ham(sims[0], sims[i]) for i in range(100, 140) if i in sims]
    assert sum(far) / len(far) > sum(near) / len(near)


def test_exact_dedup(spark, docs):
    with_dup = docs.unionByName(docs.limit(10))
    out = dedup.exact_dedup(with_dup, subset=["doc_id"])
    assert out.count() == docs.count()


def test_lsh_ann_recall(spark, emb):
    """Banded hyperplane-LSH pairs vs brute-force cosine≥0.4 pairs at two
    band configs (the synthetic embeddings max out near 0.51 pairwise
    cosine, so 0.4 is the non-vacuous threshold for this corpus). More bands
    → strictly more candidate coverage → recall must not drop."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    assert exact, "threshold should be non-vacuous on the synthetic corpus"
    recalls = {}
    for bands, r_planes in [(2, 4), (8, 4)]:
        approx = {
            (r.id_a, r.id_b)
            for r in similarity.lsh_ann_pairs(
                emb, dim=64, bands=bands, planes_per_band=r_planes, threshold=0.4
            ).collect()
        }
        # verify stage is exact cosine: LSH can only miss pairs, never invent
        assert approx <= exact
        recalls[bands] = len(exact & approx) / len(exact)
    # 1 - (1 - (1-theta/pi)^4)^bands: each extra band only adds candidates
    assert recalls[2] > 0.05
    assert recalls[8] >= recalls[2]
    assert recalls[8] > 0.3


def test_embedding_near_dup_guard_trips(spark, emb):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_rows"):
        dedup.embedding_near_dup_pairs(emb, threshold=0.4, max_rows=10).count()
    # explicit opt-out still works
    assert dedup.embedding_near_dup_pairs(
        emb.limit(20), threshold=-1.0, max_rows=None
    ).count() == 20 * 19 // 2


def test_with_lsh_bucket_requires_dim(spark, emb):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim"):
        similarity.with_lsh_bucket(emb)
    with _pytest.raises(ValueError, match="dim"):
        similarity.with_lsh_bands(emb)


def test_knn_self_excluded_and_ranked(spark, emb):
    out = similarity.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 3), top_k=4).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        sims = [r.cosine for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert [r.rank for r in rows] == [1, 2, 3, 4]


def test_lang_id_prediction(spark, docs):
    out = text.with_lang_scores(docs).select("doc_id", "pred_lang").collect()
    assert all(r.pred_lang in text.LANG_ORDER for r in out)


def test_quality_metrics_bounds(spark, docs):
    out = text.with_quality(docs).select("uniq_ratio", "stopword_ratio", "punct_ratio").collect()
    for r in out:
        assert 0 <= r.uniq_ratio <= 1
        assert 0 <= r.stopword_ratio <= 1
        assert 0 <= r.punct_ratio <= 1


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "different")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.fingerprint for r in text.with_fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def test_multimodal_plumbing(spark, docs):
    sub = docs.limit(20).select("doc_id", "text")
    decoded = multimodal.fake_decode_meta(multimodal.binary_from_text(sub), keep_cols=["doc_id"])
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r.width <= 1920 and 1 <= r.height <= 1080 and 1 <= r.n_channels <= 4
        assert len(r.content_hash) == 32 and r.byte_len > 0


def test_multimodal_real_decoder_gated():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG fake")


def test_frame_sample_plan(spark, docs):
    sub = multimodal.binary_from_text(docs.limit(3).select("doc_id", "text"))
    frames = multimodal.frame_sample_plan(sub, every_n=2)
    assert frames.count() >= 3
    assert "frame_idx" in frames.columns


def test_binary_dir_reader(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"hello")
    (tmp_path / "b.bin").write_bytes(b"world!")
    df = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.bin")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 2 and {r.length for r in rows} == {5, 6}


def test_simhash_pairs_pigeonhole_exact(spark, docs):
    """Banding with max_hamming < bands guarantees FULL recall vs the
    brute-force hamming join — pigeonhole, not probabilistic."""
    from pyspark.sql import functions as F

    sample = docs.limit(120)
    banded = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_pairs(sample, bits=16, bands=8, max_hamming=3).collect()
    }
    sig = dedup.simhash(sample, bits=16)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= 3)
        .collect()
    }
    assert banded == brute
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(sample, bits=16, bands=4, max_hamming=4)


def _png_rgb_with_filters(rows_rgb, filters):
    """Hand-build an RGB PNG applying a given filter type per scanline
    (spec-encoded in the test, independent of the decoder)."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(rows_rgb, dtype=np.uint8)
    h, w, _ = arr.shape
    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.uint8)
    for y, ftype in zip(range(h), filters):
        line = arr[y].ravel().astype(np.int16)
        if ftype == 0:
            enc = line & 0xFF
        elif ftype == 1:  # Sub
            left = np.concatenate([np.zeros(3, dtype=np.int16), line[:-3]])
            enc = (line - left) & 0xFF
        elif ftype == 2:  # Up
            enc = (line - prev) & 0xFF
        elif ftype == 4:  # Paeth (left-predictor variant on first row basis)
            enc = np.empty(w * 3, dtype=np.int16)
            for x in range(w * 3):
                a = int(line[x - 3]) if x >= 3 else 0
                b = int(prev[x])
                c = int(prev[x - 3]) if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (line[x] - pred) & 0xFF
        raw += bytes([ftype]) + bytes(int(v) for v in enc)
        prev = line.astype(np.uint8)

    def chunk(tag, payload):
        body = tag + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(">I", zlib.crc32(body))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_filters():
    import numpy as np

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    blob = _png_rgb_with_filters(arr, filters=[0, 1, 2, 4])
    out = multimodal.decode_png(blob)
    np.testing.assert_array_equal(out, arr)


def test_wav_decode_roundtrip(spark, tmp_path):
    import numpy as np

    from intake_spark import datatypes as dt
    from intake_spark import output
    from intake_spark.arrays import NumpyArrayReader

    sig = np.cos(np.linspace(0, 3.0, 50)).astype("<f8")
    npy = str(tmp_path / "s.npy")
    np.save(npy, sig)
    chunks = NumpyArrayReader(data=dt.NumpyFile(url=npy)).read(spark=spark)
    wav = str(tmp_path / "s.wav")
    output.to_wav(chunks, wav, rate=4000)
    rate, arr = multimodal.decode_wav(open(wav, "rb").read())
    assert rate == 4000 and arr.shape == (50, 1)
    np.testing.assert_allclose(arr[:, 0] / 32767.0, sig, atol=1e-3)


def test_wav_decode_24bit(tmp_path):
    """24-bit PCM (sampwidth 3, common in audio corpora) sign-extends to
    int32 rather than raising KeyError; 3-byte samples round-trip."""
    import struct
    import wave

    import numpy as np

    samples = [0, 1, -1, 8388607, -8388608, 123456, -654321]
    p = tmp_path / "s24.wav"
    with wave.open(str(p), "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(48000)
        for s in samples:
            w.writeframes(struct.pack("<i", s)[:3])
    rate, arr = multimodal.decode_wav(p.read_bytes())
    assert rate == 48000 and arr.dtype == np.dtype("<i4")
    assert arr[:, 0].tolist() == samples


def test_image_features_end_to_end(spark, tmp_path):
    """binaryFile scan → REAL PNG decode/feature/resize in mapInPandas —
    the multimodal pipeline with zero media libraries."""
    import numpy as np

    rng = np.random.default_rng(3)
    for i in range(3):
        arr = rng.integers(0, 256, size=(16 + i, 12, 3), dtype=np.uint8)
        blob = _png_rgb_with_filters(arr, filters=[0] * (16 + i))
        (tmp_path / f"img{i}.png").write_bytes(blob)
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.png")
    feats = multimodal.image_features(files, keep_cols=["path"]).collect()
    assert len(feats) == 3
    for r in feats:
        assert r.width == 12 and r.n_channels == 3
        assert 0 <= r.mean_intensity <= 255
        assert len(r.thumb) == 64


def test_image_features_mixed_dir_lossy_fallback(spark, tmp_path):
    """A directory mixing decodable PNGs with gated lossy WebP must flow
    end-to-end: the lossy row carries the header-probe dims with
    decoded=0 and the gate message in err, not a job-killing raise."""
    import struct

    import numpy as np

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(10, 12, 3), dtype=np.uint8)
    (tmp_path / "ok.png").write_bytes(_png_rgb_with_filters(arr, filters=[0] * 10))
    # minimal lossy WebP: VP8 chunk, keyframe start code, 64x48 dims —
    # image_meta parses the dims; pixel decode is a named gate
    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 64, 48)
    lossy = b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8)) + b"WEBP" \
        + b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    (tmp_path / "lossy.webp").write_bytes(lossy)

    files = multimodal.read_binary_dir(spark, str(tmp_path))
    feats = {r.path.rsplit("/", 1)[-1]: r
             for r in multimodal.image_features(files, keep_cols=["path"]).collect()}
    ok = feats["ok.png"]
    assert ok.decoded == 1 and ok.width == 12 and ok.err is None
    lw = feats["lossy.webp"]
    assert lw.decoded == 0 and lw.width == 64 and lw.height == 48
    assert lw.img_format == "webp-lossy" and "lossy" in lw.err
    assert lw.mean_intensity is None and lw.thumb is None


def test_audio_features_mixed_dir_mp3_fallback(spark, tmp_path):
    """WAV + MP3 in one directory: the MP3 row falls back to the
    decode-free container probe (rate/channels/duration, decoded=0)."""
    import wave

    import numpy as np

    t = np.arange(8000) / 8000.0
    sine = (0.5 * np.sin(2 * np.pi * 220 * t) * 32767).astype("<i2")
    with wave.open(str(tmp_path / "a.wav"), "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(sine.tobytes())
    from tests.test_audio_meta import _mp3_frame_bytes

    (tmp_path / "b.mp3").write_bytes(_mp3_frame_bytes() * 10)

    files = multimodal.read_binary_dir(spark, str(tmp_path))
    feats = {r.path.rsplit("/", 1)[-1]: r
             for r in multimodal.audio_features(files, keep_cols=["path"]).collect()}
    a = feats["a.wav"]
    assert a.decoded == 1 and a.sample_rate == 8000 and a.err is None
    b = feats["b.mp3"]
    assert b.decoded == 0 and b.audio_format == "mp3"
    assert b.sample_rate == 44100 and b.n_channels == 2
    assert b.duration_s is not None and b.duration_s > 0
    assert b.rms is None and "MP3" in b.err


def test_hash_split_disjoint_exhaustive(spark, docs):
    from intake_spark.llm import sampling

    parts = sampling.hash_split(docs, "doc_id", [0.8, 0.1, 0.1])
    ids = [set(r.doc_id for r in p.select("doc_id").collect()) for p in parts]
    total = docs.count()
    assert sum(len(s) for s in ids) == total
    assert not (ids[0] & ids[1]) and not (ids[0] & ids[2]) and not (ids[1] & ids[2])
    # deterministic: same split again is identical
    again = sampling.hash_split(docs, "doc_id", [0.8, 0.1, 0.1])
    assert {r.doc_id for r in again[1].select("doc_id").collect()} == ids[1]
    # a different salt reshuffles membership
    other = sampling.hash_sample(docs, "doc_id", 0.8, salt="v2")
    assert {r.doc_id for r in other.select("doc_id").collect()} != ids[0]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        sampling.hash_split(docs, "doc_id", [0.5, 0.1])


def test_sampling_plan_is_scan_filter(spark, docs):
    """hash_sample must stay a mapper-only filter — no shuffle, no UDF."""
    from intake_spark.llm import sampling

    plan = sampling.hash_sample(docs, "doc_id", 0.3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # JVM-side expressions only


def test_lsh_joins_are_equi_not_cartesian(spark, emb, docs):
    """Banded LSH candidate generation must plan as shuffle/broadcast hash
    joins on band keys — never a cartesian product."""
    from intake_spark.llm import dedup as dd

    for df in (
        similarity.lsh_ann_pairs(emb, dim=64, bands=2, planes_per_band=4, threshold=0.4),
        dd.simhash_pairs(docs.limit(200), bits=32, bands=4, max_hamming=3),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_distinct_accuracy(spark):
    """KMV estimate within the 1/sqrt(k) error class of the exact count;
    small groups exact by construction."""
    from intake_spark.llm.sketches import kmv_distinct
    from tests.conftest import SF_MEDIUM

    ev = load_table(spark, SF_MEDIUM, "events")
    est = {r.event_type: r.est_distinct for r in kmv_distinct(ev, "event_type", "user_id", k=64).collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for t, e in exact.items():
        if e < 64:
            assert est[t] == e  # exact below k
        else:
            assert abs(est[t] - e) / e < 0.35  # ~3 sigma at k=64
    # tiny-group exactness
    small = ev.limit(40)
    got = {r.event_type: (r.est_distinct, r.n_hashes) for r in
           kmv_distinct(small, "event_type", "user_id", k=64).collect()}
    ex = {r.event_type: r.n for r in
          small.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    for t, n in ex.items():
        assert got[t][0] == float(n)


def test_simhash_pairs_rejects_degenerate_bands(spark, docs):
    # r = bits//bands == 0 would put every doc in one bucket (all-pairs)
    with pytest.raises(ValueError, match="r=0|divide"):
        dedup.simhash_pairs(docs, bits=16, bands=32, max_hamming=3)
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_pairs(docs, bits=20, bands=8, max_hamming=3)


def test_chunk_documents_boundaries(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(95))), (2, "solo")],
        "doc_id int, text string",
    )
    out = text.chunk_documents(docs, window=50, stride=40).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts at words 1, 41, 81 → chunks of 50, 50, 15 words
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.n_words for r in c1] == [50, 50, 15]
    assert c1[0].chunk_text.startswith("w0 ") and c1[1].chunk_text.startswith("w40 ")
    # overlap: chunk 0 ends at w49, chunk 1 starts at w40
    assert c1[0].chunk_text.endswith(" w49")
    # doc 2: one word → one chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_words == 1


def test_repetition_stats_values(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w")], "doc_id int, text string"
    )
    out = {r.doc_id: r for r in text.repetition_stats(docs, n=2).collect()}
    # doc 1 bigrams: ab, ba, ab, ba → 4 total, 2 distinct
    assert out[1].n_ngrams == 4 and out[1].n_distinct == 2
    assert abs(out[1].dup_ratio - 0.5) < 1e-9
    assert out[2].dup_ratio == 0.0


def test_scrub_patterns(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com or call 555-123-4567 now"),
            (2, "server at 192.168.1.10 is fine"),
            (3, "nothing sensitive here"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in text.scrub_patterns(docs).collect()}
    assert "<EMAIL>" in out[1].text and "<NUMBER>" in out[1].text
    assert "bob@" not in out[1].text and "4567" not in out[1].text
    assert out[1].n_redactions == 2
    assert "<IP>" in out[2].text and out[2].n_redactions == 1
    assert out[3].text == "nothing sensitive here" and out[3].n_redactions == 0


def test_audio_features_end_to_end(spark, tmp_path):
    """binaryFile scan → REAL WAV decode → audio-QA features, no audio
    libraries: known sine/constant signals give exact rate/duration and
    tight RMS/peak/zero-cross values."""
    import struct
    import wave

    import numpy as np

    # 1 s of 440 Hz sine at 16 kHz, 16-bit mono, amplitude 0.5
    t = np.arange(16000) / 16000.0
    sine = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
    with wave.open(str(tmp_path / "sine.wav"), "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(sine.tobytes())
    # stereo 24-bit constant positive signal: zero crossings = 0
    with wave.open(str(tmp_path / "const.wav"), "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(3)
        w.setframerate(8000)
        for _ in range(800):
            w.writeframes(struct.pack("<i", 4194304)[:3] * 2)

    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.wav")
    feats = {r.path.rsplit("/", 1)[-1]: r for r in multimodal.audio_features(files, keep_cols=["path"]).collect()}
    s = feats["sine.wav"]
    assert s.sample_rate == 16000 and s.n_channels == 1 and s.n_frames == 16000
    assert abs(s.duration_s - 1.0) < 1e-9
    assert abs(s.rms - 0.5 / np.sqrt(2)) < 0.01  # sine RMS = A/sqrt(2)
    assert abs(s.peak - 0.5) < 0.01
    assert abs(s.zero_cross_rate - 2 * 440 / 16000) < 0.005
    c = feats["const.wav"]
    assert c.sample_rate == 8000 and c.n_channels == 2 and c.n_frames == 800
    assert c.zero_cross_rate == 0.0
    # 24-bit full scale is 2^23: 4194304 = 2^22 -> peak exactly 0.5, the
    # same level as a half-scale 16-bit signal (cross-width comparability)
    assert abs(c.peak - 0.5) < 1e-9


def test_decontaminate_flags_planted_overlap(spark, docs):
    """A doc sharing >= min_overlap shingles with the benchmark is flagged;
    the benchmark's own docs never appear in the output."""
    from intake_spark.llm import assembly

    train, bench = assembly.bench_split(docs, fraction=0.1)
    out = assembly.decontaminate(train, bench, min_overlap=1)
    n_train = train.count()
    assert out.count() == n_train  # every train doc scored, flagged or not
    bench_ids = {r.doc_id for r in bench.select("doc_id").collect()}
    assert not bench_ids & {r.doc_id for r in out.collect()}
    # a verbatim copy of a benchmark doc must be flagged
    copy = bench.limit(1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    flagged = assembly.decontaminate(train.unionByName(copy), bench, min_overlap=1)
    row = flagged.filter(F.col("doc_id") >= 10_000_000).collect()[0]
    assert row.contaminated and row.n_overlap > 0


def test_pack_sequences_prefix_sum_semantics(spark, docs):
    """pack_offset/pack_id follow the running token sum within each
    (source, shard) in doc_id order; offsets stay within capacity."""
    from intake_spark.llm import assembly

    cap = 100
    out = assembly.pack_sequences(docs, capacity=cap, shards=2).collect()
    assert all(0 <= r.pack_offset < cap for r in out)
    by_grp = {}
    for r in sorted(out, key=lambda r: (r.source, r.shard, r.doc_id)):
        cum = by_grp.get((r.source, r.shard), 0)
        assert r.pack_id == cum // cap and r.pack_offset == cum % cap, r
        by_grp[(r.source, r.shard)] = cum + r.n_tokens


def test_random_projection_preserves_cluster_structure(spark):
    """JL property on controlled data: two well-separated clusters stay
    separated after 64 -> 16 projection, and the +-1 sign projection is
    unbiased (E[||P(a-b)||^2] = out_dim * ||a-b||^2)."""
    import numpy as np

    from intake_spark.llm import similarity as sim

    rng = np.random.RandomState(7)
    base_a, base_b = rng.randn(64), rng.randn(64) + 6.0
    rows = []
    for i in range(30):
        center = base_a if i % 2 == 0 else base_b
        rows.append((i, (center + 0.1 * rng.randn(64)).tolist()))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out_dim = 16
    got = sim.random_projection(df, dim=64, out_dim=out_dim).collect()
    vecs = {r.vec_id: np.array(r.embedding) for r in got}
    projs = {r.vec_id: np.array([r[f"proj{j}"] for j in range(out_dim)]) for r in got}
    d_orig, d_proj, same = [], [], []
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d_orig.append(float(np.sum((vecs[a] - vecs[b]) ** 2)))
            d_proj.append(float(np.sum((projs[a] - projs[b]) ** 2)))
            same.append(a % 2 == b % 2)
    d_orig, d_proj, same = np.array(d_orig), np.array(d_proj), np.array(same)
    ratio = np.mean(d_proj) / (out_dim * np.mean(d_orig))
    assert 0.6 < ratio < 1.6, ratio
    # every cross-cluster projected distance exceeds every within-cluster one
    assert d_proj[~same].min() > d_proj[same].max()


def test_column_profile_values(spark):
    """Profile stats match hand-computed values on a tiny frame, including
    exact interpolated quartiles and null accounting."""
    from intake_spark.llm.sketches import column_profile

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", None), ("b", 10)],
        "g string, v int",
    )
    out = {r.g: r for r in column_profile(df, "g", "v").collect()}
    a = out["a"]
    assert (a.n_rows, a.n_null, a.n_distinct, a.min_v, a.max_v) == (5, 1, 4, 1, 4)
    assert (a.p25, a.p50, a.p75) == (1.75, 2.5, 3.25)  # nulls excluded, n=4
    b = out["b"]
    assert (b.p25, b.p50, b.p75) == (10.0, 10.0, 10.0)


def test_containment_catches_snippet_jaccard_misses(spark):
    """A short doc fully contained in a long doc: containment ~= 1 while
    Jaccard stays low — the asymmetric pass finds what q22's cannot."""
    from intake_spark.llm import dedup as dd

    snippet = " ".join(f"w{i}" for i in range(10))
    long_doc = snippet + " " + " ".join(f"x{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, long_doc), (2, snippet)], "doc_id long, text string"
    )
    cont = dd.containment_pairs(df, threshold=0.9).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r.doc_outer, r.doc_inner) == (1, 2) and r.containment == 1.0
    jac = dd.jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # union-diluted: 8/208 << 0.5


def test_novel_ngram_rate_separates_gibberish_from_boilerplate(spark):
    from intake_spark.llm import text as tx

    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in range(5)]  # boilerplate: shared bigrams
    rows.append((99, "zq8 vvk1 pla9 wd0x brr7 nn3m"))  # gibberish: unique
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.novel_rate for r in tx.novel_ngram_rate(df).collect()}
    assert got[99] == 1.0
    assert all(got[i] == 0.0 for i in range(5))


def test_length_histogram_bins(spark):
    from intake_spark.llm import text as tx

    df = spark.createDataFrame(
        [("a", "x"), ("a", " ".join(["y"] * 17)), ("a", " ".join(["z"] * 16))],
        "source string, text string",
    )
    got = {(r.source, r.bin_lo): r.n_docs for r in tx.length_histogram(df).collect()}
    assert got == {("a", 0): 1, ("a", 16): 2}


def test_decontaminate_broadcasts_benchmark(spark, docs):
    """The benchmark shingle set must ride the broadcast side: the corpus
    never shuffles for the overlap join (the scale contract)."""
    from intake_spark.llm import assembly

    train, bench = assembly.bench_split(docs, fraction=0.05)
    plan = (
        assembly.decontaminate(train, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # corpus-side shingles reach the broadcast join without an Exchange
    # before it (only the per-doc count aggregate shuffles, on the id)
    assert plan.count("Exchange hashpartitioning") <= 3


def test_pack_sequences_single_window_exchange(spark, docs):
    """Packing is one window pass: exactly one hash Exchange (on the
    group/shard key) and zero Python stages."""
    from intake_spark.llm import assembly

    plan = (
        assembly.pack_sequences(docs, capacity=256, shards=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def _make_bmp24(arr):
    """Bottom-up 24-bit BI_RGB BMP from an (H, W, 3) RGB array, spec-built."""
    import struct

    import numpy as np

    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    rows = b""
    for y in range(h - 1, -1, -1):
        row = arr[y][:, [2, 1, 0]].astype(np.uint8).tobytes()  # RGB→BGR
        rows += row + b"\x00" * (stride - len(row))
    data_off = 14 + 40
    total = data_off + len(rows)
    head = b"BM" + struct.pack("<IHHI", total, 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return head + info + rows


def test_bmp_decode_pixels_and_features(spark, tmp_path):
    import numpy as np

    rng = np.random.RandomState(5)
    arr = rng.randint(0, 256, (5, 3, 3), dtype=np.uint8)
    blob = _make_bmp24(arr)
    got = multimodal.decode_bmp(blob)
    np.testing.assert_array_equal(got, arr)
    assert multimodal.decode_image(blob).shape == (5, 3, 3)
    (tmp_path / "i.bmp").write_bytes(blob)
    files = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.bmp")
    row = multimodal.image_features(files, keep_cols=["path"]).collect()[0]
    assert (row.width, row.height, row.n_channels) == (3, 5, 3)


def test_bmp_palettized_8bit():
    import struct

    import numpy as np

    # 2x2 indexed image with a 2-entry palette (red, blue)
    pal = struct.pack("<BBBB", 0, 0, 255, 0) + struct.pack("<BBBB", 255, 0, 0, 0)
    rows = bytes([0, 1, 0, 0]) + bytes([1, 0, 0, 0])  # stride-padded, bottom-up
    data_off = 14 + 40 + len(pal)
    head = b"BM" + struct.pack("<IHHI", data_off + len(rows), 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, len(rows), 0, 0, 2, 0)
    got = multimodal.decode_bmp(head + info + pal + rows)
    red, blue = [255, 0, 0], [0, 0, 255]
    np.testing.assert_array_equal(got[0], [blue, red])  # top row was written last
    np.testing.assert_array_equal(got[1], [red, blue])


def test_quantize_embeddings_reconstruction(spark, emb):
    """Dequantized vectors reconstruct cosine within the int8 error class,
    and qvec stays in the int8 range."""
    import numpy as np

    from intake_spark.llm import similarity as sim

    rows = sim.quantize_embeddings(emb.limit(50), id_cols=("vec_id",)).collect()
    orig = {r.vec_id: np.array(r.embedding) for r in emb.limit(50).collect()}
    for r in rows:
        q = np.array(r.qvec)
        assert q.min() >= -128 and q.max() <= 127
        deq = q * r.scale / 127.0
        v = orig[r.vec_id]
        cos = float(v @ deq / (np.linalg.norm(v) * np.linalg.norm(deq)))
        assert cos > 0.999, (r.vec_id, cos)


def test_quantize_embeddings_zero_vector(spark):
    """An all-zero vector has scale 0; x/0 is NULL under non-ANSI division,
    so the guard must emit an all-zero qvec instead of NULLs."""
    from intake_spark.llm import similarity as sim

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [0.5, -1.0, 0.25])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in sim.quantize_embeddings(df, id_cols=("vec_id",)).collect()}
    assert rows[1].scale == 0.0
    assert rows[1].qvec == [0, 0, 0]
    assert rows[2].qvec == [63, -127, 31]  # floor(x/scale*127)


def test_top_k_per_group_deterministic(spark):
    from intake_spark.llm import sampling as smp

    df = spark.createDataFrame(
        [(i, "g" + str(i % 2), i * 7 % 5) for i in range(10)],
        "doc_id long, source string, score long",
    )
    out = smp.top_k_per_group(df, "source", [F.desc("score"), F.asc("doc_id")], k=2)
    rows = sorted((r.source, r.doc_id) for r in out.collect())
    # g0: scores doc0:0 doc2:4 doc4:3 doc6:2 doc8:1 -> top2 = doc2, doc4
    # g1: doc1:2 doc3:1 doc5:0 doc7:4 doc9:3 -> doc7, doc9
    assert rows == [("g0", 2), ("g0", 4), ("g1", 7), ("g1", 9)]
    assert "_rk" not in out.columns


def test_dup_rate_by_source_counts(spark):
    from intake_spark.llm import dedup as dd

    df = spark.createDataFrame(
        [(1, "aaa", "s1"), (2, "aaa", "s2"), (3, "bbb", "s1"), (4, "ccc", "s2")],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in dd.dup_rate_by_source(df).collect()}
    assert rows["s1"].n_docs == 2 and rows["s1"].n_dup_docs == 1  # cross-source dup
    assert rows["s2"].n_docs == 2 and rows["s2"].n_dup_docs == 1
    assert rows["s1"].dup_rate_r == 0.5


def test_token_probability_scores_exact(spark):
    from intake_spark.llm import text as tx

    # corpus: 4 tokens total; 'a' p=0.5, 'b' p=0.25, 'c' p=0.25
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in tx.token_probability_scores(df).collect()}
    assert rows[1].n_tokens == 3
    assert abs(rows[1].commonness_r - round((0.5 + 0.5 + 0.25) / 3, 6)) < 1e-9
    assert rows[2].commonness_r == 0.25


def test_vocab_coverage_broadcast_plan(spark):
    from intake_spark.llm import text as tx

    df = spark.createDataFrame(
        [(1, "a b x"), (2, "a a a"), (3, "a b c")], "doc_id long, text string"
    )
    out = tx.vocab_coverage(df, top_n=2)  # vocab = {a, b}
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_in_vocab == 2 and rows[1].n_distinct == 3
    assert rows[2].coverage_r == 1.0
    assert rows[3].n_in_vocab == 2
    # the vocab side must broadcast, not shuffle-join the corpus
    assert "BroadcastNestedLoopJoin" in out._jdf.queryExecution().executedPlan().toString() or \
           "BroadcastExchange" in out._jdf.queryExecution().executedPlan().toString()


def test_block_dup_stats_fixture(spark):
    """Two docs share one 3-word block; one doc repeats its own block."""
    from intake_spark.llm import dedup as dd

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # blocks: [a b c], [d e f]
            (2, "a b c x y z"),          # shares [a b c] with doc 1
            (3, "p q r p q r"),          # same block twice WITHIN one doc
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dd.block_dup_stats(df, block_words=3).collect()}
    assert rows[1].n_blocks == 2 and rows[1].n_dup_blocks == 1
    assert rows[1].dup_block_rate == 0.5
    assert rows[2].n_dup_blocks == 1
    # intra-doc repetition counts as dup on both occurrences
    assert rows[3].n_blocks == 2 and rows[3].n_dup_blocks == 2
    assert rows[3].dup_block_rate == 1.0


def test_block_dup_trailing_partial_block(spark):
    from intake_spark.llm import dedup as dd

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    rows = dd.block_dup_stats(df, block_words=3).collect()
    # blocks: [a b c] and the trailing partial [d]
    assert rows[0].n_blocks == 2 and rows[0].n_dup_blocks == 0


def test_source_overlap_counts_and_jaccard(spark):
    from intake_spark.llm import dedup as dd

    df = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),   # s1 shingles: {a b c, b c d}
            (2, "a b c", "s2"),     # s2 shingles: {a b c}
            (3, "x y z", "s3"),     # s3 disjoint
        ],
        "doc_id long, text string, source string",
    )
    out = dd.source_overlap(df, k=3).collect()
    pairs = {(r.source_a, r.source_b): r for r in out}
    assert set(pairs) == {("s1", "s2")}  # disjoint pairs emit no row
    r = pairs[("s1", "s2")]
    assert r.n_overlap == 1 and r.n_a == 2 and r.n_b == 1
    assert r.jaccard_r == 0.5


def test_distinctive_terms_ranking(spark):
    """Term unique to one doc outranks a corpus-common term with equal tf."""
    from intake_spark.llm import text as tx

    df = spark.createDataFrame(
        [(1, "rare common common"), (2, "common other"), (3, "common also")],
        "doc_id long, text string",
    )
    out = tx.distinctive_terms(df, k=2).collect()
    d1 = sorted([r for r in out if r.doc_id == 1], key=lambda r: r.rk)
    # doc1: 'rare' df=1 score=1e12; 'common' tf=2 df=3 score=2*floor(1e12/3)
    assert [r.tok for r in d1] == ["rare", "common"]
    assert d1[0].score == 10 ** 12
    assert d1[1].score == 2 * (10 ** 12 // 3)


def test_char_diversity_values_and_plan(spark):
    from intake_spark.llm import text as tx

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "")], "doc_id long, text string"
    )
    out = tx.char_diversity(df)
    rows = {r.doc_id: r for r in out.collect()}
    assert 3 not in rows  # empty text filtered, no 0/0
    assert rows[1].gini_r == 0.0 and rows[1].n_distinct_chars == 1
    assert rows[2].gini_r == 0.5 and rows[2].n_chars == 2
    # mapper-only: no shuffle at any scale
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sample_k_per_group_exact_count_and_stability(spark, docs):
    from intake_spark.llm import sampling as smp

    out = smp.sample_k_per_group(docs, "source", k=4, salt="t")
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    full = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for src, n in counts.items():
        assert n == min(4, full[src])
    # deterministic under repartitioning
    ids1 = sorted(r.doc_id for r in out.collect())
    out2 = smp.sample_k_per_group(docs.repartition(7), "source", k=4, salt="t")
    assert sorted(r.doc_id for r in out2.collect()) == ids1


def test_packing_efficiency_values(spark):
    from intake_spark.llm import assembly as asm

    df = spark.createDataFrame(
        [(i, "s1", "w " * 9 + "w") for i in range(1, 4)],  # 10 tokens each
        "doc_id long, source string, text string",
    )
    packed = asm.pack_sequences(df, capacity=16, shards=1)
    out = asm.packing_efficiency(packed, capacity=16).collect()
    assert len(out) == 1
    r = out[0]
    # 30 tokens / capacity 16 -> 2 packs, fill 30/32
    assert r.n_docs == 3 and r.total_tokens == 30 and r.n_packs == 2
    assert r.fill_r == round(30 / 32, 6)


def test_packing_efficiency_rejects_bad_capacity(spark):
    from intake_spark.llm import assembly as asm

    df = spark.createDataFrame([(1, "s", "a")], "doc_id long, source string, text string")
    with pytest.raises(ValueError):
        asm.packing_efficiency(asm.pack_sequences(df, capacity=4), capacity=0)


def test_pagerank_path_graph_exact(spark):
    """Path graph 1-2-3: hand-unrolled 3-iteration fixed-point values."""
    from intake_spark.llm import graph

    edges = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    rows = {r.id: r for r in graph.pagerank(edges, iterations=3).collect()}
    assert rows[2].deg == 2 and rows[1].deg == 1
    # iter1: r2=1.85e12, r1=r3=5.75e11; iter2: r2=1.1275e12,
    # r1=r3=9.3625e11; iter3 below
    assert rows[2].rank_fx == 1_741_625_000_000
    assert rows[1].rank_fx == 629_187_500_000
    assert rows[3].rank_fx == rows[1].rank_fx
    assert rows[2].rank_r == 1.741625


def test_pagerank_rejects_negative_iterations(spark):
    from intake_spark.llm import graph

    edges = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError):
        graph.pagerank(edges, iterations=-1)


def test_new_operator_plan_shapes(spark, docs):
    """Exchange budgets for the session-2 operators: these plans are the
    scale contract — a regression that adds a corpus-wide shuffle shows
    up here, not at 100 TB."""
    from intake_spark.llm import dedup as dd
    from intake_spark.llm import text as tx

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning"), plan

    # signatures: mapper-only — ZERO keyed exchanges. A single
    # ROUND-ROBIN balancing exchange is allowed: spread_small_scan
    # rebalances an under-split input (one parquet row group = one
    # task doing all the md5/fold work) and is a no-op on well-split
    # inputs, so the scale contract — nothing is ever shuffled BY KEY
    # to compute a signature — is unchanged.
    n, plan = exchanges(dd.minhash_signatures(docs, num_hashes=16))
    assert n == 0
    assert plan.count("Exchange") <= plan.count("RoundRobinPartitioning")
    # block dedup: digest count + doc rollup (broadcast join adds none)
    n, _ = exchanges(dd.block_dup_stats(docs))
    assert n <= 3
    # distinctive terms: tf agg + df agg + doc rank window; the df table
    # must reach the join as a broadcast
    out = tx.distinctive_terms(docs, k=3)
    n, plan = exchanges(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert n <= 4
    # first-seen guard: band-key aggregate + join back + doc rollup
    n, _ = exchanges(dd.near_dup_first_seen(docs))
    assert n <= 4


def test_vocab_coverage_plan_no_global_window(docs):
    """The corpus top-N vocab must lower to TakeOrderedAndProject
    (per-partition heaps + driver merge), never a one-task global
    row_number window over the whole distinct-token table — an open-ended
    vocabulary (URLs, code ids) would otherwise serialize onto one task."""
    plan = (
        text.vocab_coverage(docs, top_n=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "row_number" not in plan


def test_winnowing_guarantee_and_candidates(spark):
    """The winnowing guarantee (SIGMOD'03): any exact shared token span of
    length >= window+k-1 forces at least one shared fingerprint — so the
    planted near-dup pair must surface in winnow_candidates, and unrelated
    docs with no shared 3-grams must not."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"intro words {shared} tail one"),
        (2, f"other lead {shared} different ending"),
        (3, "completely unrelated text with nothing common here at all"),
        (4, "a second unrelated document of plain filler words entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    fp = dedup.winnow_fingerprints(docs, k=3, window=4)
    by_doc = {
        r.doc_id: set()
        for r in docs.collect()
    }
    for r in fp.collect():
        by_doc[r.doc_id].add(r.fingerprint)
    # shared span of 8 words >= 4+3-1=6 -> guaranteed common fingerprint
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[3] & by_doc[1])
    cands = {(r.id_a, r.id_b) for r in
             dedup.winnow_candidates(docs, min_shared=1).collect()}
    assert (1, 2) in cands
    assert (3, 4) not in cands
    # compression: picks are a strict subset of the k-gram set
    n_grams = docs.selectExpr(
        "size(split(text, ' ')) - 2 as n"
    ).groupBy().sum("n").first()[0]
    assert fp.count() < n_grams


def test_bigram_stats_counts_exact(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")], "doc_id int, text string"
    )
    rows = {(r.w1, r.w2): r for r in text.bigram_stats(docs, top_n=3).collect()}
    ab = rows[("a", "b")]
    assert ab.n_ab == 3          # 'a b' twice in doc1, once in doc2
    assert ab.n_a == 3 and ab.n_b == 3  # unigram marginals corpus-wide
    assert rows[("b", "a")].n_ab == 1
    plan_df = text.bigram_stats(docs, top_n=3)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "BroadcastHashJoin" in plan


def test_winnow_hot_fingerprint_cap(spark):
    """Boilerplate spans shared by many docs must be droppable via
    max_fingerprint_df (stop-fingerprints) without losing genuine pairs."""
    boiler = "standard license header text common to every document here"
    rows = [(i, f"{boiler} unique{i} filler{i} words{i} extra{i} pad{i} tail{i}")
            for i in range(1, 9)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta one"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta theta two"))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    # uncapped: the boilerplate links all 8 docs pairwise (28 pairs) + the pair
    full = dedup.winnow_candidates(docs, min_shared=1, max_fingerprint_df=None)
    assert full.count() >= 28
    # capped below 8: boilerplate fingerprints dropped; genuine pair survives
    capped = {(r.id_a, r.id_b) for r in
              dedup.winnow_candidates(docs, min_shared=1, max_fingerprint_df=5).collect()}
    assert (100, 101) in capped
    assert all(a not in range(1, 9) or b not in range(1, 9) for a, b in capped)


def test_seeded_clusters_assignment_and_plan(spark):
    """Known-geometry assignment: vectors near axis e0 go to the e0 seed,
    near e1 to the e1 seed; ties break to the LOWEST seed id. And the
    assignment projection itself is shuffle-free (the SemDeDup scale
    contract: centroid map = per-row expression, no Exchange)."""
    rows = [
        (0, [1.0, 0.0, 0.0]),   # seed 0
        (1, [0.0, 1.0, 0.0]),   # seed 1
        (2, [0.9, 0.1, 0.0]),   # -> cluster 0
        (3, [0.1, 0.9, 0.0]),   # -> cluster 1
        (4, [0.0, 0.0, 1.0]),   # orthogonal to both: cos ties at 0 -> seed 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.seeded_clusters(df, n_seeds=2)
    got = {r.vec_id: r.cluster_id for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 1, 4: 0}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _seeded_reference(vecs, seeds):
    """Python replay of seeded_clusters: left-fold dot and norms, cos =
    dot / sqrt(n2 * sn2), or -2.0 when n2 * sn2 is not > 0 (a zero norm,
    also times an overflowed one: 0 * inf is NaN) or the cosine is NaN
    (inf / inf against an overflowed seed), argmax with ties to the
    lowest seed id."""
    import math

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    out = {}
    for vid, v in vecs:
        n2 = fold(x * x for x in v)
        best = None
        for sid, sv in seeds:
            denom = n2 * fold(x * x for x in sv)
            c = (fold(a * b for a, b in zip(v, sv)) / math.sqrt(denom)
                 if denom > 0 else -2.0)
            key = (-2.0 if math.isnan(c) else c, -sid)
            if best is None or key > best:
                best = key
        out[vid] = -best[1]
    return out


def test_seeded_clusters_exact_seed_literals(spark):
    """Seed coordinates enter the plan as SQL literals that parse back
    bit-identical: -0.0, the smallest subnormal, the largest double,
    0.1, 1/3 and one-ulp neighbours assign exactly as the Python
    replay does, zero-norm and overflowing seeds included."""
    import math
    import random

    third = 1 / 3
    up = math.nextafter
    seeds = [
        (3, [0.1, third, -0.0, 0.5]),
        (7, [up(0.1, 1.0), third, -0.0, 0.5]),
        (1, [0.1, up(third, 0.0), 0.0, 0.5]),
        (4, [5e-324, -0.0, 5e-324, 0.0]),       # sn2 underflows to 0
        (9, [1.7976931348623157e308, 0.1, 0.0, third]),  # sn2 overflows
        (2, [-0.1, -third, 0.25, -0.0]),
    ]
    rng = random.Random(11)
    vecs = [(i, [rng.choice([0.1, third, -0.0, 0.5, 5e-324])
                 * rng.choice([1.0, -1.0, 3.0]) for _ in range(4)])
            for i in range(60)]
    vecs += [(100, [0.1, third, -0.0, 0.5]), (101, [0.0, 0.0, 0.0, 0.0]),
             (102, [up(0.1, 1.0), third, 0.0, 0.5])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cluster_id
           for r in sim.seeded_clusters(df, seeds=seeds).collect()}
    assert got == _seeded_reference(vecs, seeds)
    assert got[101] == 1  # the zero vector: cos -2.0 everywhere, lowest id
    # inf / sqrt(inf) against the overflowing seed 9 is NaN, not a win
    assert [got[v] for v in (0, 48, 56)] == [1, 1, 1]


def test_seeded_clusters_build_py4j_budget(spark):
    """One seeded_clusters build over 8 seeds x 64 dims sends a bounded
    number of py4j commands: the argmax is one SQL expression, not a
    Column call per seed coordinate (~4,000 commands that way)."""
    import random

    rng = random.Random(5)
    df = spark.createDataFrame(
        [(i, [rng.random() for _ in range(64)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    seeds = [(i, [rng.random() for _ in range(64)]) for i in range(8)]
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        sim.seeded_clusters(df, seeds=seeds)
    finally:
        del client.send_command
    assert sent[0] <= 400


def test_semantic_dedup_matches_bruteforce(spark, emb):
    """Cluster-then-compare must equal brute force *restricted to
    co-clustered pairs* — and every pair it emits is a true >=threshold
    pair (no false positives ever; recall loss only across cluster
    boundaries, which is the documented SemDeDup trade)."""
    import numpy as np

    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf.vec_id.to_numpy()
    m = np.array([np.array(v, dtype="float64") for v in pdf.embedding])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T

    out = sim.semantic_dedup_pairs(emb, n_seeds=8, threshold=0.3)
    got = {(r.id_a, r.id_b): r.cosine for r in out.collect()}
    assert len(got) > 0
    idx = {v: i for i, v in enumerate(ids)}
    for (a, b), c in got.items():
        assert sims[idx[a], idx[b]] >= 0.3 - 1e-9
        assert abs(sims[idx[a], idx[b]] - c) < 1e-9

    # recall within clusters is total: rebuild the assignment and check
    # every co-clustered >=0.3 pair was emitted
    assigned = {r.vec_id: r.cluster_id for r in
                sim.seeded_clusters(emb, n_seeds=8).collect()}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if assigned[ids[i]] == assigned[ids[j]] and sims[i, j] >= 0.3 + 1e-9:
                assert (ids[i], ids[j]) in got


def test_cluster_balanced_sample_cap_and_stability(spark, emb):
    """Per-cluster cap respected; the kept id set is identical under a
    different partitioning (md5-of-id order has no partition dependence)."""
    kept = sim.cluster_balanced_sample(emb, n_seeds=8, cap=10)
    pdf = kept.groupBy("cluster_id").count().toPandas()
    assert (pdf["count"] <= 10).all()
    ids1 = sorted(r.vec_id for r in kept.select("vec_id").collect())
    kept2 = sim.cluster_balanced_sample(emb.repartition(7), n_seeds=8, cap=10)
    ids2 = sorted(r.vec_id for r in kept2.select("vec_id").collect())
    assert ids1 == ids2


def _py_bpe_reference(texts, n_merges):
    """Pure-Python replay of Sennrich-style BPE on word frequencies:
    the independent oracle for the distributed trainer."""
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split(" ") if w)
    segs = {w: list(w) + ["</w>"] for w in wc}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, n in wc.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        # deterministic tie-break: count desc, then lexicographically
        # smallest (left, right)
        bc = max(pc.values())
        cands = sorted(p for p, c in pc.items() if c == bc)
        left, right = cands[0]
        if pc[(left, right)] < 2:
            break
        merges.append((rank, left, right, pc[(left, right)]))
        for w in segs:
            s, out = segs[w], []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            segs[w] = out
    return merges, segs


def test_bpe_learn_matches_python_reference(spark):
    from intake_spark.llm import bpe

    texts = [
        "low lower lowest low low",
        "new newer newest new new new",
        "wide wider widest wide",
        "low new wide lowest newest",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = bpe.learn_bpe_merges(df, n_merges=6)
    want, segs = _py_bpe_reference(texts, 6)
    assert got == want

    # application agrees with the reference segmentation, per word
    wc = bpe.word_counts(df)
    seg = {r.word: list(r.pieces) for r in bpe.bpe_segment_vocab(wc, got).collect()}
    assert seg == {w: s for w, s in segs.items()}

    # doc-level piece counts line up too
    out = {r.doc_id: r.n_bpe_pieces for r in bpe.apply_bpe(df, got).collect()}
    want_counts = {
        i: sum(len(segs[w]) for w in t.split(" ") if w) for i, t in enumerate(texts)
    }
    assert out == want_counts


def test_bpe_oracle_sql_matches_python_reference():
    """The unrolled-CTE DuckDB oracle (q88) reproduces the Sennrich replay
    exactly — including the overlap case (consecutive identical pairs) and
    boundary safety (pair must not match inside a merged symbol) — and the
    bracket separators it relies on are absent from the shipped corpus."""
    import duckdb

    from intake_spark.llm.queries import _bpe_oracle_sql
    from tests.conftest import SF_MEDIUM

    corpora = [
        ["aaaa aaa aa", "aaaa aaaa"],  # overlap: (a,a) merges left-to-right
        ["xa b xa b ab", "a b a b xab"],  # boundary: (a,b) vs symbol 'xa'
        ["low lower lowest low low", "new newer newest new new new"],
    ]
    for texts in corpora:
        con = duckdb.connect()
        con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                    + ", ".join(f"({i}, ?)" for i in range(len(texts)))
                    + ") t(doc_id, text)", texts)
        got = [tuple(r) for r in con.execute(_bpe_oracle_sql(4)).fetchall()]
        want, _ = _py_bpe_reference(texts, 4)
        assert got == want  # incl. the min_pair_count<2 stopping rule

    # randomized corpora: fixed-seed fuzz over small alphabets (the regime
    # where overlap/boundary/tie-break interactions are densest)
    import random

    rng = random.Random(77)
    for trial in range(6):
        alpha = "ab" if trial % 2 == 0 else "abc"
        texts = [
            " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(5)
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                    + ", ".join(f"({i}, ?)" for i in range(len(texts)))
                    + ") t(doc_id, text)", texts)
        got = [tuple(r) for r in con.execute(_bpe_oracle_sql(5)).fetchall()]
        want, _ = _py_bpe_reference(texts, 5)
        assert got == want, f"trial {trial}: {got} != {want}"

    # separator-collision guard for the real gate corpus
    con = duckdb.connect()
    n = con.execute(
        "SELECT count(*) FROM read_parquet(?) "
        "WHERE contains(text, '⟨') OR contains(text, '⟩')",
        [f"{SF_MEDIUM}/documents.parquet"],
    ).fetchone()[0]
    assert n == 0


def test_bpe_merge_nonoverlapping_scan(spark):
    """'aaaa' with pair (a,a) must segment as [aa, aa, </w>] — left-to-right
    non-overlapping, the reference scan order."""
    from intake_spark.llm import bpe

    df = spark.createDataFrame([(0, "aaaa aaaa")], "doc_id long, text string")
    merges = bpe.learn_bpe_merges(df, n_merges=1)
    assert merges[0][1:3] == ("a", "a")
    seg = bpe.bpe_segment_vocab(bpe.word_counts(df), merges).collect()
    assert list(seg[0].pieces) == ["aa", "aa", "</w>"]


def test_round5_session2_plan_shapes(spark, docs):
    """Exchange budgets for the session's new operators — the scale
    contract, asserted on executed plans."""

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # BM25: corpus side mapper-only — the only Exchanges allowed are the
    # two tiny stat aggregates (single-partition) + top-N; no
    # hashpartitioning of the corpus, stats reach the corpus as broadcast,
    # top-N lowers to TakeOrderedAndProject
    p = plan_of(text.bm25_scores(docs, terms=["spark", "vector"], top_n=10))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert p.count("Exchange hashpartitioning") == 0

    # bigram LM: probability tables must reach the doc pairs as broadcast
    # (vocabulary-sized), the doc_id rollup is the one corpus shuffle
    p = plan_of(text.bigram_lm_scores(docs))
    assert "BroadcastHashJoin" in p


@pytest.mark.slow  # randomized sweep; core covered by test_bpe_learn_matches_python_reference
def test_bpe_random_corpora_match_reference(spark):
    """Randomized corpora (including tie-heavy degenerate ones) must
    reproduce the pure-Python BPE reference exactly — merge sequence AND
    final segmentation. Deterministic seeds, low example count: each case
    runs real Spark jobs."""
    import random

    from intake_spark.llm import bpe

    rng = random.Random(20260814)
    alphabet = "abc"
    for case in range(6):
        n_docs = rng.randint(1, 4)
        texts = [
            " ".join(
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 5)))
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(n_docs)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = bpe.learn_bpe_merges(df, n_merges=4)
        want, segs = _py_bpe_reference(texts, 4)
        assert got == want, f"case {case}: {texts}"
        if got:
            seg = {
                r.word: list(r.pieces)
                for r in bpe.bpe_segment_vocab(bpe.word_counts(df), got).collect()
            }
            assert seg == segs, f"case {case} segmentation: {texts}"


def test_select_token_budget_shard_independent(spark, docs):
    """The budget cut must be identical for any shard count (the global
    prefix sum is exact regardless of range boundaries) and must match
    the naive single-order definition."""
    from intake_spark.llm import assembly

    a = sorted(
        (r.doc_id, r.cum_tokens)
        for r in assembly.select_token_budget(docs, 10_000, shards=1).collect()
    )
    b = sorted(
        (r.doc_id, r.cum_tokens)
        for r in assembly.select_token_budget(docs, 10_000, shards=8).collect()
    )
    assert a == b and len(a) > 0
    # the last kept doc's cumulative count respects the budget; adding the
    # next doc in rank order would exceed it
    assert max(c for _i, c in a) <= 10_000

    import pytest as _pytest

    with _pytest.raises(ValueError):
        assembly.select_token_budget(docs, 0)


def test_mix_by_temperature_upweights_small_sources(spark):
    from intake_spark.llm import sampling

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    mixed, rates = sampling.mix_by_temperature(df, target_total=200)
    r = {x.source: x for x in rates.collect()}
    # sqrt weighting: keep RATE for the small source is ~3x the big one's
    # (sqrt(900)/900 = 1/30 vs sqrt(100)/100 = 1/10; exact up to the floors)
    assert abs(r["small"]._thr - 3 * r["big"]._thr) <= 3
    kept = {x.source: x["count"] for x in mixed.groupBy("source").count().collect()}
    # small source contributes far above its 10% share
    assert kept["small"] / (kept["small"] + kept["big"]) > 0.2
    # reproducible under partitioning
    mixed2, _ = sampling.mix_by_temperature(df.repartition(7), target_total=200)
    assert sorted(r.doc_id for r in mixed.collect()) == sorted(
        r.doc_id for r in mixed2.collect()
    )


def test_bloom_decontaminate_equals_exact(spark):
    """The bloom two-phase pipeline must return EXACTLY the one-phase
    exact anti-join result (bloom false positives are cleaned by the
    second phase; false negatives don't exist)."""
    from intake_spark.llm import assembly
    from intake_spark.llm.dedup import shingles

    corpus_rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "totally clean document with fresh words"),
        (3, "the quick brown fox jumps over dogs"),
        (4, "clean words again but alpha beta gamma appears here"),
    ]
    bench_rows = [(100, "alpha beta gamma something"), (101, "quick brown fox story")]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    got = sorted(r.doc_id for r in assembly.bloom_decontaminate(corpus, bench).collect())

    sh_c = shingles(corpus)
    sh_b = shingles(bench).select("shingle").distinct()
    bad = sh_c.join(sh_b, "shingle", "left_semi").select("doc_id").distinct()
    want = sorted(r.doc_id for r in corpus.join(bad, "doc_id", "left_anti").collect())
    assert got == want == [2]


def test_ivf_semantic_dedup_recall_vs_brute(spark):
    """semantic_dedup_pairs_ivf (k-means candidate generator, the scale
    path past fixed seeds) must recover >=95% of the brute-force cosine
    pairs on a corpus with planted near-dups — and never invent a pair
    (in-list scoring is exact cosine)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(200):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    for j in range(50):  # planted near-dup of base j: cosine ~ 0.9999
        base = np.array(rows[j][1])
        dup = base + rng.normal(scale=1e-3, size=16)
        rows.append((1000 + j, [float(x) for x in dup]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.95).collect()
    }
    assert len(exact) >= 50  # all planted pairs are above 0.95

    approx = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_dedup_pairs_ivf(
            emb, n_lists=8, threshold=0.95
        ).collect()
    }
    assert approx <= exact  # in-list cosine is exact: no false pairs
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"IVF semdedup recall {recall:.3f} < 0.95"


def test_zorder_locality_beats_row_major(spark):
    """A small 2-D box must touch far fewer Z-order buckets than the same
    rows spread under row-major (x-major) ordering — the whole point of
    the layout."""
    from intake_spark.layout import cluster_by_zorder, zorder_key

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")
    z = df.withColumn("zkey", zorder_key("x", "y", bits=6)).withColumn(
        "rowmajor", F.col("x") * 64 + F.col("y")
    )
    box = z.filter((F.col("x") >= 8) & (F.col("x") < 16) & (F.col("y") >= 8) & (F.col("y") < 16))
    zb = box.select((F.floor(F.col("zkey") / 64)).alias("b")).distinct().count()
    rb = box.select((F.floor(F.col("rowmajor") / 64)).alias("b")).distinct().count()
    assert zb < rb  # 8x8 box: 1 z-bucket vs 8 row-major buckets
    assert zb == 1 and rb == 8

    # cluster_by_zorder preserves rows and sorts by zkey within partitions
    out = cluster_by_zorder(df, "x", "y", bits=6, partitions=4)
    assert out.count() == 64 * 64


def test_zorder3_locality_on_3d_box(spark):
    """N-column generalization: a 4x4x4 box in a 16^3 cube touches far
    fewer 3-D Morton buckets than lexicographic (x-major) ordering, and
    the 2-col key is bit-identical to the old interleave."""
    from intake_spark.layout import cluster_by_zorder, zorder_key, zorder_key_n

    rows = [(x, y, z) for x in range(16) for y in range(16) for z in range(16)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    k = df.withColumn("zkey", zorder_key_n(["x", "y", "z"], bits=4)).withColumn(
        "lex", (F.col("x") * 256 + F.col("y") * 16 + F.col("z"))
    )
    box = k.filter(
        (F.col("x") >= 4) & (F.col("x") < 8)
        & (F.col("y") >= 4) & (F.col("y") < 8)
        & (F.col("z") >= 4) & (F.col("z") < 8)
    )
    zb = box.select(F.floor(F.col("zkey") / 64).alias("b")).distinct().count()
    lb = box.select(F.floor(F.col("lex") / 64).alias("b")).distinct().count()
    assert zb < lb  # 4x4x4 box: 1 morton bucket (64 = 4^3 cell) vs 16 lex

    # zkey covers exactly [0, 4096) with no collisions on the full cube
    ks = [r.zkey for r in k.select("zkey").collect()]
    assert sorted(ks) == list(range(4096))

    # 2-col path unchanged: zorder_key == zorder_key_n([x, y])
    two = df.select(
        zorder_key("x", "y", bits=4).alias("a"),
        zorder_key_n(["x", "y"], bits=4).alias("b"),
    )
    assert two.filter(F.col("a") != F.col("b")).count() == 0

    # list-form cluster_by_zorder accepts 3 columns
    out = cluster_by_zorder(df, ["x", "y", "z"], bits=4, partitions=4)
    assert out.count() == 4096

    import pytest as _pytest

    with _pytest.raises(ValueError, match="<= 63"):
        zorder_key_n(["x", "y", "z"], bits=22)


def test_distributed_bloom_build_bitwise_equals_driver(spark):
    """The partition-local-blooms + bit_or merge must produce the SAME
    bit array as a sequential driver-side build — across a multi-
    partition frame, including high-bit (sign-bit) words."""
    import numpy as np

    from intake_spark.llm.assembly import PyBloom

    keys = [f"shingle {i} text" for i in range(500)]
    want = PyBloom(len(keys), 0.01)
    for s in keys:
        want.add(s)

    bm, bk = want.m, want.k
    sh = spark.createDataFrame([(s,) for s in keys], "shingle string").repartition(8)

    def part_bloom(batches):
        import pandas as _pd

        pb = PyBloom.with_params(bm, bk)
        for pdf in batches:
            for s in pdf["shingle"]:
                pb.add(s)
        raw = pb.bits.tobytes()
        raw += b"\x00" * (-len(raw) % 8)
        words = np.frombuffer(raw, dtype="<u8")
        nz = np.nonzero(words)[0]
        yield _pd.DataFrame({"w_idx": nz.astype("int64"), "w": words[nz].view(np.int64)})

    from pyspark.sql import functions as F

    merged = (
        sh.mapInPandas(part_bloom, schema="w_idx long, w long")
        .groupBy("w_idx")
        .agg(F.expr("bit_or(w)").alias("w"))
        .collect()
    )
    words = np.zeros((bm + 63) // 64, dtype="<i8")
    for r in merged:
        words[r["w_idx"]] = r["w"]
    got = np.frombuffer(words.tobytes(), dtype="uint8")[: (bm + 7) // 8]
    np.testing.assert_array_equal(got, want.bits)


def test_pybloom_no_false_negatives_bounded_fp():
    from intake_spark.llm.assembly import PyBloom

    keys = [f"key-{i}" for i in range(2000)]
    bf = PyBloom(len(keys), fpp=0.01)
    for k in keys:
        bf.add(k)
    assert all(bf.might_contain(k) for k in keys)  # bloom invariant
    fps = sum(bf.might_contain(f"other-{i}") for i in range(5000))
    assert fps / 5000 < 0.05  # ~1% design point, loose bound


def test_hilbert_key_inverts_pmtiles_walk(spark):
    """layout.hilbert_key_py must be the exact inverse of the PMTiles
    d->xy walk already in geo.py — two independent implementations of the
    same curve pin each other."""
    from intake_spark.geo import _hilbert_d2xy
    from intake_spark.layout import hilbert_key_py, with_hilbert_key

    order = 4
    for d in range(1 << (2 * order)):
        x, y = _hilbert_d2xy(order, d)
        assert hilbert_key_py(order, x, y) == d

    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = {(r.x, r.y): r.hkey for r in with_hilbert_key(df, "x", "y", order=3).collect()}
    assert len(set(out.values())) == 64  # bijection on the grid
    # locality: adjacent hilbert keys are adjacent cells (unit manhattan)
    inv = {v: k for k, v in out.items()}
    for d in range(63):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_plan_report_diagnostics(spark, docs):
    from intake_spark.inspection import plan_report

    from intake_spark.llm import text as tx

    # a mapper-only operator: zero exchanges, no python stages
    r = plan_report(tx.with_token_stats(docs))
    assert r["n_exchanges"] == 0 and r["n_python_stages"] == 0

    # a top-N query lowers to TakeOrderedAndProject
    r2 = plan_report(tx.bm25_scores(docs, terms=["spark"], top_n=5))
    assert r2["has_take_ordered"] and r2["n_python_stages"] == 0


def test_line_dedup_boilerplate_removed(spark):
    """The C4-style line dedup removes a line appearing in >=min_df docs
    from EVERY doc, keeps order, and counts correctly."""
    from intake_spark.llm import text as llmtext

    docs = [
        (1, "unique alpha\nSHARED FOOTER\nunique beta"),
        (2, "SHARED FOOTER\nonly here"),
        (3, "totally different\nSHARED FOOTER"),
        (4, "no boilerplate at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in llmtext.line_dedup(df, min_df=3).collect()}
    assert out[1].clean_text == "unique alpha\nunique beta"
    assert out[1].n_lines == 3 and out[1].n_kept == 2
    assert out[2].clean_text == "only here"
    assert out[3].clean_text == "totally different"
    assert out[4].clean_text == "no boilerplate at all" and out[4].n_kept == 1
    # doc that is ALL boilerplate still yields a row with empty text
    df2 = spark.createDataFrame(
        docs + [(5, "SHARED FOOTER")], "doc_id long, text string"
    )
    out2 = {r.doc_id: r for r in llmtext.line_dedup(df2, min_df=3).collect()}
    assert out2[5].clean_text == "" and out2[5].n_kept == 0


def test_pii_scrub_patterns(spark):
    from intake_spark.llm import text as llmtext

    rows = [
        (1, "mail a.b+c@foo-bar.example.org now"),
        (2, "server at 192.168.0.1 and 10.1.2.3"),
        (3, "call +1 (555) 123-4567 today"),
        (4, "clean text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in llmtext.pii_scrub(df).collect()}
    assert out[1].n_email == 1 and "[REDACTED]" in out[1].scrubbed_text
    assert "@" not in out[1].scrubbed_text
    assert out[2].n_ipv4 == 2
    assert out[2].scrubbed_text == "server at [REDACTED] and [REDACTED]"
    assert out[3].n_phone == 1 and "555" not in out[3].scrubbed_text
    assert out[4].scrubbed_text == "clean text"
    assert (out[4].n_email, out[4].n_ipv4, out[4].n_phone) == (0, 0, 0)


def test_q99_empty_doc_matches_oracle(spark, tmp_path):
    """Regression: Spark's sequence(1, 0) is DESCENDING [1, 0] (step
    defaults to -1 when start > stop) while DuckDB's generate_series(1, 0)
    is empty — a zero-word document must still derive to a single empty
    line on both engines, not two Spark-side."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from tests.test_oracle_gate import assert_frames_match

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": ["a", "a", "b"],
            "text": ["", "   ", "one two three four five"],
        }
    )
    sf_dir = str(tmp_path)
    docs.to_parquet(tmp_path / "documents.parquet")
    sdf = entry_mod.queries()["q99_line_dedup"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    odf = con.sql(entry_mod.oracle_sql()["q99_line_dedup"]).df()
    con.close()
    assert_frames_match(sdf, odf, "q99_empty_doc")
    by_id = {r.doc_id: r for _, r in sdf.iterrows()}
    assert by_id[1].n_lines == 1 and by_id[2].n_lines == 1


def test_features_truncated_blobs_flow(spark, tmp_path):
    """Regression (r6 review): a TRUNCATED stream raises zlib.error /
    EOFError / struct.error from deep inside the decoder, not the named
    ValueError gates — the triage fallback must still emit a decoded=0
    row instead of killing the whole mapInPandas job."""
    import wave

    import numpy as np

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(10, 12, 3), dtype=np.uint8)
    good_png = _png_rgb_with_filters(arr, filters=[0] * 10)
    (tmp_path / "ok.png").write_bytes(good_png)
    # cut the IDAT zlib stream short -> zlib.error inside decode_image
    (tmp_path / "trunc.png").write_bytes(good_png[:-20])
    files = multimodal.read_binary_dir(spark, str(tmp_path))
    feats = {r.path.rsplit("/", 1)[-1]: r
             for r in multimodal.image_features(files, keep_cols=["path"]).collect()}
    assert feats["ok.png"].decoded == 1
    t = feats["trunc.png"]
    assert t.decoded == 0 and t.err is not None and t.mean_intensity is None

    adir = tmp_path / "audio"
    adir.mkdir()
    t_ = np.arange(800) / 8000.0
    sine = (0.5 * np.sin(2 * np.pi * 220 * t_) * 32767).astype("<i2")
    import io

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(sine.tobytes())
    good_wav = buf.getvalue()
    (adir / "a.wav").write_bytes(good_wav)
    (adir / "trunc.wav").write_bytes(good_wav[:16])  # fmt chunk cut short
    afiles = multimodal.read_binary_dir(spark, str(adir))
    afeats = {r.path.rsplit("/", 1)[-1]: r
              for r in multimodal.audio_features(afiles, keep_cols=["path"]).collect()}
    assert afeats["a.wav"].decoded == 1
    tw = afeats["trunc.wav"]
    assert tw.decoded == 0 and tw.err is not None and tw.rms is None


def test_dup_spans_merging(spark):
    """dup_spans: overlapping duplicated windows merge into one maximal
    span; within-doc repeats count as duplication; unique text yields no
    spans; adjacent (gap == k) spans merge, separated ones do not."""
    from intake_spark.llm import dedup

    boiler = " ".join(f"b{i}" for i in range(10))  # 10 shared tokens
    docs = [
        (1, f"{boiler} u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 {boiler}"),
        (2, f"x1 x2 x3 {boiler} y1 y2 y3"),
        (3, "all unique tokens here nothing repeats in this document ever z1 z2"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup.dup_spans(df, k=4, min_occurrences=2)
    spans = {}
    for r in out.collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end, r.span_tokens))
    # doc 1: boiler at positions 0..9 and 20..29 -> two separate 10-token spans
    assert sorted(spans[1]) == [(0, 10, 10), (20, 30, 10)]
    # doc 2: boiler at 3..12 -> one span
    assert spans[2] == [(3, 13, 10)]
    assert 3 not in spans
    # min_occurrences honored: raise the threshold above the occurrence
    # count (3 occurrences of the boiler windows) -> nothing reported
    assert dedup.dup_spans(df, k=4, min_occurrences=4).count() == 0


def test_c4_filter_rules(spark):
    from intake_spark.llm import text as llmtext

    rows = [
        (1, "This is fine. It has three sentences. Really it does."),
        (2, "too few words."),
        (3, "Lorem Ipsum dolor sit amet. More here. And more. Done now."),
        (4, "Code leaked { var x = 1; }. Sentence two. Sentence three."),
        (5, "No terminal punctuation at all just words and words and words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in llmtext.c4_filter(df).collect()}
    assert out[1].keep == 1 and out[1].n_sentences == 3
    assert out[2].keep == 0 and out[2].r_short == 1
    assert out[3].keep == 0 and out[3].r_lorem == 1
    assert out[4].keep == 0 and out[4].r_brace == 1
    assert out[5].keep == 0 and out[5].r_sentences == 1


def test_remove_dup_spans(spark):
    """The cut step: duplicated spans removed everywhere, survivors
    rejoin in order; span-free docs pass through untouched."""
    from intake_spark.llm import dedup

    boiler = " ".join(f"b{i}" for i in range(10))
    docs = [
        (1, f"{boiler} u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 {boiler}"),
        (2, f"x1 x2 x3 {boiler} y1 y2 y3"),
        (3, "all unique tokens here nothing repeats in this document ever z1 z2"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.remove_dup_spans(df, k=4, min_occurrences=2).collect()}
    assert out[1].clean_text == "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"
    assert (out[1].n_tokens, out[1].n_removed) == (30, 20)
    assert out[2].clean_text == "x1 x2 x3 y1 y2 y3" and out[2].n_removed == 10
    assert out[3].n_removed == 0 and out[3].clean_text == docs[2][1]


def test_r6_dedup_sampling_guards(spark):
    """Regressions (r6 review): simhash bits cap, dup_groups string ids on
    the driver path, LSH prefix-banding guard, threshold rounding, and
    the salted-hash delimiter."""
    import pytest as _pytest

    from intake_spark.llm import dedup, sampling

    df = spark.createDataFrame(
        [("a", "x y z w"), ("b", "x y z w")], "doc_id string, text string"
    )
    # bits > 32 would make every high band one corpus-wide bucket
    with _pytest.raises(ValueError, match=r"\[1, 32\]"):
        dedup.simhash(df, bits=48)
    with _pytest.raises(ValueError, match=r"\[1, 32\]"):
        dedup.simhash_pairs(df, bits=48, bands=12)

    # string ids survive the small-edge-count union-find path
    pairs = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    groups = dedup.dup_groups(pairs).collect()
    assert {(r.doc_id, r.group_id) for r in groups} == {("a", "a"), ("b", "a")}

    # banding a PREFIX of a wider signature is refused
    sigs = dedup.minhash_signatures(df, num_hashes=32, k=2)
    with _pytest.raises(ValueError, match="prefix"):
        dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=4)

    # 0.3 * 1e6 truncated to 299999 before; round() keeps the full range
    big = spark.range(20000).selectExpr("CAST(id AS STRING) AS k")
    edges = [0]
    for f_ in (0.3, 0.7):
        edges.append(edges[-1] + round(f_ * sampling._BUCKETS))
    assert edges[1] == 300000

    # delimiter: (salt='a', key='bc') and (salt='ab', key='c') no longer
    # hash identical bytes
    one = spark.createDataFrame([("bc",)], "k string").select(
        sampling.hash_bucket("k", salt="a").alias("b")
    ).collect()[0].b
    two = spark.createDataFrame([("c",)], "k string").select(
        sampling.hash_bucket("k", salt="ab").alias("b")
    ).collect()[0].b
    assert one != two

    # mix_by_temperature audit table carries the promised realized rate
    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 2), "t") for i in range(40)],
        "doc_id long, source string, text string",
    )
    _mixed, rates = sampling.mix_by_temperature(docs, target_total=20)
    cols = rates.columns
    assert "realized_rate" in cols
    for r in rates.collect():
        assert abs(r.realized_rate - r._thr / 1e6) < 1e-12


def test_cosine_paths_survive_zero_norm_vectors(spark):
    """Regression: an all-zero embedding (padding/missing-placeholder row)
    must NOT crash any cosine scorer. Under Spark 4's default ANSI mode
    dot/sqrt(0) raises DIVIDE_BY_ZERO; the shared safe_cos_div guard maps
    a zero denominator to a NULL cosine, so zero vectors simply pair with
    nothing (threshold filters drop NULL) and never rank above real
    neighbors."""
    from intake_spark.llm import dedup as lldedup
    from intake_spark.llm import similarity as sim

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # the hazard row
        (4, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = lldedup.embedding_near_dup_pairs(df, threshold=0.5).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in ids
    assert all(3 not in p for p in ids)  # zero vector pairs with nothing

    knn = sim.knn_bruteforce(df, df.filter("vec_id = 1"), top_k=2).collect()
    assert [r.neighbor_id for r in knn] == [2, 4]  # ranked, no crash

    sem = sim.semantic_dedup_pairs(df, n_seeds=2, threshold=0.5).collect()
    assert all(3 not in (r.id_a, r.id_b) for r in sem)

    q = df.filter("vec_id in (1, 3)")  # a zero-norm QUERY vector too
    centroids, assigned = sim.ivf_build(df, n_lists=2)
    got = sim.ivf_search(assigned, centroids, q, top_k=2, n_probes=2).collect()
    assert any(r.query_id == 1 for r in got)  # real query still answers


def test_pack_sequences_null_text_and_capacity_guard(spark):
    """Regression: a NULL-text doc must not shift later docs' pack
    offsets (legacy size(NULL) = -1 DECREMENTED the prefix sum), and
    capacity=0 must raise up front instead of div-by-zero at execution."""
    from intake_spark.llm import assembly

    rows = [(1, "s", "a b"), (2, "s", None), (3, "s", "c d")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r
        for r in assembly.pack_sequences(df, capacity=4, shards=1).collect()
    }
    assert 2 not in out  # NULL text dropped, not packed
    # single shard: doc 3 packs directly after doc 1's 2 tokens — a -1
    # from size(NULL) would have shifted it to offset 1
    assert out[3].pack_id * 4 + out[3].pack_offset == 2

    with pytest.raises(ValueError, match="capacity"):
        assembly.pack_sequences(df, capacity=0)


def test_apply_bpe_keeps_empty_docs(spark):
    """Regression: apply_bpe must emit (id, 0, 0) for docs whose text is
    empty or NULL — dropping the row silently loses the document through
    any downstream inner join on doc_id."""
    from intake_spark.llm import bpe

    rows = [(1, "low lower"), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.learn_bpe_merges(df, n_merges=2, min_pair_count=1)
    out = {r.doc_id: r for r in bpe.apply_bpe(df, merges).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].n_words == 0 and out[2].n_bpe_pieces == 0
    assert out[3].n_words == 0 and out[3].n_bpe_pieces == 0
    assert out[1].n_words == 2


def test_bpe_segment_vocab_long_merge_chain(spark):
    """Regression: hundreds of merges must not build one projection with
    hundreds of nested aggregate folds (Catalyst analysis blowup) — the
    chain checkpoints every `checkpoint_every` merges."""
    from intake_spark.llm import bpe

    wc = spark.createDataFrame([("ab", 3), ("abab", 2)], "word string, n long")
    # 40 merges, mostly no-ops after the first two — exercises the chain
    merges = [(0, "a", "b", 5), (1, "ab", "ab", 2)] + [
        (i, f"x{i}", f"y{i}", 1) for i in range(2, 40)
    ]
    out = {r.word: r.pieces for r in
           bpe.bpe_segment_vocab(wc, merges, checkpoint_every=8).collect()}
    assert out["ab"] == ["ab", "</w>"]
    assert out["abab"] == ["abab", "</w>"]


def test_hilbert_key_rejects_null_and_out_of_range(spark):
    """Regression: NULL coords died as an opaque int() TypeError in the
    executor; coords >= 2^order silently aliased (high bits masked off).
    Both now raise named ValueErrors."""
    from py4j.protocol import Py4JJavaError

    from intake_spark.layout import with_hilbert_key

    bad_null = spark.createDataFrame([(1, None)], "x long, y long")
    with pytest.raises(Exception, match="NULL/NaN coordinate"):
        with_hilbert_key(bad_null, "x", "y", order=3).collect()

    bad_range = spark.createDataFrame([(9, 1)], "x long, y long")
    with pytest.raises(Exception, match="outside"):
        with_hilbert_key(bad_range, "x", "y", order=3).collect()


def test_gopher_filter_rules(spark):
    from pyspark.sql import functions as F

    from intake_spark.llm import text as llmtext

    good = (
        "the words flow naturally here and that style will be kept with "
        "normal prose " + " ".join(f"word{i}" for i in range(40))
    )
    rows = [
        (1, good),                                   # passes everything
        (2, "the of short"),                         # r_nwords (< 50 words)
        (3, " ".join(["a"] * 60)),                   # mean word len < 3
        (4, " ".join(["#tag"] * 60)),                # symbol ratio > 0.1
        (5, "\n".join(["- item " + "x " * 30] * 10)),  # 100% bullet lines
        (6, " ".join(["12345"] * 60)),               # < 80% alphabetic words
        (7, None),                                   # NULL text: r_nwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in llmtext.gopher_filter(df).collect()}
    assert out[1].keep == 1 and out[1].n_stop_hits >= 2
    assert out[2].keep == 0 and out[2].r_nwords == 1
    assert out[3].r_wordlen == 1
    assert out[4].r_symbol == 1 and out[4].n_symbols == 60
    assert out[5].r_bullet == 1 and out[5].n_lines == 10
    assert out[6].r_alpha == 1
    assert out[7].keep == 0 and out[7].n_words == 0 and out[7].r_nwords == 1

    # ellipsis rules: '…' and '...' both count, line-end and symbol forms
    e = spark.createDataFrame(
        [(1, "only line ends like this…"), (2, "a b c d e f g h ... … ...")],
        "doc_id long, text string",
    )
    eo = {r.doc_id: r for r in llmtext.gopher_filter(e).collect()}
    assert eo[1].r_ellipsis == 1
    assert eo[2].n_symbols == 3 and eo[2].r_symbol == 1


def test_dsir_weights_tilt(spark):
    """Docs made of target-only vocabulary must outweigh docs of raw-only
    vocabulary, smoothing keeps every weight finite, and the weight of a
    doc is linear in its grams (same gram repeated -> proportional)."""
    from pyspark.sql import functions as F

    from intake_spark.llm import text as llmtext

    tgt_text = "alpha beta gamma delta alpha beta gamma delta"
    raw_text = "omega psi chi phi omega psi chi phi"
    rows = (
        [(i, tgt_text, "en") for i in range(8)]
        + [(100 + i, raw_text, "zh") for i in range(8)]
        + [(200, "alpha beta gamma delta", "zh")]  # raw doc, target-ish text
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r
        for r in llmtext.dsir_weights(df, target=F.col("lang") == "en").collect()
    }
    assert out[0].tgt == 1 and out[100].tgt == 0
    assert out[0].dsir_w_r > 0 > out[100].dsir_w_r
    # the raw doc written in target vocabulary still scores positive —
    # DSIR scores CONTENT, not the label
    assert out[200].dsir_w_r > 0
    # n_grams = unigrams + bigrams
    assert out[200].n_grams == 4 + 3
    # empty/None text flows through with zero weight
    z = spark.createDataFrame(
        [(1, None, "en"), (2, "", "zh")], "doc_id long, text string, lang string"
    )
    zo = {
        r.doc_id: r
        for r in llmtext.dsir_weights(z, target=F.col("lang") == "en").collect()
    }
    assert zo[1].n_grams == 0 and zo[1].dsir_w_r == 0.0
    assert zo[2].n_grams == 0 and zo[2].dsir_w_r == 0.0


def test_gopher_repetition_rules(spark):
    from intake_spark.llm import text as llmtext

    rows = [
        (1, "a b c d e f g h i j"),               # all unique
        (2, "x y x y x y x y x y"),               # heavy bigram repetition
        (3, "p q r s t p q r s t p q r s t zz"),  # repeated 5-gram block
        (4, "line1\nline1\nline2"),               # duplicate lines
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x.doc_id: x for x in llmtext.gopher_repetition(df).collect()}
    # doc2: top bigram "x y" occurs 5x, 3 chars -> 15 of 19 chars
    assert r[2].top2_chars == 15 and r[2].r_top2 == 1
    # rotations of the repeated block all duplicate: union covers the
    # first 15 words (29 chars of 32), NOT 3 * block length — the
    # interval-union must not double-count overlapping occurrences
    assert r[3].dup5_chars == 29 and r[3].n_chars == 32
    assert r[3].dup10_chars == 29  # 10-gram rotations still repeat
    assert r[1].dup5_chars == 0 and r[1].top2_chars == 3  # single-occ top
    # dup lines: one excess "line1" copy = 5 chars; 1 of 3 lines
    assert r[4].dup_lines == 1 and r[4].dup_line_chars == 5
    assert r[4].r_dup_line == 1
    for d in (5, 6):
        assert r[d].top2_chars == 0 and r[d].dup5_chars == 0
        assert r[d].keep == 1


def test_gopher_repetition_plan_mapper_only(spark):
    """The within-doc n-gram counting must stay a per-row HOF scan: no
    Exchange (shuffle), no EvalPython in the physical plan."""
    from pyspark.sql import functions as F

    from intake_spark.llm import text as llmtext

    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    plan = (
        llmtext.gopher_repetition(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_top_gram_pack_range_guard():
    """The (count, length) pack round-trips below 2^31 and raises at
    2^31, where the count would overflow int64 or the length would
    spill into the count's half."""
    import numpy as np

    from intake_spark.llm.text import _pack_count_len

    counts = np.array([1, 7, (1 << 31) - 1], dtype=np.int64)
    lens = np.array([0, 12, (1 << 31) - 1], dtype=np.int64)
    key = _pack_count_len(counts, lens)
    assert ((key >> 32) == counts).all() and ((key & 0xFFFFFFFF) == lens).all()
    empty = np.array([], dtype=np.int64)
    assert len(_pack_count_len(empty, empty)) == 0
    big = np.array([1 << 31], dtype=np.int64)
    with pytest.raises(ValueError, match="2\\^31"):
        _pack_count_len(big, np.array([5], dtype=np.int64))
    with pytest.raises(ValueError, match="2\\^31"):
        _pack_count_len(np.array([2], dtype=np.int64), big)


def test_hashed_linear_classifier_exact_replay(spark):
    """The distributed GD trainer must match a pure-Python integer
    replay bit for bit (trunc-division steps, fixed-point weights) and
    separate two disjoint vocabularies after 3 rounds."""
    import hashlib

    from pyspark.sql import functions as F

    from intake_spark.llm.classifier import hashed_linear_classifier

    rows = (
        [(i, "alpha beta gamma delta alpha beta", "en") for i in range(10)]
        + [(100 + i, "omega psi chi phi omega psi", "zh") for i in range(10)]
        + [(200, None, "en"), (201, "", "zh")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r
        for r in hashed_linear_classifier(df, F.col("lang") == "en").collect()
    }
    assert out[0].pred == 1 and out[100].pred == -1
    assert out[200].n_feats == 1 and out[201].n_feats == 1  # bias only

    def bucket(g, B=64):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    X, Y = {}, {}
    for i, t, lang in rows:
        ws = [x for x in (t or "").split(" ") if x]
        grams = ws + [" ".join(ws[j : j + 2]) for j in range(len(ws) - 1)]
        f = {}
        for g in grams:
            f[bucket(g)] = f.get(bucket(g), 0) + 1
        f[64] = 1
        X[i], Y[i] = f, (1 if lang == "en" else -1)
    n, D, S = len(rows), 256 * len(rows), 10000
    w = [0] * 65
    for _ in range(3):
        gvec = [0] * 65
        for i, f in X.items():
            e = sum(x * w[b] for b, x in f.items()) - S * Y[i]
            for b, x in f.items():
                gvec[b] += x * e
        w = [wb - tdiv(gb, D) for wb, gb in zip(w, gvec)]
    for i, f in X.items():
        assert sum(x * w[b] for b, x in f.items()) == out[i].score_fx, i


def test_curation_funnel_stages(spark):
    """Each stage's n_in must equal the previous stage's n_kept, and the
    exact-dedup stage must drop the later copy of a duplicated text."""
    from intake_spark.llm.assembly import curation_funnel

    good = "the words flow naturally here and that style will be kept " + \
        " ".join(f"w{i}" for i in range(45))
    # passes the Gopher-quality stage (44 words, 4 stop hits, mean word
    # length 3.5, all-alpha) but trips the repetition stage (top bigram
    # "spam ham" covers 160 of 197 chars) — so stage 3 does real work
    repet = "the and that with " + "spam ham " * 20
    rows = [
        (1, good),
        (2, good),                       # exact duplicate -> dropped at dedup
        (3, "too short."),               # c4 r_short
        (4, repet.strip()),              # repetition rules, quality-clean
        (5, good + " unique tail here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.stage: r for r in curation_funnel(
        df, min_sentences=0, gopher_min_words=20, gopher_stop_min=1
    ).collect()}
    assert out["1_c4"].n_in == 5 and out["1_c4"].n_kept == 4
    assert out["2_gopher_quality"].n_in == 4
    assert out["2_gopher_quality"].n_kept == 4  # doc 4 passes quality...
    assert out["3_gopher_repetition"].n_kept == 3  # ...and fails repetition
    assert out["3_gopher_repetition"].n_kept == out["4_exact_dedup"].n_in
    # docs 1,2 identical: one survives dedup
    assert out["4_exact_dedup"].n_kept == out["4_exact_dedup"].n_in - 1


def test_gopher_repetition_random_cross_check(spark):
    """Brute-force Python reference (per-n occurrence counting, interval
    union over char spans, per-line and per-paragraph occurrence counts
    and the Gopher thresholds) vs gopher_repetition on EVERY output
    cell: 40 seeded random docs over a tiny alphabet (maximal collision
    rate), 40 seeded random multi-line docs, and structural text —
    newline and double-newline duplicates, empty and NULL docs,
    multi-space runs."""
    import random
    from collections import Counter
    from fractions import Fraction

    from intake_spark.llm import text as llmtext

    rng = random.Random(20260814)
    vocab = ["aa", "b", "ccc", "dd"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(40)
    ]
    # line/paragraph structure: lines of words from a wider vocabulary,
    # a third of them repeats of an earlier line, joined by single or
    # double newlines — fractions on both sides of every threshold
    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(60)]
    for i in range(200, 240):
        lines = []
        for _ in range(rng.randint(1, 12)):
            if lines and rng.random() < 0.35:
                lines.append(rng.choice(lines))
            else:
                lines.append(" ".join(
                    rng.choice(vocab) for _ in range(rng.randint(0, 7))))
        text = lines[0]
        for ln in lines[1:]:
            text += rng.choice(["\n", "\n\n"]) + ln
        docs.append((i, text))
    docs += [
        (100, "aa b\naa b\naa b\n\nccc\n\nccc"),
        (101, ""),
        (102, None),
        (103, "  aa   b  "),
        (104, "\n\n\n"),
    ]

    def dup_counts(parts):
        """(excess copies, chars in excess copies, total chars)."""
        extra = [(c - 1, (c - 1) * len(x)) for x, c in Counter(parts).items()]
        return (sum(e for e, _ in extra), sum(ch for _, ch in extra),
                sum(map(len, parts)))

    # Gopher (Rae et al. 2021, appendix A): a doc is dropped when a
    # fraction exceeds its threshold
    thresholds = {
        "r_dup_line": ("dup_lines", "n_lines", Fraction(30, 100)),
        "r_dup_line_char": ("dup_line_chars", "line_chars", Fraction(20, 100)),
        "r_dup_para": ("dup_paras", "n_paras", Fraction(30, 100)),
        "r_dup_para_char": ("dup_para_chars", "para_chars", Fraction(20, 100)),
        "r_top2": ("top2_chars", "n_chars", Fraction(20, 100)),
        "r_top3": ("top3_chars", "n_chars", Fraction(18, 100)),
        "r_top4": ("top4_chars", "n_chars", Fraction(16, 100)),
        **{f"r_dup{n}": (f"dup{n}_chars", "n_chars", Fraction(20 - n, 100))
           for n in range(5, 11)},
    }

    def brute(text):
        text = text or ""
        ws = [x for x in text.split(" ") if x]
        starts, acc = [], 0
        for wd in ws:
            starts.append(acc)
            acc += len(wd) + 1
        out = {"n_chars": max(acc - 1, 0)}
        lines = text.split("\n")
        out["n_lines"] = len(lines)
        out["dup_lines"], out["dup_line_chars"], out["line_chars"] = (
            dup_counts(lines))
        paras = text.split("\n\n")
        out["n_paras"] = len(paras)
        out["dup_paras"], out["dup_para_chars"], out["para_chars"] = (
            dup_counts(paras))
        for n in range(2, 11):
            grams = {}
            for i in range(len(ws) - n + 1):
                g = " ".join(ws[i : i + n])
                grams.setdefault(g, []).append(
                    (starts[i], starts[i + n - 1] + len(ws[i + n - 1]))
                )
            if n <= 4:
                best = max(
                    (
                        (len(poss), len(g), g)
                        for g, poss in grams.items()
                    ),
                    default=None,
                )
                out[f"top{n}_chars"] = (
                    0 if best is None else best[0] * best[1]
                )
            if n >= 5:
                ivs = sorted(
                    iv for poss in grams.values() if len(poss) >= 2
                    for iv in poss
                )
                cov, cs, ce = 0, 0, 0
                for s, e in ivs:
                    if s > ce:
                        cov += ce - cs
                        cs, ce = s, e
                    else:
                        ce = max(ce, e)
                out[f"dup{n}_chars"] = cov + ce - cs
        for flag, (num, den, thr) in thresholds.items():
            out[flag] = int(out[den] > 0 and Fraction(out[num], out[den]) > thr)
        out["keep"] = int(not any(out[f] for f in thresholds))
        for k in ("line_chars", "n_paras", "para_chars"):
            del out[k]
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in llmtext.gopher_repetition(df).collect()}
    assert set(got) == {i for i, _ in docs}
    for i, text in docs:
        exp = brute(text)
        assert set(got[i]) == set(exp) | {"doc_id"}, i
        for k, v in exp.items():
            assert got[i][k] == v, (i, k, text)


def test_hll_distinct_accuracy_and_partition_invariance(spark):
    """The HLL estimate must land within ~3 standard errors (1.04/sqrt(m))
    of the truth, exceed the small-range-correction regime, and be
    bit-identical under different partitionings (register max is
    mergeable, so partial aggregation cannot change it)."""
    from intake_spark.llm.sketches import hll_distinct

    rows = [(i % 3, f"u{i}") for i in range(6000)]  # 2000 distinct per group
    df = spark.createDataFrame(rows, "g int, v string")
    est = {
        r.g: r.hll_est_r
        for r in hll_distinct(df, "g", "v", p=6).collect()
    }
    for g in (0, 1, 2):
        assert abs(est[g] - 2000) / 2000 < 3 * 1.04 / 8, (g, est[g])

    est2 = {
        r.g: r.hll_est_r
        for r in hll_distinct(df.repartition(17), "g", "v", p=6).collect()
    }
    assert est == est2


def test_cms_never_undercounts_and_bounds_overcount(spark):
    """A deliberately narrow sketch (width 16) forces collisions: the
    estimate must never undercount, the total overcount per item is
    bounded by the stream size, and the sketch is partition-invariant
    (cell-wise sums merge)."""
    from intake_spark.llm.sketches import cms_estimate, cms_sketch

    rows = [(f"v{i % 100}",) for i in range(3000)]  # 100 distinct, 30 each
    df = spark.createDataFrame(rows, "term string")
    items = df.distinct()
    sk = cms_sketch(df, "term", depth=4, width=16)
    est = {
        r.term: r.cms_est
        for r in cms_estimate(sk, items, "term", depth=4, width=16).collect()
    }
    assert len(est) == 100
    assert all(e >= 30 for e in est.values())
    assert any(e > 30 for e in est.values())  # collisions actually happened
    assert all(e <= 3000 for e in est.values())

    sk2 = cms_sketch(df.repartition(13), "term", depth=4, width=16)
    est2 = {
        r.term: r.cms_est
        for r in cms_estimate(sk2, items, "term", depth=4, width=16).collect()
    }
    assert est == est2


def test_sketch_hostile_column_names(spark):
    """Regression for two review findings: items frames carrying a `cnt`
    column must not collide with the sketch's internals, and space-y
    column names must survive the spliced SQL expressions."""
    from pyspark.sql import functions as F

    from intake_spark.llm.sketches import cms_estimate, cms_sketch, hll_distinct

    df = spark.createDataFrame(
        [(f"v{i % 10}",) for i in range(100)], "term string"
    )
    items = df.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    sk = cms_sketch(df, "term", depth=4, width=64)
    out = cms_estimate(sk, items, "term", depth=4, width=64).collect()
    assert len(out) == 10 and all(r.cms_est >= r.cnt for r in out)

    odd = spark.createDataFrame(
        [(1, f"u{i}") for i in range(200)], "g int, `my col` string"
    )
    est = hll_distinct(odd, "g", "my col", p=6).collect()
    assert abs(est[0].hll_est_r - 200) / 200 < 0.5

    # DOTTED names are the harder case: a bare F.col('a.b') resolves as
    # a struct field, so every reference (hash, null filter, groupBy)
    # must go through the backtick helper — not just the rho splice
    from intake_spark.llm.sketches import column_profile, kmv_distinct

    dotted = spark.createDataFrame(
        [(1, f"u{i % 50}", float(i)) for i in range(200)],
        "`g.k` int, `v.col` string, `n.col` double",
    )
    est2 = hll_distinct(dotted, "g.k", "v.col", p=6).collect()
    assert abs(est2[0].hll_est_r - 50) / 50 < 0.5
    kmv = kmv_distinct(dotted, "g.k", "v.col", k=16).collect()
    assert kmv[0].n_hashes == 16
    prof = column_profile(dotted, "g.k", "n.col").collect()
    assert prof[0].n_rows == 200 and prof[0].min_v == 0.0
    sk2 = cms_sketch(dotted, "v.col", depth=2, width=32)
    it2 = dotted.select("`v.col`").limit(5)
    out2 = cms_estimate(sk2, it2, "v.col", depth=2, width=32).collect()
    assert all(r.cms_est >= 4 for r in out2)


def test_gram_pairs_matches_join_formulation(spark):
    """The mapInPandas dense Gram (one matrix product per partition) must
    equal the n·k²-row self-join formulation entry for entry — same
    exact-integer H either way, just without materializing the pairs."""
    from pyspark.sql import functions as F

    from intake_spark.llm.classifier import _gram_bucket_counts, _gram_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(200)
    )
    x = _gram_bucket_counts(docs, "doc_id", "text", 64)
    fast = {
        (r.bl, r.br): int(r.h) for r in _gram_pairs(x, "doc_id", 64).collect()
    }
    xl = x.alias("l")
    slow = {
        (r.bl, r.br): int(r.h)
        for r in xl.join(x.alias("r"), "doc_id")
        .groupBy(F.col("l.b").alias("bl"), F.col("r.b").alias("br"))
        .agg(F.sum(F.expr("cast(l.x * r.x as decimal(38,0))")).alias("h"))
        .collect()
    }
    assert fast == slow and len(fast) > 100

    # multi-chunk accumulation (docs per partition > chunk size) and an
    # explicit partition count must produce the identical H — the chunked
    # doc-stack is a pure memory bound, never a semantics change
    import intake_spark.llm.classifier as clf

    old = clf._GRAM_DOC_CHUNK
    clf._GRAM_DOC_CHUNK = 7  # force many chunks per partition
    try:
        chunked = {
            (r.bl, r.br): int(r.h)
            for r in _gram_pairs(x, "doc_id", 64, parts=3).collect()
        }
    finally:
        clf._GRAM_DOC_CHUNK = old
    assert chunked == slow


def test_gram_pairs_fused_labels_match_separate_passes(spark):
    """The r12 fusion (c = Xᵀy and n riding the Gram pass's id-Exchange
    as bl=-1/-2 marker rows) must reproduce the separate x⋈y aggregate
    and y.count() exactly — including under forced multi-chunk
    accumulation and an explicit partition count."""
    from pyspark.sql import functions as F

    import intake_spark.llm.classifier as clf
    from intake_spark.llm.classifier import _gram_bucket_counts, _gram_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(200)
    )
    x = _gram_bucket_counts(docs, "doc_id", "text", 64)
    y = docs.select(
        F.col("doc_id"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1))
        .cast("int").alias("y"),
    )
    xy = x.join(y, "doc_id")

    n_ref = y.count()
    c_ref = {
        int(r.b): int(r.c)
        for r in xy.groupBy("b")
        .agg(F.sum(F.expr("cast(x * y as decimal(38,0))")).alias("c"))
        .collect()
        if int(r.c) != 0
    }
    h_ref = {
        (r.bl, r.br): int(r.h) for r in _gram_pairs(x, "doc_id", 64).collect()
    }

    old = clf._GRAM_DOC_CHUNK
    clf._GRAM_DOC_CHUNK = 7
    try:
        rows = _gram_pairs(xy, "doc_id", 64, parts=3, y_col="y").collect()
    finally:
        clf._GRAM_DOC_CHUNK = old
    n_f, c_f, h_f = 0, {}, {}
    for r in rows:
        if r.bl == -2:
            n_f += int(r.h)
        elif r.bl == -1:
            c_f[int(r.br)] = int(r.h)
        else:
            h_f[(r.bl, r.br)] = int(r.h)
    assert n_f == n_ref
    assert {b: v for b, v in c_f.items() if v != 0} == c_ref
    assert h_f == h_ref


def test_quality_buckets_nulls_to_tail_and_tiles(spark):
    """Unscorable docs (NULL score) must land in the LAST tile, tiles
    must be per-group, and the assignment deterministic (total order on
    score DESC, id)."""
    from pyspark.sql import functions as F

    from intake_spark.llm.sampling import quality_buckets

    docs = spark.createDataFrame(
        [(i, "en") for i in range(6)] + [(10, "fr"), (11, "fr"), (12, "fr")],
        "doc_id long, lang string",
    )
    # doc 5 and all fr docs but 10 have no score row
    scores = spark.createDataFrame(
        [(0, 0.9), (1, 0.7), (2, 0.5), (3, 0.3), (4, 0.1), (10, 0.8)],
        "doc_id long, s double",
    )
    out = {
        r.doc_id: r
        for r in quality_buckets(
            docs, scores, score_col="s", n_buckets=3
        ).collect()
    }
    assert len(out) == 9
    # en: 6 docs -> tiles of 2: (0,1)=head (2,3)=middle (4,5)=tail
    assert [out[i].bucket for i in range(6)] == [
        "head", "head", "middle", "middle", "tail", "tail",
    ]
    assert out[5].s is None and out[5].bucket == "tail"
    # fr: 3 docs -> one per tile; scored doc first, NULLs by id
    assert out[10].bucket == "head"
    assert out[11].bucket == "middle" and out[12].bucket == "tail"

    with pytest.raises(ValueError):
        quality_buckets(docs, scores, score_col="s", n_buckets=0)


def test_hard_negatives_excludes_same_label(spark):
    """Every mined negative must carry a different label than its query,
    self-pairs are impossible by the label filter, and ranks follow the
    exact cosine with the id tie-break."""
    from intake_spark.llm.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),   # same label as probe 0 — never a negative
        (2, [0.8, 0.2], 1),   # nearest cross-label
        (3, [0.0, 1.0], 1),   # far cross-label
        (4, [-1.0, 0.0], 2),  # opposite
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    probes = emb.filter("vec_id = 0")
    out = hard_negatives(emb, probes, top_k=4).collect()
    assert [r.neighbor_id for r in out] == [2, 3, 4]
    assert all(r.neighbor_label != r.query_label for r in out)
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].cosine > out[1].cosine > out[2].cosine


def test_dedup_aware_split_is_cluster_atomic(spark):
    """The leakage property itself: NO near-dup pair may straddle two
    splits — every cluster member carries the cluster canonical and the
    canonical's split; singletons hash on themselves."""
    from intake_spark.llm.sampling import dedup_aware_split, hash_bucket

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # clusters {0,1,2} (chained: 0-1, 1-2) and {10, 11}; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    out = dedup_aware_split(docs, pairs, [0.5, 0.25, 0.25])
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 40
    # cluster-atomic: same canonical AND same split within each cluster,
    # including transitively-linked members
    assert rows[0].canonical_id == rows[1].canonical_id == rows[2].canonical_id == 0
    assert rows[0].split == rows[1].split == rows[2].split
    assert rows[10].canonical_id == rows[11].canonical_id == 10
    assert rows[10].split == rows[11].split
    # singleton: canonical is itself
    assert rows[20].canonical_id == 20
    # exhaustive + exclusive: every row got exactly one named split
    assert set(r.split for r in rows.values()) <= {"train", "val", "test"}
    # determinism: identical assignment on a different partitioning
    again = {
        r.doc_id: r.split
        for r in dedup_aware_split(
            docs.repartition(13), pairs, [0.5, 0.25, 0.25]
        ).collect()
    }
    assert again == {k: v.split for k, v in rows.items()}

    with pytest.raises(ValueError):
        dedup_aware_split(docs, pairs, [0.5, 0.25, 0.25], names=("a", "b"))
    with pytest.raises(ValueError):
        dedup_aware_split(docs, pairs, [0.5, 0.3])


def test_unimax_budgets_waterfall(spark):
    """The exact integer waterfall: ascending-cap order, trunc-division
    shares, caps bind for small languages and the uniform share for big
    ones; leftover past total capacity stays unallocated."""
    from intake_spark.llm.sampling import unimax_budgets

    rows = (
        [(i, "aa", "w " * 10) for i in range(2)]           # 2 x 10 = 20 tokens
        + [(100 + i, "bb", "w " * 100) for i in range(4)]  # 4 x 100 = 400
        + [(200 + i, "cc", "w " * 1000) for i in range(8)]  # 8 x 1000 = 8000
        + [(300, None, "w " * 50)]                     # NULL lang excluded
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r.lang: r
        for r in unimax_budgets(docs, total_budget=3000, epochs_cap=2).collect()
    }
    assert set(out) == {"aa", "bb", "cc"}
    assert out["aa"].n_tokens == 20 and out["aa"].cap_tokens == 40
    assert out["bb"].n_tokens == 400 and out["bb"].cap_tokens == 800
    # waterfall: aa first (cap 40 < share 1000) -> 40; bb (cap 800 <
    # share (3000-40)//2 = 1480) -> 800; cc gets the rest's share
    # min(16000, 2160) = 2160
    assert out["aa"].budget_tokens == 40
    assert out["bb"].budget_tokens == 800
    assert out["cc"].budget_tokens == 2160
    # budget exceeding total capacity: everything fully capped
    out2 = {
        r.lang: r.budget_tokens
        for r in unimax_budgets(docs, total_budget=10**9, epochs_cap=1).collect()
    }
    assert out2 == {"aa": 20, "bb": 400, "cc": 8000}
    # zero budget allocates zero everywhere
    out3 = unimax_budgets(docs, total_budget=0).collect()
    assert all(r.budget_tokens == 0 for r in out3)
    with pytest.raises(ValueError):
        unimax_budgets(docs, total_budget=-1)
    with pytest.raises(ValueError):
        unimax_budgets(docs, total_budget=10, epochs_cap=0)


def test_contamination_scores_fraction_and_unmeasurable(spark):
    """The fraction is n_overlap/n_shingles over DISTINCT doc shingles;
    zero-shingle docs are NULL-scored (unmeasurable), zero-hit docs are
    0.0; and the hard decontaminate flag agrees at min_overlap=1."""
    from intake_spark.llm.assembly import contamination_scores, decontaminate

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # shingles: abc bcd cde (3)
            (2, "a b c x y"),          # abc bcx cxy (3), 1 hit
            (3, "p q r s"),            # no overlap
            (4, "xx yy"),              # < 3 tokens: no shingles
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d q")], "doc_id long, text string"
    )  # bench shingles: abc bcd cdq
    out = {r.doc_id: r for r in contamination_scores(docs, bench).collect()}
    assert out[1].n_shingles == 3 and out[1].n_overlap == 2
    assert out[1].contamination_r == round(2 / 3, 6)
    assert out[2].n_overlap == 1 and out[2].contamination_r == round(1 / 3, 6)
    assert out[3].n_overlap == 0 and out[3].contamination_r == 0.0
    assert out[4].n_shingles == 0 and out[4].contamination_r is None
    flags = {r.doc_id: r.contaminated for r in decontaminate(docs, bench).collect()}
    assert all((out[d].n_overlap >= 1) == flags[d] for d in flags)


def test_new_curation_ops_plan_shapes(spark):
    """Scale-posture regression for the round-6 close: dedup_aware_split
    broadcasts the (pair-bounded) group table, contamination_scores
    broadcasts the benchmark shingles — neither shuffles the corpus side
    for its join."""
    from intake_spark.llm.assembly import bench_split, contamination_scores
    from intake_spark.llm.sampling import dedup_aware_split

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    plan = (
        dedup_aware_split(docs, pairs, [0.8, 0.1, 0.1])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    train, bench = bench_split(docs, fraction=0.05)
    plan2 = (
        contamination_scores(train, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the shingle-collision join must be the broadcast, never a shuffle
    # of the exploded corpus shingles against the benchmark
    assert "BroadcastHashJoin" in plan2


def test_keep_best_duplicate_argmax_and_singletons(spark):
    """Within a cluster the longest member survives (ties to lowest id);
    singletons keep themselves; exactly one keeper per group."""
    from intake_spark.llm.dedup import keep_best_duplicate

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 99)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )  # cluster {1,2,3}; 4 and 5 singletons
    out = {r.doc_id: r for r in keep_best_duplicate(docs, pairs, "quality").collect()}
    assert len(out) == 5
    # argmax quality 30 shared by 2 and 3 -> lowest id 2 wins
    assert out[1].keep_id == 2 and out[2].keep_id == 2 and out[3].keep_id == 2
    assert [out[i].keep for i in (1, 2, 3)] == [0, 1, 0]
    assert out[1].group_id == out[2].group_id == out[3].group_id == 1
    assert out[4].keep == 1 and out[4].keep_id == 4 and out[4].group_id == 4
    assert out[5].keep == 1
    # exactly one keeper per group
    from collections import Counter

    keepers = Counter(r.group_id for r in out.values() if r.keep)
    assert all(v == 1 for v in keepers.values()) and len(keepers) == 3


def test_incremental_dedup_flags_archive_near_dups(spark):
    """A new doc nearly identical to an archive doc is dropped; a disjoint
    doc is kept with no match; a sub-k-token doc is kept with no match;
    best-match tie-break goes to the lowest archive id."""
    from intake_spark.llm.dedup import incremental_dedup

    archive = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different archive text about spark engines"),
            (3, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "nothing shared with anything in the archive corpus"),
            (12, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in incremental_dedup(new, archive, threshold=0.5).collect()
    }
    assert set(out) == {10, 11, 12}
    # doc 10 (9 tokens -> 7 shingles) is a prefix of the archive doc
    # (10 tokens -> 8 shingles): all 7 shared -> j = 7/8 >= 0.5, drop;
    # archive docs 1 and 3 tie exactly -> match_id = 1
    assert out[10]["keep"] == 0 and out[10]["match_id"] == 1
    assert out[10]["n_common"] == 7
    assert out[10]["jaccard_r"] == 0.875
    # doc 11 shares "in the archive"? no - different word positions; it
    # may share low-count shingles with doc 2 but stays under threshold
    assert out[11]["keep"] == 1
    # doc 12 has 2 tokens < k=3: no shingles, no match
    assert out[12]["keep"] == 1 and out[12]["match_id"] is None
    assert out[12]["n_common"] == 0 and out[12]["jaccard_r"] is None


def test_incremental_dedup_stop_shingle_guard(spark):
    """max_shingle_df drops ultra-common shingles on BOTH sides before the
    join: a match carried only by a boilerplate shingle disappears, while
    a genuine near-dup (many rare shared shingles) survives."""
    from intake_spark.llm.dedup import incremental_dedup

    boiler = "all rights reserved"
    archive = spark.createDataFrame(
        [(i, f"unique archive text number {i} " + boiler) for i in range(1, 6)]
        + [(99, "a very specific rare sentence repeated almost verbatim here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "totally fresh content " + boiler),
            (11, "a very specific rare sentence repeated almost verbatim now"),
        ],
        "doc_id long, text string",
    )
    guarded = {
        r.doc_id: r.asDict()
        for r in incremental_dedup(
            new, archive, threshold=0.4, max_shingle_df=3
        ).collect()
    }
    # the boilerplate shingle appears in 5 archive docs > 3: doc 10's only
    # bridge is gone
    assert guarded[10]["match_id"] is None and guarded[10]["keep"] == 1
    # doc 11's rare-shingle overlap with 99 survives the guard
    assert guarded[11]["match_id"] == 99 and guarded[11]["keep"] == 0


def test_global_row_number_matches_window_and_avoids_global_sort(spark):
    """global_row_number equals ROW_NUMBER over the same order on any
    input partitioning, and its plan contains NO single-partition
    Exchange (the rangepartitioning shards carry the order)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from intake_spark.llm.assembly import global_row_number

    df = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(500)], "id long, v long"
    ).repartition(11)
    out = global_row_number(df, [F.desc("v"), F.asc("id")], shards=7)
    got = {r.id: r.rank for r in out.collect()}
    w = Window.orderBy(F.desc("v"), F.asc("id"))
    want = {
        r.id: r.rank
        for r in df.withColumn("rank", F.row_number().over(w)).collect()
    }
    assert got == want
    # the range-partitioned base is behind the checkpoint (Scan
    # ExistingRDD); the assertable property is that NOTHING downstream
    # funnels through one partition
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "ExistingRDD" in plan

    # empty frame: no rows, no crash
    assert global_row_number(df.filter("v < 0"), [F.asc("id")]).count() == 0


def test_ivf_semantic_dedup_exact_method_recall_and_determinism(spark):
    """semantic_dedup_pairs_ivf (integer k-means lists) keeps the recall
    bar AND returns the identical pair set under any input partitioning —
    the reproducible-audit property of the scale path."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(200):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    for j in range(50):
        base = np.array(rows[j][1])
        dup = base + rng.normal(scale=1e-3, size=16)
        rows.append((1000 + j, [float(x) for x in dup]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.95).collect()
    }
    p1 = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_dedup_pairs_ivf(
            emb, n_lists=8, threshold=0.95
        ).collect()
    }
    p2 = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_dedup_pairs_ivf(
            emb.repartition(9), n_lists=8, threshold=0.95
        ).collect()
    }
    assert p1 == p2  # deterministic under repartitioning
    assert p1 <= exact
    assert len(exact & p1) / len(exact) >= 0.95


def test_q122_small_corpus_shared_rank(spark, monkeypatch):
    """Review finding: on a tiny corpus two quantile targets share a rank
    (n=5 puts 0.9 and 0.99 both at ceil(q*n)=5) — q122 must emit one row
    PER quantile like its oracle, not raise DUPLICATED_MAP_KEY."""
    import intake_spark.llm.queries as Q
    import intake_spark.session as sess

    docs = spark.createDataFrame(
        [(i, "x", "en", "s", 10 * (i + 1)) for i in range(5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(
        sess, "load_table", lambda spark, sf_dir, name: docs
    )
    monkeypatch.setattr(Q, "load_table", lambda spark, sf_dir, name: docs)
    out = Q.q122_exact_corpus_quantiles(spark, "ignored").collect()
    got = {r.q: r.cut for r in out}
    # ranks: ceil(.25*5)=2, ceil(.5*5)=3, ceil(.75*5)=4, ceil(.9*5)=5,
    # ceil(.99*5)=5 -> five rows, 0.9 and 0.99 sharing the max element
    assert len(out) == 5
    assert got == {0.25: 20, 0.5: 30, 0.75: 40, 0.9: 50, 0.99: 50}


def test_cms_sketch_weighted_equals_stream(spark):
    """cms_sketch(weight_col=) over a pre-aggregated (value, count) frame
    builds the IDENTICAL counter matrix as the raw stream form — the
    q111 one-explode optimization's safety net."""
    from intake_spark.llm import sketches

    stream = spark.createDataFrame(
        [(t,) for t in ["a"] * 5 + ["b"] * 3 + ["c"] * 1], "term string"
    )
    agg = stream.groupBy("term").count()
    raw = {
        (r.row, r.cell): r.cnt
        for r in sketches.cms_sketch(stream, "term").collect()
    }
    wtd = {
        (r.row, r.cell): r.cnt
        for r in sketches.cms_sketch(agg, "term", weight_col="count").collect()
    }
    assert raw == wtd and sum(raw.values()) == 4 * 9  # depth * n


def test_blocklist_filter_semantics(spark):
    """Case-insensitive token match, max_hits tolerance, NULL text, and
    the empty-list refusal."""
    import pytest

    from intake_spark.llm.text import blocklist_filter

    df = spark.createDataFrame(
        [(1, "Spam and CASINO words here"), (2, "clean text only"),
         (3, None), (4, "spam spam spam")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in blocklist_filter(
        df, ["spam", "casino"], max_hits=1).collect()}
    assert out[1].n_blocked == 2 and out[1].keep == 0  # Spam + CASINO
    assert out[2].n_blocked == 0 and out[2].keep == 1
    assert out[3].n_words == 0 and out[3].keep == 1
    assert out[4].n_blocked == 3 and out[4].keep == 0
    strict = {r.doc_id: r.keep for r in blocklist_filter(
        df, ["spam"], max_hits=0).collect()}
    assert strict == {1: 0, 2: 1, 3: 1, 4: 0}
    with pytest.raises(ValueError, match="at least one term"):
        blocklist_filter(df, [])


def test_blocklist_filter_refuses_phrases_and_weighted_cms_nulls(spark):
    """Review findings: a whitespace-containing blocklist term is refused
    by name (per-token matching would silently never match it); a NULL
    weight in cms_sketch(weight_col=) contributes 0, never a NULL cell."""
    import pytest

    from intake_spark.llm import sketches
    from intake_spark.llm.text import blocklist_filter

    df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    with pytest.raises(ValueError, match="contains whitespace"):
        blocklist_filter(df, ["bad phrase"])

    agg = spark.createDataFrame(
        [("a", 5), ("b", None)], "term string, cnt int"
    )
    sk = sketches.cms_sketch(agg, "term", weight_col="cnt").collect()
    assert all(r.cnt is not None for r in sk)
    assert sum(r.cnt for r in sk) == 4 * 5  # depth * (5 + 0)


def test_blocklist_filter_non_ascii_terms_match(spark):
    """Terms are lowercased IN-PLAN (same engine as the tokens): Python
    str.lower() and the JVM disagree on some Unicode forms (Turkish
    dotted İ lowers to 'i̇' — 2 codepoints — in Python), which made a
    non-ASCII policy term silently never match."""
    from intake_spark.llm.text import blocklist_filter

    df = spark.createDataFrame(
        [(1, "visit İSTANBUL today"), (2, "clean text"),
         (3, "straẞe ahead")],  # ẞ LATIN CAPITAL SHARP S
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in blocklist_filter(
        df, ["İstanbul", "straẞe"]).collect()}
    assert out[1].n_blocked == 1 and out[1].keep == 0
    assert out[2].n_blocked == 0 and out[2].keep == 1
    assert out[3].n_blocked == 1 and out[3].keep == 0


def test_hashed_linear_classifier_rejects_a_duplicated_id(spark):
    """A doc_id that occurs twice would count its document four times in
    n; the Gram pass raises instead, naming the id."""
    import pytest

    from intake_spark.llm.classifier import hashed_linear_classifier

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (2, "gamma psi"), (3, "omega")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="unique 'doc_id' values; 2 occurs"):
        hashed_linear_classifier(df, F.col("doc_id") > 1).collect()


def test_hashed_linear_classifier_bucket_ceiling(spark):
    """The Gram-factored trainer refuses vocab-sized bucket counts by
    name (it collects (buckets+1)^2 Gram cells to the driver)."""
    import pytest

    from intake_spark.llm.classifier import hashed_linear_classifier

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="join-per-round"):
        hashed_linear_classifier(df, F.col("doc_id") > 0, buckets=8193)


def test_hapax_stats_semantics(spark):
    from intake_spark.llm.text import hapax_stats

    df = spark.createDataFrame(
        [
            (1, "a b c a", "s1"),      # tokens 4, vocab 3, hapax 2 (b, c)
            (2, "a a", "s1"),          # s1 totals: 6 tokens, vocab 3, hapax 2
            (3, "x y z", "s2"),        # all hapax
            (4, None, "s3"),           # no tokens -> source absent
        ],
        "doc_id int, text string, source string",
    )
    got = {r.source: r for r in hapax_stats(df).collect()}
    assert set(got) == {"s1", "s2"}
    s1 = got["s1"]
    assert (s1.n_tokens, s1.vocab, s1.hapax) == (6, 3, 2)
    assert s1.hapax_pm == (1000 * 2) // 3 and s1.ttr_pm == (1000 * 3) // 6
    s2 = got["s2"]
    assert (s2.n_tokens, s2.vocab, s2.hapax, s2.hapax_pm, s2.ttr_pm) == (
        3, 3, 3, 1000, 1000,
    )


def test_word_profile_divergence_zero_count_words(spark):
    from intake_spark.llm.text import word_profile_divergence

    df = spark.createDataFrame(
        [
            (1, "the the cat", "s1"),  # 3 tokens; the: 2, a: 0
            (2, "a dog", "s2"),        # 2 tokens; the: 0, a: 1
        ],
        "doc_id int, text string, source string",
    )
    rows = {r.source: r for r in
            word_profile_divergence(df, ["the", "a"]).collect()}
    # corpus: 5 tokens; the 2 -> 400000 ppm, a 1 -> 200000 ppm
    # s1: the 666666, a 0 -> (666666-400000)^2 + (0-200000)^2
    assert rows["s1"].divergence_fx == (666666 - 400000) ** 2 + 200000 ** 2
    # s2: the 0, a 500000 -> 400000^2 + 300000^2
    assert rows["s2"].divergence_fx == 400000 ** 2 + (500000 - 200000) ** 2
    assert rows["s1"].listed_tokens == 2 and rows["s2"].listed_tokens == 1
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        word_profile_divergence(df, [])


def test_template_prefixes_ties_and_share(spark):
    from intake_spark.llm.text import template_prefixes

    df = spark.createDataFrame(
        [
            (1, "hello world extra tail", "s1"),
            (2, "hello world other body", "s1"),
            (3, "something else", "s1"),
            (4, "aaa bbb", "s2"),   # tie at count 1 in s2:
            (5, "zzz yyy", "s2"),   # smallest prefix wins ("aaa bbb")
        ],
        "doc_id int, text string, source string",
    )
    got = {r.source: r for r in template_prefixes(df, k=2).collect()}
    assert got["s1"].top_prefix == "hello world"
    assert got["s1"].top_count == 2 and got["s1"].n_docs == 3
    assert got["s1"].share_pm == (1000 * 2) // 3
    assert got["s2"].top_prefix == "aaa bbb" and got["s2"].top_count == 1
