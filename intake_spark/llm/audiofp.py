"""Audio landmark fingerprinting + match joins (Shazam-style).

Audio-level near-dup detection for multimodal training corpora: decode
PCM executor-side (the stdlib WAV/FLAC/AIFF/AU/Vorbis codecs in
:mod:`intake_spark.llm.multimodal`), frame it, take per-band spectral
peaks, and hash (peak, peak, frame-delta) LANDMARK pairs — the
constellation scheme of Wang 2003 ("An Industrial-Strength Audio
Search Algorithm", ISMIR). Matching is an equi-join on landmark
hashes, never a waveform cross-correlation: re-encoded, re-gained or
re-dithered copies of the same recording keep the same peak
constellation, so they share most landmarks, while distinct recordings
share almost none.

Scale posture at 100 TB: fingerprinting is mapper-only (Arrow-batched
mapInPandas; audio bytes never cross the wire — only (id, int64
landmark) rows do). The match stage is an equi-join on the landmark
hash with a stop-landmark cap (``max_landmark_df``) exactly like the
stop-shingle cap on the Jaccard build: a landmark shared by d
recordings would otherwise emit d^2 candidates.
"""

from __future__ import annotations

import wave
import zlib
from collections.abc import Iterator
from struct import error as struct_error

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intake_spark.session import materialize

__all__ = ["landmarks", "audio_landmarks", "landmark_match_pairs"]

# default analysis geometry: 256-sample frames, half-overlap, the
# spectrum above DC split into 4 bands, peaks paired with the next
# FANOUT frames' peaks
FRAME = 256
HOP = 128
NBANDS = 4
FANOUT = 3


def landmarks(pcm, frame: int = FRAME, hop: int = HOP,
              nbands: int = NBANDS, fanout: int = FANOUT) -> set:
    """Distinct landmark hashes of one mono PCM array.

    Per frame: |rFFT| over bins 1..frame//2, split into ``nbands``
    equal bands, one argmax bin per band (gain-invariant: scaling the
    waveform scales every magnitude equally). Per landmark: anchor
    peak f1 at frame t pairs with every peak f2 at frames t+1..t+dt,
    hashed as f1 << 20 | f2 << 8 | dt — a 28-bit value, comfortably a
    BIGINT. Returned as a SET: containment is over distinct landmarks,
    so duration imbalance does not inflate scores."""
    import numpy as np

    # the hash packs f1 << 20 | f2 << 8 | dt: peak bins must fit in 12
    # bits (peak <= frame//2) and dt in 8 — reject geometries that
    # would silently overlap fields instead of corrupting hashes
    if frame // 2 > 4095:
        raise ValueError(
            f"landmarks: frame={frame} puts peak bins past 12 bits "
            "(frame//2 must be <= 4095)"
        )
    if fanout > 255:
        raise ValueError(f"landmarks: fanout={fanout} exceeds the 8-bit dt field")
    x = np.asarray(pcm, dtype=np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    n = (len(x) - frame) // hop + 1 if len(x) >= frame else 0
    if n <= 0:
        return set()
    bands = np.array_split(np.arange(frame // 2), nbands)
    # frame the signal in bounded chunks: materializing every frame at
    # once costs n*frame*8 bytes (~1.6 GB for an hour of 8 kHz audio);
    # peaks are only n*nbands int64s
    peaks = np.empty((n, nbands), dtype=np.int64)
    chunk = 32768
    for t0 in range(0, n, chunk):
        t1 = min(t0 + chunk, n)
        idx = (np.arange(frame)[None, :]
               + hop * np.arange(t0, t1)[:, None])
        mags = np.abs(np.fft.rfft(x[idx], axis=1))[:, 1:]  # drop DC
        for bi, b in enumerate(bands):
            peaks[t0:t1, bi] = b[np.argmax(mags[:, b], axis=1)] + 1
    parts = []
    for dt in range(1, fanout + 1):
        if dt >= n:
            break
        f1 = peaks[:-dt, :, None]   # anchors
        f2 = peaks[dt:, None, :]    # targets dt frames later
        parts.append(((f1 << 20) | (f2 << 8) | dt).ravel())
    if not parts:
        return set()
    return set(np.unique(np.concatenate(parts)).tolist())


AUDIO_LANDMARK_SCHEMA = T.StructType(
    [
        T.StructField("landmark", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def audio_landmarks(
    df: DataFrame,
    audio_col: str = "audio",
    id_col: str = "audio_id",
) -> DataFrame:
    """(id, landmark, err) rows: decode each blob with the stdlib audio
    codecs and emit its distinct landmark hashes. Undecodable blobs
    become a single err row (triage convention), never a batch
    failure."""
    from intake_spark.session import ensure_py_deps

    ensure_py_deps(df.sparkSession)
    # The mapper emits ONE array row per recording and the explode to
    # (id, landmark) rows happens JVM-side: a recording carries ~100+
    # landmarks, so per-landmark Python tuples + the Arrow transpose of
    # the exploded frame dominated the mapper's cost (measured: ~0.8 ms
    # of FFT per rendition vs ~2 ms of row building at sf0.1 — guide
    # §4.2/§2.3, move fewer rows across the Python boundary). An err row
    # is an array of ONE null landmark, so the explode yields exactly
    # the old (id, NULL, err) row; an empty landmark set is an empty
    # array, dropped by explode exactly as the old code emitted nothing.
    mid_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("lms", T.ArrayType(T.LongType(), True), False),
            T.StructField("err", T.StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from intake_spark.llm.multimodal import decode_audio_full

        for pdf in batches:
            ids, arrs, errs = [], [], []
            for aid, blob in zip(pdf[id_col], pdf[audio_col]):
                try:
                    _rate, arr, _sw = decode_audio_full(bytes(blob))
                    ids.append(aid)
                    arrs.append(sorted(landmarks(arr)))
                    errs.append(None)
                except (ValueError, NotImplementedError, KeyError,
                        IndexError, EOFError, struct_error,
                        wave.Error, zlib.error) as exc:
                    ids.append(aid)
                    arrs.append([None])
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame({id_col: ids, "lms": arrs, "err": errs})

    return (
        df.select(id_col, audio_col)
        .mapInPandas(run, mid_schema)
        .select(id_col, F.explode("lms").alias("landmark"), "err")
    )


def landmark_match_pairs(
    lm: DataFrame,
    id_col: str = "audio_id",
    min_containment_pm: int = 800,
    max_landmark_df: int = 100,
) -> DataFrame:
    """(id_a, id_b, n_common, containment_pm) for recording pairs that
    share landmarks: equi-join on the landmark hash, count shared per
    pair, containment against the SMALLER set (per-mille, floor
    division — integer-exact for the oracle).

    ``max_landmark_df`` drops landmarks present in more than that many
    recordings before the self-join (the stop-shingle cap): numerators
    are lower bounds under the cap, denominators stay the full distinct
    counts, so capped containment <= exact containment and the filter
    can only lose pathological hot-landmark pairs, never invent one."""
    # the landmark frame feeds three plan branches (sizes, hot-landmark
    # scan, both join sides) and usually comes from an expensive
    # decode+FFT mapInPandas: truncate lineage so it is computed once
    lm = materialize(
        lm.filter(F.col("landmark").isNotNull()).select(id_col, "landmark"),
        eager=False,
    )
    sizes = lm.groupBy(id_col).agg(F.count("*").alias("n_lm"))
    hot = (
        lm.groupBy("landmark")
        .agg(F.countDistinct(id_col).alias("df_"))
        .filter(F.col("df_") > max_landmark_df)
        .select("landmark")
    )
    cold = lm.join(hot, "landmark", "left_anti")
    a = cold.select(F.col(id_col).alias("id_a"), "landmark")
    b = cold.select(F.col(id_col).alias("id_b"), "landmark")
    shared = (
        a.join(b, "landmark")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_lm").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_lm").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "n_common",
            F.expr("(1000 * n_common) div least(n_a, n_b)").alias(
                "containment_pm"
            ),
        )
        .filter(F.col("containment_pm") >= min_containment_pm)
    )
