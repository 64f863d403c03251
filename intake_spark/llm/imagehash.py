"""Perceptual image hashing + Hamming-banded near-duplicate joins.

Image-level dedup for multimodal training corpora: aHash / dHash /
pHash over DECODED pixels (the stdlib codecs in
:mod:`intake_spark.llm.multimodal`), then pair generation by pigeonhole
banding — an equi-join on hash slices, never an all-pairs scan, the
same scale posture as :func:`intake_spark.llm.dedup.simhash_pairs`.

Why perceptual and not byte hashes: the same picture re-encoded (PNG
vs WebP vs JPEG quality ladder), brightness/contrast-shifted, or
resized hashes to DIFFERENT bytes but the SAME pHash — pHash thresholds
the low-frequency DCT coefficients against their median, and any
positive affine remap ``a*px + b`` scales the AC coefficients and the
median by the same ``a`` (the DC row absorbs ``b``), leaving every
comparison bit unchanged. That invariance is pinned by test, not
assumed.

Reference surface: the reference only DECODES images
(PILImageReader, /root/reference/intake/readers/readers.py:2228);
content-fingerprint image dedup is part of this repo's mandated
training-data-pipeline surface, alongside MinHash/SimHash for text.

Scale posture at 100 TB: hashing is mapper-only (Arrow-batched
mapInPandas over binary blobs, one 64-bit integer out per image); the
pair stage shuffles (id, 16-bit band) tuples only — image bytes never
cross the wire. Band-bucket skew is impossible beyond 2^16 buckets per
band by construction.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from struct import error as struct_error

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intake_spark.session import materialize

__all__ = [
    "ahash64",
    "dhash64",
    "phash64",
    "image_hashes",
    "hamming_band_pairs",
    "phash_pairs",
]


def _block_mean(a, out_h: int, out_w: int):
    """Exact area-mean downscale to (out_h, out_w) by index-split block
    averaging — LINEAR in the pixel values (the property the pHash
    affine-invariance proof needs), deterministic for any input size."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    # inputs smaller than the target grid first nearest-UPSAMPLE
    # (index repetition — also linear), so every block is non-empty
    if a.shape[0] < out_h:
        a = a[(np.arange(out_h) * a.shape[0]) // out_h]
    if a.shape[1] < out_w:
        a = a[:, (np.arange(out_w) * a.shape[1]) // out_w]
    rows = np.array_split(np.arange(a.shape[0]), out_h)
    cols = np.array_split(np.arange(a.shape[1]), out_w)
    rowsum = np.stack([a[r].mean(axis=0) for r in rows])
    return np.stack([rowsum[:, c].mean(axis=1) for c in cols], axis=1)


def _gray(arr):
    """(H, W[, C]) -> float64 grayscale by channel mean (linear)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    return a


_DCT_CACHE: dict = {}


def _dct_mat(n: int):
    """Orthonormal DCT-II basis matrix (the JPEG/pHash transform)."""
    import numpy as np

    m = _DCT_CACHE.get(n)
    if m is None:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
        m[0] /= np.sqrt(2.0)
        _DCT_CACHE[n] = m
    return m


def _bits_to_int(bits) -> int:
    h = 0
    for i, b in enumerate(bits):
        if b:
            h |= 1 << i
    return h


def phash64(arr) -> int:
    """63-bit perceptual hash: 32x32 area-mean grayscale -> 2-D DCT ->
    the 8x8 low-frequency corner minus DC (63 coefficients) thresholded
    at their median. Bit 63 stays 0 so the value is a non-negative
    int64 everywhere (Spark BIGINT, Arrow)."""
    import numpy as np

    g = _block_mean(_gray(arr), 32, 32)
    d = _dct_mat(32)
    coef = d @ g @ d.T
    low = coef[:8, :8].ravel()[1:]  # drop DC: absorbs brightness offset
    # snap float-noise coefficients to exact zero (relative to the DC
    # magnitude): a constant/flat image has AC terms that are pure
    # rounding noise whose SIGNS differ between affine renditions —
    # snapped, its hash is stably all-zero-bits
    tol = 1e-8 * (1.0 + abs(float(coef[0, 0])))
    low = np.where(np.abs(low) < tol, 0.0, low)
    med = float(np.median(low))
    return _bits_to_int(low > med)


def ahash64(arr) -> int:
    """63-bit average hash: 8x8 block means thresholded at the mean of
    the OTHER 63 cells (cell 0 is the reference, its bit always 0) —
    cheap, catches exact/resized copies; not affine-invariant like
    pHash (the mean moves with ``b``)."""
    import numpy as np

    g = _block_mean(_gray(arr), 8, 8).ravel()
    rest = g[1:]
    return _bits_to_int(rest > float(np.mean(rest)))


def dhash64(arr) -> int:
    """63-bit difference hash (8x9 grid -> 8 rows x 8 horizontal
    gradient signs = 64 comparisons, truncated to 63 bits): gradient
    comparisons are invariant to any positive affine remap, like
    pHash, but spatial rather than spectral."""
    g = _block_mean(_gray(arr), 8, 9)
    bits = (g[:, 1:] > g[:, :-1]).ravel()
    return _bits_to_int(bits[:63])


_ALGOS = {"phash": phash64, "ahash": ahash64, "dhash": dhash64}

IMAGE_HASH_SCHEMA = T.StructType(
    [
        T.StructField("algo", T.StringType(), False),
        T.StructField("hash", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def image_hashes(
    df: DataFrame,
    image_col: str = "image",
    id_col: str = "image_id",
    algos: tuple = ("phash",),
) -> DataFrame:
    """(id, algo, hash, err) per image: decode executor-side with the
    stdlib codecs and hash. Arrow-batched mapInPandas; blobs never
    leave the executor, corrupt/gated blobs become err rows instead of
    failing the batch (the triage convention of media_meta_features)."""
    from intake_spark.session import ensure_py_deps

    bad = sorted(set(algos) - set(_ALGOS))
    if bad:
        raise ValueError(f"unknown image hash algo(s) {bad}; "
                         f"known: {sorted(_ALGOS)}")
    ensure_py_deps(df.sparkSession)
    out_schema = T.StructType(
        [df.schema[id_col]] + list(IMAGE_HASH_SCHEMA.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from intake_spark.llm.multimodal import decode_image

        for pdf in batches:
            rows = []
            for iid, blob in zip(pdf[id_col], pdf[image_col]):
                try:
                    arr = decode_image(bytes(blob))
                    for algo in algos:
                        h = _ALGOS[algo](arr)
                        rows.append((iid, algo,
                                     int(np.uint64(h).astype(np.int64)),
                                     None))
                except (ValueError, NotImplementedError, KeyError,
                        IndexError, struct_error, zlib.error) as exc:
                    for algo in algos:
                        rows.append((iid, algo, None,
                                     f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(
                rows, columns=[id_col, "algo", "hash", "err"]
            )

    return df.select(id_col, image_col).mapInPandas(run, out_schema)


def hamming_band_pairs(
    sig: DataFrame,
    id_col: str = "image_id",
    hash_col: str = "hash",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming) from a (id, hash) frame by
    pigeonhole banding — the generalization of
    :func:`intake_spark.llm.dedup.simhash_pairs` to ANY integer
    signature column (pHash here, but any 64-bit sketch works).

    Recall is exact for ``max_hamming < bands``: a pair differing in at
    most ``max_hamming`` bits must agree on at least one full band.
    The join is an equi-join on (band_id, band_val); verification is
    one xor + bit_count per candidate. Never all-pairs."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < bands, got "
            f"{max_hamming} >= {bands}"
        )
    if bands > bits or bits % bands != 0:
        raise ValueError(
            f"bands must divide bits, got bits={bits} bands={bands}"
        )
    if bits // bands >= 64:
        # a full-width band cannot be masked with a LongType literal
        # (2^64-1 overflows); exact-duplicate detection is a plain
        # equality join on the hash, not a banding problem
        raise ValueError(
            "bands must yield slices narrower than 64 bits — for exact "
            "duplicates join on the hash column directly"
        )
    r = bits // bands
    # the signature frame feeds BOTH sides of the self-join (and is
    # often an expensive decode+hash mapInPandas): truncate lineage so
    # it is computed once, not once per join branch — (id, int64) rows
    # are tiny at any corpus scale
    sig = materialize(sig.filter(F.col(hash_col).isNotNull()), eager=False)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftrightunsigned(F.col(hash_col), b * r)
                .bitwiseAND(F.lit(2**r - 1))
                .alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    banded = (
        sig.select(id_col, hash_col, F.explode(band_structs).alias("b"))
        .select(
            id_col,
            hash_col,
            F.col("b.band_id").alias("band_id"),
            F.col("b.band_val").alias("band_val"),
        )
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"),
        "band_id", "band_val",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"),
        "band_id", "band_val",
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def phash_pairs(
    df: DataFrame,
    image_col: str = "image",
    id_col: str = "image_id",
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: decode -> pHash ->
    Hamming-banded equi-join. The one-stop image-dedup operator."""
    sig = image_hashes(df, image_col, id_col, algos=("phash",))
    return hamming_band_pairs(
        sig, id_col=id_col, hash_col="hash",
        bands=bands, max_hamming=max_hamming,
    )
