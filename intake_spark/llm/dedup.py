"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB:

- Exact / fingerprint dedup is one hash-aggregate (map-side partial combine;
  the only shuffle is on the 16-byte digest, not the document text).
- Exact pairwise Jaccard (``jaccard_pairs``) is the *oracle* algorithm —
  correct but O(candidate pairs); it shuffles once on the shingle. At scale
  the shingle join must be capped (``max_shingle_df``) so stop-shingles don't
  create quadratic blowup.
- MinHash+LSH (``minhash_signatures`` → ``lsh_candidate_pairs``) is the
  scale path: fixed-width signatures (k integers per doc regardless of doc
  size), banding turns near-dup search into an equi-join on band keys — the
  join Spark already knows how to distribute. Hash functions are
  *deterministic* (md5-derived, fixed affine coefficients) so results are
  reproducible run-to-run and oracle-checkable — unlike
  ``pyspark.ml.feature.MinHashLSH`` whose coefficients are RNG-seeded.
- SimHash packs a document into one 32-bit integer; near-dup = small
  Hamming distance, findable by pigeonhole banding on bit-slices.

Reference parity note: the reference has **no** dedup operators (its closest
surface is the LLM embedding readers, intake/readers/readers.py:583-833);
these are part of the mandated beyond-reference LLM-pipeline layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intake_spark.session import local_frame

# Deterministic affine-hash family over a 32-bit md5-derived base hash.
# a_j < 2^28 keeps a*h < 2^60 — no 64-bit overflow before the modulus.
MINHASH_P = 4294967311  # prime > 2^32


def _affine_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    return [(1_000_003 + 2_000_029 * j, 12_345 + 67_891 * j) for j in range(num_hashes)]


def base_hash(col):
    """Deterministic 32-bit integer hash of a string column: first 8 hex
    chars of md5, parsed base-16. Identical in any engine with md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle) rows.

    Uses sequence/slice higher-order functions (JVM-side). Documents with
    fewer than k tokens produce no shingles.
    """
    from intake_spark.session import spread_small_scan

    # the explode + per-shingle hashing above a small single-split scan
    # otherwise runs on the scan's one task (spread_small_scan is a
    # no-op when the scan already has cluster-wide splits)
    df = spread_small_scan(df.select(F.col(id_col), F.col(text_col)))
    w = F.split(F.col(text_col), " ")
    df = df.select(F.col(id_col), w.alias("_w")).filter(F.size("_w") >= k)
    sh = F.expr(f"transform(sequence(1, size(_w) - {k - 1}), i -> concat_ws(' ', slice(_w, i, {k})))")
    return df.select(id_col, F.explode(sh).alias("shingle")).distinct()


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact deduplication — keep one row per distinct value of ``subset``
    (or the whole row). One hash-aggregate."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group documents by content hash: (text_hash, keep_id, n_dups).
    ``keep_id`` = min id per group — the canonical survivor."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingle_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared pair pipeline for jaccard_pairs / containment_pairs:
    (doc_a, doc_b, n_a, n_b, n_common) for every co-shingled pair.

    Each doc's shingle count attaches to its shingle rows via a window (one
    shuffle on the doc id) instead of joining a separate sizes table twice —
    two fewer shuffles in the pair pipeline. No .cache(): materializing the
    widest intermediate is 3.6x slower than recomputing it (measured at
    sf0.1) and a cached plan pinned per call leaks memory across a
    long-lived session. ``max_shingle_df`` is the stop-shingle cap: a
    shingle-partitioned window filter — one shuffle on the join key itself
    (reused by the self-join) and no broadcast, because the sub-cap shingle
    set is almost-all shingles on real corpora, far too large to broadcast
    at scale. Denominators (n_a/n_b) always use the full per-doc counts.
    """
    from pyspark.sql.window import Window

    sh = shingles(df, id_col, text_col, k)
    sh = sh.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    if max_shingle_df is not None:
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("_n").alias("n_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("_n").alias("n_b"), "shingle")
    return (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (doc_a, doc_b, jaccard >= threshold).

    Plan: shingle-explode → self-equi-join on shingle → count intersections →
    join per-doc shingle counts → |A∩B| / (|A|+|B|-|A∩B|). The only shuffles
    are the shingle equi-join and the pair aggregate.

    ``max_shingle_df`` drops shingles appearing in more than that many docs
    (stop-shingles) before the join — essential at scale to bound the
    candidate-pair blowup; leave None for oracle-exact semantics.
    """
    inter = _shingle_intersections(df, id_col, text_col, k, max_shingle_df)
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """Deterministic MinHash signatures: (id, mh0..mh{n-1}).

    min_j = min over shingles s of (a_j * h(s) + b_j) mod P, with h(s) the
    md5-derived 32-bit hash. MAPPER-ONLY: the per-doc min runs as JVM
    higher-order functions over the in-row shingle array (one md5 pass,
    then num_hashes array_min folds), so signature computation shuffles
    NOTHING — where the explode + groupBy formulation re-shuffled every
    document's shingle set on the id. Also the reason the same expression
    works unchanged on a STREAMING DataFrame (no stateful agg involved).
    """
    w = F.split(F.col(text_col), " ")
    sh = F.expr(
        f"array_distinct(transform(sequence(1, size(_w) - {k - 1}), "
        f"i -> concat_ws(' ', slice(_w, i, {k}))))"
    )
    # one md5 per distinct shingle, shared by all hash functions
    hashes = (
        "transform(_sh, s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint))"
    )
    cols = [
        F.expr(
            f"array_min(transform(_h, h -> pmod({a}L * h + {b}L, {MINHASH_P}L)))"
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(_affine_coeffs(num_hashes))
    ]
    from intake_spark.session import spread_small_scan

    # one md5 + num_hashes affine folds per shingle is the heaviest
    # mapper in the dedup family — spread it when the scan is a single
    # split (no-op on streaming frames and well-split inputs)
    df = spread_small_scan(df.select(F.col(id_col), F.col(text_col)))
    return (
        df.select(F.col(id_col), w.alias("_w"))
        .filter(F.size("_w") >= k)
        .withColumn("_sh", sh)
        .withColumn("_h", F.expr(hashes))
        .select(id_col, *cols)
    )


def minhash_band_keys(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Cut signatures into ``bands`` bands of r = num_hashes/bands values
    and emit (id, band_id, band_key) rows — the LSH bucketing key. Pure
    mapper (struct-array explode), so it composes with batch AND streaming
    inputs."""
    width = sum(1 for f_ in sig_df.schema.fields if f_.name.startswith("mh"))
    if width and num_hashes < width:
        # silently banding a PREFIX of a wider signature changes recall
        # with no error; a too-large num_hashes already fails loudly on
        # the missing column
        raise ValueError(
            f"signature is {width} hashes wide but num_hashes={num_hashes} "
            "would band only a prefix — pass the signature's actual width"
        )
    r = num_hashes // bands
    if r == 0 or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} with r >= 1 "
            "(r = 0 would put EVERY document in one constant bucket — an "
            "accidental all-pairs join; a non-dividing split silently drops "
            "signature values and changes recall)"
        )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.md5(F.concat_ws("_", *[F.col(f"mh{bi * r + j}") for j in range(r)])).alias(
                    "band_key"
                ),
            )
            for bi in range(bands)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding over minhash signatures → candidate pairs (doc_a, doc_b).

    Signature is cut into ``bands`` bands of r = num_hashes/bands values;
    docs agreeing on *any* full band become candidates. Implemented as
    explode-to-(band_id, band_key) + self-equi-join — a plain shuffle join on
    a compact key, the scalable formulation (no all-pairs comparison).

    The banded table is checkpointed before the self-join: signatures are
    now mapper-only (no Exchange), so without a materialization point both
    join branches would re-execute the whole text→shingle→md5 signature
    pipeline (the old groupBy formulation got this reuse for free from its
    shuffle — measured 0.7 s of the q32 pipeline at sf0.1).
    """
    banded = minhash_band_keys(sig_df, id_col, num_hashes, bands).localCheckpoint(
        eager=False
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "band_id", "band_key")
    b = banded.select(F.col(id_col).alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact Jaccard verification of candidates only. Returns
    (doc_a, doc_b, jaccard). This is the 100 TB dedup path: all-pairs work
    is confined to LSH buckets."""
    from pyspark.sql.window import Window

    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k)
    # checkpointed: the candidate set feeds the id semi-join AND both verify
    # joins — without it the whole signature+banding pipeline re-executes
    # three times
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands).localCheckpoint(eager=False)
    # Verify only needs shingles of docs that appear in some candidate pair —
    # a tiny fraction of the corpus once LSH has pruned. The semi-join cuts
    # the shuffled shingle volume from O(corpus) to O(candidate docs): at
    # sf0.1 260 k rows -> ~50 k (2.5x faster here), and at 100 TB it is the
    # difference between re-shuffling every document's shingles and only the
    # near-dup cluster members'. AQE broadcasts the id set when small.
    ids = (
        cands.select(F.col("doc_a").alias(id_col))
        .unionByName(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # uncached by measurement: pinning the widest intermediate is 3.3x
    # slower than recomputing it for the two verify joins, and the pinned
    # blocks leak across a long-lived session
    sh = (
        shingles(df.join(ids, id_col, "leftsemi"), id_col, text_col, k)
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("_n").alias("n_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("_n").alias("n_b"), "shingle")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_first_seen(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """First-seen near-dup flags — the ingestion-order dedup policy:
    a document is flagged if ANY of its LSH band keys was already claimed
    by a lower-id document. Output (id, n_bands, n_dup_bands, is_dup).
    NOTE: documents with fewer than ``k`` tokens produce no signature and
    therefore NO output row — when using this table as a keep-filter,
    left-join it from the corpus (missing row = not a dup) rather than
    inner-joining, or short documents silently vanish.

    This is the batch arm of the streaming ingestion guard
    (:func:`intake_spark.streaming.stream_near_dup_flags`): identical
    band keys, identical first-claim semantics (min id per band key), so
    stream and batch runs of the same data agree row-for-row. Plan:
    mapper-only signatures+banding, one aggregate on the band key, one
    join back, one per-doc rollup — all compact keys.
    """
    banded = minhash_band_keys(
        minhash_signatures(df, id_col, text_col, num_hashes, k),
        id_col,
        num_hashes,
        bands,
        # referenced by both the firsts aggregate and the join-back:
        # materialize the compact (id, band) table once instead of running
        # the mapper signature pipeline twice
    ).localCheckpoint(eager=False)
    # first-claim compares on the long-cast id, EXACTLY like the stream arm
    # (streaming.py stream_near_dup_flags): a native string id would order
    # lexically here ('10' < '9') while the stream sorts numerically, and
    # the two arms would flag OPPOSITE rows of the same duplicate pair
    idl = F.col(id_col).cast("long")
    firsts = banded.groupBy("band_id", "band_key").agg(
        F.min(idl).alias("_first")
    )
    dup = F.sum((idl > F.col("_first")).cast("int"))
    return (
        banded.join(firsts, ["band_id", "band_key"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            dup.cast("bigint").alias("n_dup_bands"),
            (dup > 0).cast("int").alias("is_dup"),
        )
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """32-bit SimHash per document: (id, simhash).

    Each token votes ±1 on every bit of its md5-derived hash; bit i of the
    result is 1 iff the weighted vote is positive. One explode + one
    aggregate of ``bits`` sums — mapper-heavy, single small shuffle.
    """
    if not 1 <= bits <= 32:
        # base_hash is 32-bit: any bit above 31 votes a constant 0, so a
        # band over those bits puts EVERY document in one bucket — the
        # all-pairs blowup the banding guards exist to prevent
        raise ValueError(f"bits must be in [1, 32] (32-bit base hash), got {bits}")
    from intake_spark.session import spread_small_scan

    df = spread_small_scan(df.select(F.col(id_col), F.col(text_col)))
    w = F.explode(F.split(F.col(text_col), " ")).alias("tok")
    toks = df.select(F.col(id_col), w)
    h = base_hash(F.col("tok"))
    toks = toks.select(id_col, h.alias("h"))
    bit_votes = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{i}")
        for i in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*bit_votes)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select(id_col, sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    bands: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: (doc_a, doc_b, hamming <= max_hamming).

    Pigeonhole banding makes this an equi-join, never all-pairs: the
    ``bits``-wide simhash splits into ``bands`` slices of r = bits/bands
    bits; a pair within ``max_hamming`` differing bits must agree exactly on
    at least one full band whenever ``max_hamming < bands`` — so recall is
    **exact** (guaranteed 100%) for max_hamming < bands, at candidate cost
    bands * n^2 / 2^r for spread data (same asymptotics as MinHash banding).
    Verification is one integer xor + bit_count per candidate.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < bands, got "
            f"{max_hamming} >= {bands}"
        )
    if bands > bits or bits % bands != 0:
        raise ValueError(
            f"bands must divide bits with r = bits/bands >= 1, got "
            f"bits={bits} bands={bands}: r=0 would put every document in "
            "one bucket (all-pairs); a remainder would leave top bits "
            "outside every band"
        )
    r = bits // bands
    sig = simhash(df, id_col, text_col, bits)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), b * r).bitwiseAND(F.lit(2**r - 1)).alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(id_col, "simhash", F.explode(band_structs).alias("b")).select(
        id_col, "simhash", F.col("b.band_id").alias("band_id"), F.col("b.band_val").alias("band_val")
    )
    a = banded.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "band_id", "band_val")
    b = banded.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "band_id", "band_val")
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dup_groups_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") → (doc_id, group_id), group_id = min id in the component —
    the same contract as :func:`dup_groups`, reached in O(log n) rounds
    on ANY graph shape, including the adversarial long chains where
    min-label propagation needs O(diameter) rounds.

    Per round: large-star points every neighbor v > u at
    min(Γ(u) ∪ {u}) (halves every long path), then small-star re-hangs
    each node's smaller neighbors off its minimum. Both are one
    hash-aggregate + one equi-join per round over the EDGE set (never
    the corpus), with the round output localCheckpoint-ed so plan depth
    stays constant. Convergence = the canonical edge set reaches a
    fixpoint: a star per component, centered at the component minimum.
    """
    e = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        pairs.select(F.col(a_col).alias("node"))
        .unionByName(pairs.select(F.col(b_col).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # LARGE-STAR: for every node u, neighbors v > u re-point at
        # m(u) = min(neighbors(u) ∪ {u}); output stays canonical (u > v)
        bidir = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            bidir.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        ls = (
            bidir.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # SMALL-STAR: edges are (u, smaller v); hang every smaller
        # neighbor — and u itself — off min(neighbors(u)); canonical
        # u > v is preserved because m <= every smaller neighbor
        m2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(m2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .unionByName(m2.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            ss.count() == e.count()
            and ss.exceptAll(e).limit(1).count() == 0
        )
        e = ss
        if converged:
            break
    if not converged:
        # Unconverged labels can be WRONG (a chain only partially
        # collapsed) — refuse rather than hand back silent mislabels.
        # O(log n) convergence means the default budget is ample; hitting
        # this signals an extreme graph or a too-small explicit max_iter.
        raise RuntimeError(
            f"dup_groups_star did not reach the star fixpoint within "
            f"max_iter={max_iter} rounds; group labels would be unreliable. "
            "Raise max_iter (rounds needed grow as O(log n) in the node "
            "count, so a small increase goes far)."
        )
    # fixpoint edges are (child, component-min) stars; roots carry no
    # 'u' row, so a left join labels them with themselves
    return (
        all_nodes.join(e.withColumnRenamed("u", "node"), "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("v"), F.col("node")).alias("group_id"),
        )
    )


def dup_groups(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    small_threshold: int = 1_000_000,
    method: str = "auto",
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, group_id), with
    group_id = min doc id in the component (canonical survivor per group).

    Adaptive strategy: near-dup pair sets are tiny relative to the corpus
    (LSH + verification already pruned them), so when the edge count fits
    comfortably on the driver (``small_threshold``) a driver-side union-find
    answers in one collect — no iterative Spark jobs. Above the threshold,
    distributed min-label propagation takes over: each round every node
    takes the min label among itself and its neighbors (join on edges +
    hash aggregate, one shuffle per round), stopping at fixpoint or
    ``max_iter``. Dup clusters have tiny diameters, so rounds stay in
    single digits; ``method='star'`` switches to the logarithmic
    large-star/small-star alternation (:func:`dup_groups_star`) for
    adversarial long chains, where propagation would need O(diameter)
    rounds. ``method``: 'auto' (size-adaptive), 'label' (force
    propagation), 'star' (force the O(log n) alternation).
    """
    if method not in ("auto", "label", "star"):
        raise ValueError(f"unknown method {method!r}: auto | label | star")
    if method == "star":
        return dup_groups_star(pairs, a_col, b_col, max_iter=max_iter)
    # cache IS warranted here (unlike the verify joins): pairs is the
    # output of the whole LSH pipeline and feeds 2+ actions — but it must
    # be unpersisted on every exit path or a long-lived session leaks one
    # pinned pair set per dedup call
    pairs = pairs.select(a_col, b_col).cache()
    n_edges = pairs.count()
    if method != "label" and n_edges <= small_threshold:
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        rows = pairs.collect()
        pairs.unpersist()
        for r in rows:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {r[0] for r in rows} | {r[1] for r in rows}
        spark = pairs.sparkSession
        # preserve the pair columns' actual id type: a hardcoded 'long'
        # schema crashed on string ids ONLY below the small_threshold
        # boundary while the distributed path handled them fine
        id_type = pairs.schema[a_col].dataType.simpleString()
        return local_frame(
            spark, [(n, find(n)) for n in sorted(nodes)],
            f"doc_id {id_type}, group_id {id_type}",
        )

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .cache()
    )
    labels0 = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    ).cache()
    labels = labels0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # localCheckpoint truncates the growing join lineage each round —
        # without it, plan size (and planning time) grows exponentially
        # with iteration count.
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # the result is a materialized localCheckpoint: safe to release every
    # intermediate pin (old checkpoints are GC'd by the ContextCleaner)
    pairs.unpersist()
    edges.unpersist()
    labels0.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("group_id"))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold`` — brute-force
    all-pairs, the *oracle* algorithm.

    Guarded against misuse at scale (mirroring dup_groups' adaptive check):
    if the input exceeds ``max_rows`` the call raises instead of launching an
    O(n^2) crossJoin — route large corpora through
    :func:`intake_spark.llm.similarity.lsh_ann_pairs` (banded, equi-join
    candidates) instead. Pass ``max_rows=None`` to force brute force.
    The guard scan is capped at ``max_rows + 1`` rows, not a full count.
    """
    from intake_spark.llm.similarity import dot_expr, norm2_expr, safe_cos_div

    if max_rows is not None and df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"embedding_near_dup_pairs input exceeds max_rows={max_rows}: "
            "an all-pairs crossJoin at this size is a scale-killer; use "
            "intake_spark.llm.similarity.lsh_ann_pairs (banded LSH) or pass "
            "max_rows=None to force brute force"
        )
    # squared norms precompute per vector, not per pair: cosine stays the
    # bit-identical dot / sqrt(na2 * nb2) expression, at 1/3 the fold work
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    v = v.withColumn("_n2", norm2_expr("_v"))
    # spread the stream side of the nested-loop join: a max_rows-capped
    # input usually arrives as one parquet split, and the O(n^2) pair
    # evaluation (64 fold ops per pair) otherwise runs on that single
    # task while the rest of the cluster idles. The broadcast side stays
    # un-shuffled; only (id, vec, n2) of the capped stream side moves.
    # Data-adaptive (r11 ADVICE): spread_small_scan is a no-op when the
    # input is already split at least cluster-wide, so a well-partitioned
    # frame pays no extra shuffle here.
    from intake_spark.session import spread_small_scan

    a = spread_small_scan(
        v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("va"), F.col("_n2").alias("na2"))
    )
    b = v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("vb"), F.col("_n2").alias("nb2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", safe_cos_div(dot_expr("va", "vb"), F.col("na2") * F.col("nb2")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle *containment*:
    (doc_outer, doc_inner, containment) where containment =
    |A ∩ B| / |B| >= threshold for the smaller shingle set B.

    Jaccard misses the snippet-inside-document case (a quote, a reposted
    paragraph): |A∩B|/|A∪B| stays small when A is much larger than B, but
    containment of the smaller side is ~1. This is the standard second
    dedup pass for long-form corpora. Shares jaccard_pairs' pair pipeline
    (_shingle_intersections), including the ``max_shingle_df``
    stop-shingle cap at scale.
    """
    inter = _shingle_intersections(df, id_col, text_col, k, max_shingle_df)
    # outer = the larger set, inner = the smaller (ties: lower id outer),
    # so containment is always measured against the smaller side
    return (
        inter.withColumn(
            "containment",
            F.col("n_common").cast("double") / F.least("n_a", "n_b"),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            F.when(F.col("n_a") >= F.col("n_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_outer"),
            F.when(F.col("n_a") >= F.col("n_b"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_inner"),
            "containment",
        )
    )


def block_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_words: int = 10,
) -> DataFrame:
    """Block-level (sub-document) exact dedup accounting — the C4/CCNet
    line-dedup analog for corpora without line structure: documents split
    into NON-overlapping ``block_words``-word blocks, each block hashed,
    and every block occurrence is checked against the corpus-wide
    occurrence count of its hash. Output per document: (id, n_blocks,
    n_dup_blocks, dup_block_rate) where a block occurrence is "dup" if its
    hash occurs more than once corpus-wide (including twice in the same
    document — boilerplate inside one doc is still boilerplate).

    Whole-doc dedup (exact_dup_groups) misses templated pages that differ
    by one injected value; block stats catch them and feed block-removal
    curation. Plan shape: mapper explode -> digest count (partial-combining
    hash aggregate on the 16-byte md5, never the text) -> join back on the
    digest -> per-doc rollup. Two shuffles, both on compact keys; no
    windows, no driver state — scale-safe at full corpus size.
    """
    if block_words <= 0:
        raise ValueError("block_words must be positive")
    w = F.split(F.col(text_col), " ")
    blocks = F.expr(
        f"transform(sequence(1, size(_w), {block_words}), "
        f"s -> md5(concat_ws(' ', slice(_w, s, {block_words}))))"
    )
    b = (
        df.select(F.col(id_col), w.alias("_w"))
        .filter(F.size("_w") >= 1)
        .select(id_col, F.explode(blocks).alias("bhash"))
    )
    counts = b.groupBy("bhash").agg(F.count(F.lit(1)).alias("_n"))
    dup = F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
    return (
        b.join(counts, "bhash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            dup.alias("n_dup_blocks"),
            F.round(dup / F.count(F.lit(1)), 6).alias("dup_block_rate"),
        )
    )


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every source pair (a < b),
    the count of distinct k-gram shingles present in BOTH sources plus the
    shingle-set Jaccard — the "how much does source X repeat source Y"
    dashboard that decides mixing weights and cross-source dedup passes.

    Scale shape: shingles collapse to DISTINCT (source, shingle) rows
    first, so the self-join key multiplicity per shingle is bounded by the
    NUMBER OF SOURCES (typically dozens), not document count — a shingle in
    s sources emits at most s*(s-1)/2 pair rows, so there is no quadratic
    blowup no matter how hot the shingle is across documents. One shuffle
    for the distinct, one equi-join on the shingle, one pair rollup.
    """
    # shingles() already returns DISTINCT (source, shingle) rows — a
    # second distinct here would re-shuffle the widest intermediate
    sh = shingles(df, source_col, text_col, k).select(
        F.col(source_col).alias("_src"), "shingle"
    )
    sizes = sh.groupBy("_src").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    ov = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._src") < F.col("b._src")))
        .groupBy(F.col("a._src").alias("source_a"), F.col("b._src").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    za = sizes.select(F.col("_src").alias("source_a"), F.col("n").alias("n_a"))
    zb = sizes.select(F.col("_src").alias("source_b"), F.col("n").alias("n_b"))
    inter = F.col("n_overlap")
    return (
        ov.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_overlap",
            "n_a",
            "n_b",
            F.round(
                inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter), 6
            ).alias("jaccard_r"),
        )
        .orderBy("source_a", "source_b")
    )


def dup_rate_by_source(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source duplication report: share of docs whose exact text hash
    occurs more than once CORPUS-wide (cross-source dups count for every
    source holding a copy). Two hash-aggregates — digest counts, then a
    join back and a per-source rollup; the digest-count side is bounded by
    distinct texts and both aggregates combine partially, so this is
    scale-safe on the full corpus."""
    h = df.select(F.col(source_col).alias("source"), F.md5(F.col(text_col)).alias("hsh"))
    counts = h.groupBy("hsh").agg(F.count(F.lit(1)).alias("n"))
    joined = h.join(counts, "hsh")
    dup = F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dup.alias("n_dup_docs"),
            F.round(dup / F.count(F.lit(1)), 6).alias("dup_rate_r"),
        )
        .orderBy("source")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (the MOSS local-document-fingerprinting
    scheme, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every ``k``-gram
    (md5-derived 32-bit, the engine-portable idiom), slide a ``window``
    over the hash sequence, keep the MINIMUM of each window, distinct the
    picks. Guarantees every exact match of length >= window+k-1 tokens
    shares a fingerprint, while storing ~2/(window+1) of the k-gram set.

    MAPPER-ONLY per document (JVM higher-order functions over the in-row
    token array — no shuffle until the final distinct explode), so it
    runs unchanged on a streaming frame; at 100 TB the output is a
    (doc_id, fingerprint) pair table ~1/(window) the k-gram volume,
    bucketable on fingerprint for the downstream dup-candidate join."""
    from intake_spark.session import spread_small_scan

    df = spread_small_scan(df.select(F.col(id_col), F.col(text_col)))
    w = F.split(F.col(text_col), " ")
    grams = F.expr(
        f"transform(sequence(1, size(_w) - {k - 1}), "
        f"i -> cast(conv(substring(md5(concat_ws(' ', slice(_w, i, {k}))), 1, 8), 16, 10) as bigint))"
    )
    mins = F.expr(
        f"transform(sequence(1, size(_g) - {window - 1}), "
        f"i -> array_min(slice(_g, i, {window})))"
    )
    return (
        df.select(F.col(id_col), w.alias("_w"))
        .filter(F.size("_w") >= k + window - 1)
        .select(id_col, grams.alias("_g"))
        .select(id_col, F.explode(F.array_distinct(mins)).alias("fingerprint"))
    )


def winnow_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fingerprint_df: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via shared winnowing fingerprints: the
    fingerprint equi-join (bucketed, never all-pairs), thresholded on the
    number of shared picks. Same scale shape as the MinHash-LSH banded
    join; winnowing additionally LOCALIZES matches (each shared
    fingerprint pins an actual matching token span, which banded MinHash
    cannot do).

    ``max_fingerprint_df`` drops fingerprints held by more than that many
    docs before the self-join — boilerplate spans (license headers,
    navigation chrome) otherwise create d² pair blowup per hot
    fingerprint, the same effect the stop-shingle cap bounds in
    :func:`jaccard_pairs`; the measured 10× replication table in PERF.md
    shows why. ``None`` keeps exact semantics."""
    fp = winnow_fingerprints(df, id_col, text_col, k, window)
    if max_fingerprint_df is not None:
        from pyspark.sql.window import Window as _W

        # document frequency via a window over the fingerprint partition,
        # NOT a separate aggregate + join: the aggregate branch made the
        # md5-heavy fingerprint extraction a THIRD computation (the
        # self-join below already reads it twice); the window shares the
        # single fingerprint exchange, which the self-join's two sides
        # then reuse (ReusedExchange) — fingerprints compute once
        fp = (
            fp.withColumn(
                "_df", F.count(F.lit(1)).over(_W.partitionBy("fingerprint"))
            )
            .filter(F.col("_df") <= max_fingerprint_df)
            .drop("_df")
        )
    a = fp.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-SUBSTRING spans (the suffix-array dedup of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better",
    re-expressed over shingle positions): every k-token window that
    occurs at least ``min_occurrences`` times in the corpus (across OR
    within documents) marks its position duplicated; overlapping and
    adjacent duplicated windows merge into maximal spans per document —
    exactly the spans a length-k-threshold suffix-array pass reports.
    Returns one row per span: (id, span_start, span_end, span_tokens),
    token positions 0-based, end exclusive.

    Scale shape: position emission is a mapper-side HOF; one corpus
    shuffle counts window occurrences (partial combine absorbs the hot
    boilerplate keys); the occurrence→count equi-join stays on the same
    key partitioning; span merging is a per-document islands window +
    grouped aggregate on the document key. No self-join, no pair blowup:
    cost is linear in corpus token count. Parity: the reference has no
    substring-level dedup operator; this extends its dedup family
    (reference readers delegate corpus dedup entirely)."""
    from intake_spark.session import spread_small_scan

    ws = F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
    # the per-position k-token window emission is the heaviest text
    # mapper in the family, and the occurrence subtree feeds both the
    # count aggregate and the join back — spread an under-split scan so
    # it never serializes on one task (no-op on well-split inputs)
    occ = (
        spread_small_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), ws.alias("_w"))
        .filter(F.size("_w") >= k)
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_w) - {k - 1}), "
                    f"i -> struct(i - 1 AS pos, concat_ws(' ', slice(_w, i, {k})) AS sh))"
                )
            ).alias("_o"),
        )
        .select(id_col, F.col("_o.pos").alias("pos"), F.col("_o.sh").alias("sh"))
    )
    dup = (
        occ.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_occurrences)
        .select("sh")
    )
    dpos = occ.join(dup, "sh").select(id_col, "pos")
    from pyspark.sql import Window

    w_lag = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") > F.coalesce(F.lag("pos").over(w_lag), F.lit(-(1 << 40))) + k, 1
    ).otherwise(0)
    w_cum = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # islands: a window extends the open span while pos <= prev_pos + k
    # (positions are sorted, so the running span end IS prev_pos + k);
    # brk materializes first — window expressions cannot nest
    return (
        dpos.withColumn("_brk", brk)
        .withColumn("_grp", F.sum("_brk").over(w_cum))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .withColumn("span_tokens", (F.col("span_end") - F.col("span_start")))
        .drop("_grp")
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_occurrences: int = 2,
    spans: "DataFrame | None" = None,
) -> DataFrame:
    """The removal step of substring dedup (Lee et al. 2021): cut every
    token covered by a duplicated span (:func:`dup_spans` semantics —
    like :func:`line_dedup`, removal is corpus-wide) and rejoin the
    survivors in order. Returns (id, n_tokens, n_removed,
    clean_<text_col>).

    Scale shape: dup_spans' linear pipeline, plus one per-document
    span-list aggregate and one equi-join back to the corpus on the
    document key; the cut itself is a JVM HOF filter over the token
    array — no Python, no extra shuffle beyond the id-key join.
    ``spans=`` accepts a precomputed (persisted) :func:`dup_spans`
    result so a session that also REPORTS the spans pays for the
    pipeline once."""
    if spans is None:
        spans = dup_spans(df, id_col, text_col, k, min_occurrences)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
    joined = (
        df.select(id_col, ws.alias("_w"))
        .join(per_doc, id_col, "left")
        .withColumn("_spans", F.coalesce("_spans", F.array()))
    )
    idx = F.expr("transform(_w, (x, i) -> struct(x AS tok, i AS i))")
    kept = F.filter(
        idx,
        lambda t: ~F.exists(
            F.col("_spans"),
            lambda s: (t["i"] >= s["span_start"]) & (t["i"] < s["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_tokens"),
        (F.size("_w") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(F.transform(kept, lambda t: t["tok"]), " ").alias(
            f"clean_{text_col}"
        ),
    )


def keep_best_duplicate(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Quality-aware survivor selection: within each near-dup cluster keep
    the HIGHEST-``score_col`` member (ties to the lowest id) instead of
    :func:`dup_groups`'s first-seen min-id canonical — the "keep the best
    version, not the first crawl" policy real corpus builds want when
    duplicates differ in truncation or boilerplate. Returns every row of
    ``df`` with (group_id, keep_id, keep); singletons keep themselves.

    Plan: connected components over the (LSH-pruned, tiny) pair set, the
    group table broadcast onto the corpus, then ONE window per group for
    the argmax — the window partitions by group over only the clustered
    rows (pair-bounded), never the whole corpus; singleton rows bypass it
    map-side via the null group branch.
    """
    groups = dup_groups(pairs, a_col=a_col, b_col=b_col).select(
        F.col("doc_id").alias(id_col), F.col("group_id")
    )
    joined = df.join(F.broadcast(groups), id_col, "left")
    from pyspark.sql.window import Window

    w = Window.partitionBy("group_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    clustered = joined.filter(F.col("group_id").isNotNull()).withColumn(
        # first id under (score DESC, id ASC) over the full partition
        # frame = the argmax member's id
        "keep_id",
        F.first(id_col).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    singletons = joined.filter(F.col("group_id").isNull()).select(
        *joined.columns
    ).withColumn("keep_id", F.col(id_col))
    out = clustered.select(*joined.columns, "keep_id").unionByName(singletons)
    return out.withColumn(
        "group_id", F.coalesce(F.col("group_id"), F.col(id_col))
    ).withColumn("keep", (F.col("keep_id") == F.col(id_col)).cast("int"))


def incremental_dedup(
    new_df: DataFrame,
    archive_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-dup screening of a NEW batch against an existing ARCHIVE —
    the incremental-ingest twin of :func:`jaccard_pairs`: every arriving
    document gets its best archive match and a keep/drop flag, without
    the archive ever self-joining (only cross pairs form).

    Returns one row per new document: (id, match_id, n_common,
    jaccard_r, keep) — match_id/jaccard_r NULL and keep=1 when nothing
    in the archive shares a shingle (or the document is shorter than
    ``k`` tokens); keep=0 when the best match reaches ``threshold``.
    Best match = highest exact Jaccard, ties to the lowest archive id.

    Plan shape: two shingle scans, one shingle equi-join (the inverted-
    index join — new side meets only archive docs sharing a shingle),
    one (new, arch)-key aggregate, one per-new-doc top-1 window. The
    archive side's shingles are what a production deployment
    materializes once and reuses every batch (Catalog.materialize).
    ``max_shingle_df`` optionally drops shingles present in more than N
    archive documents before the join — the stop-shingle skew guard for
    web-scale archives (changes semantics: matches through ultra-common
    shingles alone are missed; leave None for the exact oracle form).
    """
    from pyspark.sql.window import Window

    sh_n = shingles(new_df, id_col, text_col, k)
    sh_a = shingles(archive_df, id_col, text_col, k)
    if max_shingle_df is not None:
        hot = (
            sh_a.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        sh_a = sh_a.join(F.broadcast(hot), "shingle", "left_anti")
        sh_n = sh_n.join(F.broadcast(hot), "shingle", "left_anti")
    # each shingle set feeds TWO consumers (the per-doc count and the
    # cross join); without a materialization point both would re-run the
    # text -> explode -> distinct pipeline — same policy as
    # lsh_candidate_pairs
    sh_n = sh_n.localCheckpoint(eager=False)
    sh_a = sh_a.localCheckpoint(eager=False)
    nn = sh_n.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nn"))
    na = sh_a.groupBy(id_col).agg(F.count(F.lit(1)).alias("_na"))
    co = (
        sh_n.select(F.col(id_col).alias("_new_id"), "shingle")
        .join(sh_a.select(F.col(id_col).alias("_arch_id"), "shingle"), "shingle")
        .groupBy("_new_id", "_arch_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sc = (
        co.join(nn.withColumnRenamed(id_col, "_new_id"), "_new_id")
        .join(na.withColumnRenamed(id_col, "_arch_id"), "_arch_id")
        .withColumn(
            "_j",
            F.col("n_common").cast("double")
            / (F.col("_nn") + F.col("_na") - F.col("n_common")),
        )
    )
    w = Window.partitionBy("_new_id").orderBy(F.desc("_j"), F.asc("_arch_id"))
    best = (
        sc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("_new_id", "_arch_id", "n_common", "_j")
    )
    return (
        new_df.select(F.col(id_col))
        .join(best, F.col(id_col) == F.col("_new_id"), "left")
        .select(
            id_col,
            F.col("_arch_id").alias("match_id"),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias("n_common"),
            F.round(F.col("_j"), 6).alias("jaccard_r"),
            F.when(F.col("_j") >= threshold, F.lit(0))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("keep"),
        )
    )


def lsh_plan(
    spark,
    threshold_pct: int = 50,
    max_signature: int = 128,
    grid: int = 100,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """MinHash-LSH parameter planner: for every (bands, rows) layout
    with bands·rows ≤ ``max_signature``, integrate the S-curve
    P(candidate | s) = 1 − (1 − s^rows)^bands over a ``grid``-point
    similarity lattice and report the total error mass — false
    positives below the target threshold plus false negatives above it.
    Returns (bands, rows, signature, fp_fx, fn_fx, err_fx) in
    ``1/scale`` fixed point; the argmin row is the layout to run
    :func:`minhash_signatures`/:func:`lsh_candidates` with, and the
    r ≈ log2(corpus) posture shows up directly as err_fx flattening
    along the rows axis.

    The lattice (≤ max_signature·H(max_signature)·grid ≈ 64k cells) is
    DRIVER-computed on purpose: it is data-independent and scalar-sized
    (the BPE-merge-table precedent), and CPython's float ``pow`` is the
    platform libm — bit-identical to DuckDB's — whereas JVM Math.pow
    differs by an ulp on ~0.6% of these cells, flipping fixed-point
    floors and breaking the exact oracle compare. Each cell's pow is
    floored into fixed point BEFORE the integer sums (the dsir
    ln-per-bucket policy)."""
    if not 0 < threshold_pct < 100:
        raise ValueError("threshold_pct must be in (0, 100)")
    import math

    out = []
    for bands in range(1, max_signature + 1):
        for rows_ in range(1, max_signature // bands + 1):
            fp = fn = 0
            for k in range(1, grid):
                p = 1.0 - (1.0 - (k / grid) ** rows_) ** bands
                if k * 100 < threshold_pct * grid:
                    fp += math.floor(p * scale)
                else:
                    fn += math.floor((1.0 - p) * scale)
            out.append((bands, rows_, bands * rows_, fp, fn, fp + fn))
    return local_frame(
        spark, out,
        "bands long, rows long, signature long, fp_fx long, fn_fx long, "
        "err_fx long",
    )
