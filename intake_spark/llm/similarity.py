"""Similarity search over embedding columns (``array<float>``).

Two tiers, same cosine semantics:

- :func:`knn_bruteforce` — exact top-k: broadcast the (small) query set
  against the corpus; one pass over the corpus, per-partition top-k via
  window. Baseline and oracle.
- :func:`lsh_ann_pairs` — *banded* random-hyperplane LSH: B bands of r sign
  bits each (dot products with deterministic md5-derived hyperplanes);
  candidates = equi-join on (band_id, band_key), agree-on-any-band. At
  100 TB the corpus never self-joins — only band-colocated rows meet, the
  key is a compact int, and r scales with log2(corpus) to hold bucket
  occupancy constant (see PERF.md for the asymptotics).

The dot products run JVM-side via ``zip_with``/``aggregate`` higher-order
functions — vectorized enough at 64-dim; a pandas-UDF BLAS path would win
for ≥1k dims (noted, not needed for the synthetic tables).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from intake_spark.session import local_frame, materialize
from intake_spark.utils import trunc_div


def dot_expr(a: str, b: str):
    """Index-ordered double dot product of two array<double> columns —
    summation order fixed (left fold) so results are engine-reproducible."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )


def norm2_expr(a: str):
    return F.aggregate(F.transform(F.col(a), lambda x: x * x), F.lit(0.0), lambda s, v: s + v)


def safe_cos_div(dot, n2prod):
    """``dot / sqrt(n2prod)`` with a zero-norm guard shared by every
    cosine scorer: NULLIF maps a zero denominator to NULL, so an all-zero
    embedding (padding row, missing-embedding placeholder) yields a NULL
    cosine — it pairs with nothing (threshold filters are NULL → dropped;
    desc orderings put NULL last) — instead of raising DIVIDE_BY_ZERO
    under ANSI mode (the Spark 4 default) or yielding NaN under legacy
    mode (NaN sorts ABOVE every real cosine in descending order)."""
    return dot / F.nullif(F.sqrt(n2prod), F.lit(0.0))


def cosine_expr(a: str, b: str):
    """cos(a,b) = dot / sqrt(|a|^2 * |b|^2); NULL if either norm is 0."""
    return safe_cos_div(dot_expr(a, b), norm2_expr(a) * norm2_expr(b))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cosine).

    The query side is broadcast (queries ≪ corpus); the corpus is scanned
    once with no shuffle until the final per-query top-k, which the window
    executes after a shuffle on query_id — k rows per query survive.
    """
    # squared norms precompute per vector, not per pair (same policy as
    # embedding_near_dup_pairs): cosine stays the bit-identical
    # dot / sqrt(nq2 * nc2) expression at 1/3 the fold work
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("nq2", norm2_expr("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("nc2", norm2_expr("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", safe_cos_div(dot_expr("qv", "cv"), F.col("nq2") * F.col("nc2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): md5-hash-driven,
    so bucket assignment is stable across runs/engines (no RNG seed state)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h / 2**31 - 1.0)
        planes.append(row)
    return planes


def _double_sql(x: float) -> str:
    """A double as a SQL literal that parses back bit-identical: ``repr``
    prints the shortest round-trip form (``-0.0`` and subnormals
    included); non-finite values are string casts."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _dot_sql(vec_sql: str, row: list[float]) -> str:
    """Index-ordered left-fold dot product of a vector column against a
    literal plane, as one SQL fragment; the literals are bit-identical to
    the Python values (:func:`_double_sql`), and so to DuckDB's
    md5-derived recomputation."""
    arr = "array(" + ",".join(map(_double_sql, row)) + ")"
    return f"aggregate(zip_with({vec_sql}, {arr}, (x,y) -> x*y), 0.0D, (a,x) -> a+x)"


def _sums_col(term: str, dim: int):
    """``array(sum(<term, j=1>), …, sum(<term, j=dim>)) AS _s``: a
    per-dimension aggregate built as one Column (one py4j call where
    ``dim`` separate ``F.sum`` Columns cost hundreds), read back as the
    list ``row["_s"]``. The aggregate functions are the same."""
    sums = ", ".join(f"sum({term.format(j=j)})" for j in range(1, dim + 1))
    return F.expr(f"array({sums})").alias("_s")


# the fixed-point scale of every integer k-means: a power of two, so
# ``x * QSCALE`` is exact in IEEE and floor makes the integers
QSCALE = 1024


def _quantize_sql(vec_col: str, qscale: int = QSCALE) -> str:
    """``floor(x * qscale)`` of every coordinate, as ``array<bigint>``."""
    return (
        f"transform(CAST({vec_col} AS ARRAY<DOUBLE>), "
        f"x -> CAST(floor(x * {qscale}) AS BIGINT))"
    )


def _rp_signs(out_dim: int, dim: int) -> list[list[float]]:
    """Deterministic +-1 sign matrix from md5 parity — an Achlioptas-style
    sparse random projection, reproducible in any engine with md5."""
    rows = []
    for p in range(out_dim):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"rp:{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(1.0 if h % 2 == 0 else -1.0)
        rows.append(row)
    return rows


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    out_dim: int = 8,
    prefix: str = "proj",
) -> DataFrame:
    """Reduce an embedding column to ``out_dim`` signed-sum components:
    proj_j = sum_i sign(j,i) * v[i], signs md5-derived (deterministic).

    Random projection preserves pairwise distances in expectation
    (Johnson-Lindenstrauss); the +-1 sign matrix makes each component one
    index-ordered left-fold over the vector — mapper-only, no shuffle, and
    bit-reproducible across engines (same fold order as DuckDB's
    list_dot_product). The standard cheap first step before clustering or
    coarse ANN at 100 TB: 64 -> 8 dims cuts every downstream distance
    computation 8x.
    """
    if dim is None:
        raise ValueError("random_projection requires dim (embedding width)")
    signs = _rp_signs(out_dim, dim)
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    cols = [F.expr(_dot_sql(v, row)).alias(f"{prefix}{j}") for j, row in enumerate(signs)]
    return df.select(*df.columns, *cols)


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Add a random-hyperplane LSH bucket id (int in [0, 2^n_planes)).

    ``dim`` is required: inferring it would need a driver-side Spark action
    in the hot path (an extra job per call); callers know their embedding
    width statically.

    The whole bucket expression is built as ONE SQL string parsed JVM-side:
    constructing n_planes separate Column trees costs a py4j round-trip per
    lambda (~2 s of pure driver latency at 32 planes), while one expr parse
    is milliseconds — same analyzed plan, same left-fold evaluation order.
    """
    if dim is None:
        raise ValueError(
            "with_lsh_bucket requires dim (embedding width): schema arrays "
            "carry no length, and probing the data would run an extra driver "
            "action per call"
        )
    planes = _hyperplanes(n_planes, dim)
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    bucket = " + ".join(
        f"IF({_dot_sql(v, row)} >= 0.0D, {1 << p}L, 0L)" for p, row in enumerate(planes)
    )
    return df.withColumn(bucket_col, F.expr(bucket))


def with_lsh_bands(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    bands: int = 4,
    planes_per_band: int = 4,
) -> DataFrame:
    """Banded hyperplane LSH: ``bands * planes_per_band`` deterministic sign
    bits, cut into ``bands`` band keys of ``planes_per_band`` bits each.
    Output: one row per (input row, band) with ``band_id`` and ``band_key``
    columns appended — exploded, ready for the candidate equi-join.

    Two vectors become candidates iff they agree on a *full* band (all r =
    planes_per_band sign bits). Collision probability for angle theta is
    1 - (1 - (1-theta/pi)^r)^bands — the same S-curve as MinHash banding, so
    recall is tuned by ``bands`` and precision (candidate volume) by ``r``.
    """
    if dim is None:
        raise ValueError("with_lsh_bands requires dim (embedding width)")
    n_planes = bands * planes_per_band
    planes = _hyperplanes(n_planes, dim)
    # one SQL string parsed JVM-side (see with_lsh_bucket): per-plane Column
    # construction via py4j lambdas costs ~60 ms of driver latency each
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    structs = []
    for b in range(bands):
        key = " + ".join(
            f"IF({_dot_sql(v, planes[b * planes_per_band + j])} >= 0.0D, {1 << j}L, 0L)"
            for j in range(planes_per_band)
        )
        structs.append(f"struct({b} AS band_id, ({key}) AS band_key)")
    band = F.expr("array(" + ",".join(structs) + ")")
    return df.withColumn("_band", F.explode(band)).select(
        *df.columns, F.col("_band.band_id").alias("band_id"), F.col("_band.band_key").alias("band_key")
    )


def lsh_ann_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bands: int = 4,
    planes_per_band: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Approximate near-neighbor pairs via *banded* hyperplane LSH: candidates
    = pairs agreeing on any full band of sign bits, then exact cosine filter.

    Scale shape: per band the corpus splits into 2^r buckets (r =
    planes_per_band), so expected candidate volume is bands * n^2 / 2^r for
    uniformly-spread data — r scales with log2(corpus) to hold bucket
    occupancy (and thus per-bucket quadratic work) constant, while ``bands``
    buys recall linearly in cost. The candidate join is an equi-join on the
    compact (band_id, band_key) pair; vectors are joined back by id for the
    exact-cosine verify, so the exploded band rows never carry the vector
    payload through the shuffle.
    """
    # Materialize the compact (id, band_id, band_key) rows once: both sides
    # of the self-join share the materialized rows, so the sign-bit stage
    # (a large expression tree over the plane constants) is planned and
    # executed once, not twice — and the join plans against a leaf.
    banded = materialize(
        with_lsh_bands(df.select(id_col, vec_col), vec_col, dim, bands, planes_per_band)
        .select(id_col, "band_id", "band_key"),
        eager=False,
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
    cands = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # per-vector squared norms precompute (cosine stays the bit-identical
    # dot / sqrt(na2 * nb2) expression, at 1/3 the per-candidate fold work)
    vn = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    vn = vn.withColumn("_n2", norm2_expr("_v"))
    va = vn.select(F.col(id_col).alias("id_a"), F.col("_v").alias("va"), F.col("_n2").alias("na2"))
    vb = vn.select(F.col(id_col).alias("id_b"), F.col("_v").alias("vb"), F.col("_n2").alias("nb2"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", safe_cos_div(dot_expr("va", "vb"), F.col("na2") * F.col("nb2")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_build(
    df: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = 16,
    id_col: str = "vec_id",
):
    """Train an IVF coarse quantizer and assign every vector to its
    nearest list → (centroids, assigned_df with ``ivf_list``).

    The scale path for ANN beyond LSH: k-means centroids, then search
    probes only the query's nearest lists. The quantizer is
    :func:`kmeans_fit` (``k=n_lists``, 3 rounds; the vector width is read
    from the data): lowest-id seeds and integer rounds, so the SAME index
    comes out on every run, engine and partitioning and an oracle can
    replay every list. The assignment pass is a mapper-only argmin
    against literal centroids (no join, no shuffle). The centroids
    returned are float lists (the integer centroids over ``QSCALE``)
    compatible with :func:`ivf_search` / :func:`ivf_save`.
    """
    cents_int, _ = kmeans_fit(df, id_col, vec_col, k=n_lists)
    assigned = (
        df.withColumn("_q", F.expr(_quantize_sql(vec_col)))
        .withColumn("_b", F.expr(_kmeans_assign_expr(cents_int)))
        .withColumn("ivf_list", F.col("_b.c").cast("int"))
        .drop("_q", "_b")
    )
    centroids = [[x / QSCALE for x in c] for c in cents_int]
    return centroids, assigned


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 5,
    n_probes: int = 2,
) -> DataFrame:
    """IVF ANN search: each query probes its ``n_probes`` nearest lists and
    runs exact cosine only within them. The corpus↔query meeting point is an
    equi-join on ``ivf_list`` — candidate work is corpus/n_lists×n_probes
    per query instead of the full corpus."""
    spark = assigned.sparkSession
    cdf = local_frame(
        spark, [(i, c) for i, c in enumerate(centroids)],
        "ivf_list long, centroid array<double>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    # nearest n_probes lists per query (tiny cross join: queries × centroids)
    qc = (
        q.crossJoin(F.broadcast(cdf))
        .withColumn(
            "cdist",
            F.aggregate(
                F.zip_with("qv", "centroid", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, v: s + v,
            ),
        )
        .withColumn(
            "pr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("ivf_list"))
            ),
        )
        .filter(F.col("pr") <= n_probes)
        # per-vector squared norms precompute (same policy as
        # knn_bruteforce / lsh_ann_pairs: cosine stays the bit-identical
        # dot / sqrt(nq2 * nc2) expression at 1/3 the per-candidate fold
        # work — this is the hot join of the scale path)
        .select("query_id", "qv", "ivf_list")
        .withColumn("nq2", norm2_expr("qv"))
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        "ivf_list",
    ).withColumn("nc2", norm2_expr("cv"))
    scored = (
        c.join(qc, "ivf_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", safe_cos_div(dot_expr("qv", "cv"), F.col("nq2") * F.col("nc2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label per-dimension centroids: (label, dim, centroid).

    posexplode → hash-aggregate on (label, dim). Values are fixed-pointed at
    1e-9 via floor before summation: integer sums are exact and associative,
    so the result is independent of partitioning/summation order (decimal
    *casts* of arbitrary doubles round midpoints differently across engines;
    floor does not).
    """
    exploded = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "val")
    )
    fixed = F.floor(F.col("val") * F.lit(1000000000.0)).cast("bigint")
    centroid = (
        F.sum(fixed).cast("double") / F.count(F.lit(1)) / F.lit(1000000000.0)
    ).alias("centroid")
    return exploded.groupBy(label_col, "dim").agg(centroid)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_cols: tuple[str, ...] | None = None,
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric scalar quantization: (… , scale, qvec) with
    qvec[i] = floor(v[i] / scale * (2^(bits-1) - 1)) and scale =
    max(|v[i]|). The standard 4× storage / shuffle-bandwidth reduction
    before ANN at corpus scale (int8 dot products reconstruct cosine to
    ~1e-2); mapper-only, no shuffle, and floor (not round-half-even) keeps
    the quantized values bit-identical across engines.
    """
    qmax = (1 << (bits - 1)) - 1
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    scale = F.expr(f"array_max(transform({v}, x -> abs(x)))")
    out = df.withColumn("scale", scale)
    # all-zero vectors have scale = 0; x / 0 is NULL under Spark's non-ANSI
    # division, so guard to an all-zero qvec (mirrored in the q61 oracle)
    qvec = F.expr(
        f"transform({v}, x -> CAST(CASE WHEN scale = 0.0 THEN 0 "
        f"ELSE FLOOR(x / scale * {qmax}) END AS INT))"
    )
    keep = list(id_cols) if id_cols else [c for c in df.columns if c != vec_col]
    return out.select(*keep, "scale", qvec.alias("qvec"))


def centroid_similarity(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Pairwise cosine between label centroids — the cluster-separation
    dashboard (labels whose centroids are near-parallel are candidates
    for merging or signal that the embedding space doesn't separate
    them). Output: (label_a, label_b, cos_r) for label_a < label_b.

    Cross-engine exact: centroids come from the fixed-point mean
    (label_centroids); dot and squared norms fix-point each product at
    1e-12 before an integer sum (associative → partitioning-independent),
    and the final cosine is one IEEE sqrt+multiply+divide — sqrt is
    correctly rounded in IEEE-754, so both engines produce the same bits.
    Label count is small: the (label, dim) centroid table broadcasts, and
    the pair join is label²·dim rows — trivial at any corpus size (the
    corpus only enters through the centroid aggregate)."""
    cents = label_centroids(df, label_col, vec_col)
    a = cents.select(
        F.col(label_col).alias("label_a"), "dim", F.col("centroid").alias("ca")
    )
    b = cents.select(
        F.col(label_col).alias("label_b"), "dim", F.col("centroid").alias("cb")
    )
    pairs = a.join(F.broadcast(b), "dim").filter(F.col("label_a") < F.col("label_b"))
    fx = lambda c: F.floor(c * F.lit(1e12)).cast("bigint")  # noqa: E731
    agg = pairs.groupBy("label_a", "label_b").agg(
        F.sum(fx(F.col("ca") * F.col("cb"))).alias("_dot"),
        F.sum(fx(F.col("ca") * F.col("ca"))).alias("_na"),
        F.sum(fx(F.col("cb") * F.col("cb"))).alias("_nb"),
    )
    # guard inline (not via safe_cos_div): the oracle pins THIS association
    # — sqrt(_na)*sqrt(_nb), not sqrt(_na*_nb) — and the two round
    # differently in IEEE, so the helper's shape would break bit-exactness
    cos = F.col("_dot") / F.nullif(
        F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double")),
        F.lit(0.0),
    )
    return agg.select(
        "label_a", "label_b", F.round(cos, 6).alias("cos_r")
    ).orderBy("label_a", "label_b")


def norm_profile(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label embedding-norm profile: (label, n_vecs, q1_r, median_r,
    q3_r) over the fixed-point squared norm — the drift/outlier check run
    before any cosine-based op (un-normalized batches corrupt dot-product
    ranking silently). Squared norms are exact BIGINTs (1e-9 fixed point
    per element product summed in-row), quartiles via the exact
    ``percentile`` aggregate (≡ DuckDB quantile_cont), reported at 1e-6.
    Mapper + one partial-combining aggregate."""
    sq = F.expr(
        f"aggregate(transform(CAST({vec_col} AS ARRAY<DOUBLE>), "
        "x -> CAST(FLOOR(x * x * 1000000000.0) AS BIGINT)), 0L, (s, v) -> s + v)"
    )
    rows = df.select(F.col(label_col), sq.alias("_sq"))
    pct = lambda p: F.round(  # noqa: E731
        F.expr(f"percentile(_sq, {p})") / F.lit(1e9), 6
    )
    return (
        rows.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            pct(0.25).alias("q1_r"),
            pct(0.5).alias("median_r"),
            pct(0.75).alias("q3_r"),
        )
        .orderBy(label_col)
    )


def ivf_save(
    assigned: DataFrame,
    centroids: list[list[float]],
    table_prefix: str,
    buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Persist an IVF index as TABLES so search never re-trains:
    ``{prefix}_vectors`` is bucketed by ``ivf_list`` (probe joins on the
    list key read co-located buckets — zero-Exchange on the corpus side
    at any scale) and ``{prefix}_centroids`` holds the quantizer. The
    build-once / probe-many lifecycle of a production ANN index."""
    spark = assigned.sparkSession
    (
        assigned.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col), "ivf_list")
        .write.mode("overwrite")
        .bucketBy(buckets, "ivf_list")
        .sortBy("ivf_list")
        .saveAsTable(f"{table_prefix}_vectors")
    )
    cdf = local_frame(
        spark, [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "ivf_list int, centroid array<double>",
    )
    cdf.write.mode("overwrite").saveAsTable(f"{table_prefix}_centroids")
    return f"{table_prefix}_vectors", f"{table_prefix}_centroids"


def ivf_load(spark, table_prefix: str):
    """Rehydrate a persisted IVF index: (centroids list, assigned
    DataFrame backed by the bucketed table)."""
    assigned = spark.table(f"{table_prefix}_vectors")
    rows = spark.table(f"{table_prefix}_centroids").orderBy("ivf_list").collect()
    centroids = [list(r.centroid) for r in rows]
    return centroids, assigned


def seeded_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_seeds: int = 8,
    seeds: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Assign every vector to its nearest *seed* vector by cosine — the
    deterministic coarse-clustering step of SemDeDup-style semantic dedup
    (cluster first so near-dup comparison never goes all-pairs).

    Seeds default to the ``n_seeds`` lowest-``id_col`` rows (a reproducible
    choice with no RNG and no training loop); pass ``seeds`` as
    ``[(seed_id, vector), ...]`` to reuse a quantizer across corpora.

    Scale posture: the seed set is tiny (k ~ sqrt(n) in practice), so it is
    inlined as literal arrays into ONE per-row argmax projection, built
    as one SQL expression with bit-identical double literals (not one
    Column per coordinate) — the assignment pass is shuffle-free and
    stream-capable, exactly like the broadcast-centroid map step of IVF. The argmax tie-break (equal cosine
    -> lowest seed id) is encoded in an ordered struct max, so assignment
    is engine-reproducible. Reference surface: SemDeDup / cluster-dedup
    pipelines (no direct intake counterpart; first-class LLM-pipeline op).
    """
    if seeds is None:
        rows = (
            df.select(id_col, F.col(vec_col).cast("array<double>").alias("_sv"))
            .orderBy(F.asc(id_col))
            .limit(n_seeds)
            .collect()
        )
        seeds = [(r[0], list(r["_sv"])) for r in rows]
    if not seeds:
        raise ValueError("seeded_clusters needs at least one seed vector")

    v = df.withColumn("_v", F.col(vec_col).cast("array<double>"))
    v = v.withColumn("_n2", norm2_expr("_v"))
    scored = []
    for sid, vec in seeds:
        # left-fold python sum matches the engines' sequential fold
        sn2 = 0.0
        for x in vec:
            sn2 += float(x) * float(x)
        dot = _dot_sql("_v", vec)
        # zero-norm guard: ANSI mode raises DIVIDE_BY_ZERO on 0.0/0.0
        # (non-ANSI silently yields NaN, which sorts ABOVE every cosine) —
        # an all-zeros embedding assigns deterministically at cos = -2.0,
        # below any real cosine, so ties break purely on seed id. Any NaN
        # cosine scores -2.0 too: a zero norm times an overflowed (inf)
        # one is a NaN denominator (which passes ``> 0``), and a finite
        # vector against an overflowed seed gives inf / sqrt(inf), and
        # Spark orders NaN above every double, so it would win the argmax.
        denom = f"(_n2 * {_double_sql(sn2)})"
        scored.append(
            f"named_struct('c', CASE WHEN {denom} > 0 "
            f"THEN nanvl({dot} / sqrt({denom}), -2.0D) ELSE -2.0D END, "
            f"'nid', {-int(sid)})"
        )
    best = F.expr(f"array_max(array({', '.join(scored)}))")
    return (
        v.withColumn("cluster_id", (-best["nid"]).cast("long"))
        .drop("_v", "_n2")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_seeds: int = 8,
    threshold: float = 0.3,
    seeds: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup: semantic near-duplicate candidate pairs via
    cluster-then-compare. Vectors are first assigned to their nearest seed
    (:func:`seeded_clusters`, shuffle-free), then cosine runs ONLY inside a
    cluster — the corpus meets itself on a ``cluster_id`` equi-join, never a
    crossJoin, so pair work drops from O(n^2) to O(sum cluster_i^2): the
    published SemDeDup recipe, with k sized so clusters stay bounded.

    Output: (cluster_id, id_a, id_b, cosine) with id_a < id_b and
    cosine >= threshold — feed to dup_groups for keep-one selection.
    """
    assigned = seeded_clusters(df, id_col, vec_col, n_seeds, seeds=seeds)
    return _pairs_within(assigned, "cluster_id", id_col, vec_col, threshold)


def _pairs_within(
    assigned: DataFrame,
    group_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Intra-group cosine pairs: the corpus meets itself on a ``group_col``
    equi-join (never a crossJoin), pair work O(sum group_i^2)."""
    sel = assigned.select(
        group_col,
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_n2", norm2_expr("_v"))
    # both join sides read the assignment+norm projection; without a
    # materialization point each side re-runs it (the broadcast build
    # and the probe are separate subtrees — there is no exchange for
    # ReusedExchange to hit). Same policy as minhash_dedup_pairs'
    # candidate table; measured 2.14 -> 1.91 s on the sf0.1 build.
    sel = materialize(sel, eager=False)
    a = sel.select(
        group_col,
        F.col("_id").alias("id_a"),
        F.col("_v").alias("va"),
        F.col("_n2").alias("na2"),
    )
    b = sel.select(
        group_col,
        F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"),
        F.col("_n2").alias("nb2"),
    )
    return (
        a.join(b, group_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", safe_cos_div(dot_expr("va", "vb"), F.col("na2") * F.col("nb2")))
        .filter(F.col("cosine") >= threshold)
        .select(group_col, "id_a", "id_b", "cosine")
    )


def semantic_dedup_pairs_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup candidate pairs with an IVF (trained k-means) coarse
    quantizer instead of the fixed lowest-id seeds — the candidate
    generator for corpora past the seeded-cluster sweet spot: n_seeds is
    a constant there (assignment inlines the seed vectors into one
    projection), while k-means lists scale with sqrt(n) and track the
    actual density of the space, keeping per-list pair work bounded as
    the corpus grows. Same equi-join pair shape (O(sum list_i^2), never
    a crossJoin); output (ivf_list, id_a, id_b, cosine).

    The lists come from :func:`ivf_build`, i.e. the integer
    :func:`kmeans_fit`, so the same dedup run returns the same pairs
    across engines and partitionings (the audit-trail requirement).
    Recall vs the brute-force oracle is pinned >= 95% in pytest (near-
    dup pairs are much closer than the list diameter, so boundary losses
    stay in the tail); for exact parity on small corpora use
    :func:`semantic_dedup_pairs`."""
    _, assigned = ivf_build(df, vec_col=vec_col, n_lists=n_lists, id_col=id_col)
    return _pairs_within(assigned, "ivf_list", id_col, vec_col, threshold)


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_seeds: int = 8,
    cap: int = 10,
    seeds: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Cluster-balanced curation sample: at most ``cap`` vectors per
    semantic cluster, chosen by md5 hash order of the id (reproducible under
    any partitioning, no RNG) — the diversity-preserving downsample used to
    rebalance a corpus dominated by a few dense regions.

    One window per cluster (heap-bounded per partition after the
    ``cluster_id`` shuffle); assignment itself is shuffle-free.
    """
    assigned = seeded_clusters(df, id_col, vec_col, n_seeds, seeds=seeds)
    w = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.col(id_col).cast("string")), F.asc(id_col)
    )
    return (
        assigned.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def power_iteration_pca(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
    qscale: int = 1024,
    vmax: int = 4096,
    direction: "tuple[DataFrame, list[int], list[int]] | None" = None,
) -> DataFrame:
    """Top principal direction of the embedding cloud by power iteration,
    and every vector's projection onto it — the ABTT / whitening step
    (Mu & Viswanath 2018: dominant directions carry corpus-wide bias;
    subtracting them sharpens cosine similarity) and the 1-D version of
    the PCA used to pick SemDeDup split axes.

    Engine-exact by construction: vectors quantize by a POWER-OF-TWO
    scale (``x * qscale`` is exact in IEEE, floor makes ints), centering
    subtracts the truncated integer mean, and each iteration computes
    v ← Σ_i (c_i·v) c_i in exact 128-bit sums (decimal(38) on the Spark
    side, HUGEINT in a DuckDB oracle), rescaled to ``|v| ≤ vmax`` with
    truncating division. The evolving direction is ``dim`` integers —
    the one driver-sized object (it must sit on the driver anyway to
    become the next iteration's literal array). The
    per-iteration corpus work is one scan + one 64-column exact-sum
    aggregate; the final projection is mapper-only. Returns
    (id, proj_fx) with proj = c·v_final, all BIGINT.

    Scale posture: direction-finding is designed to run on a
    hash-sampled representative subset (standard practice for ABTT);
    the projection pass then maps the full corpus at scan speed.
    ``direction=`` accepts a precomputed :func:`power_direction` triple
    so a session computing BOTH the projection and the ABTT correction
    (or several projections) pays for the iteration ladder once.
    """
    base, mu, v = direction if direction is not None else power_direction(
        df, id_col, vec_col, dim, iters, qscale, vmax
    )
    v_arr = "array(" + ", ".join(f"{x}L" for x in v) + ")"
    proj = (
        f"aggregate(zip_with({_centered_sql(mu)}, {v_arr}, (a, b) -> a * b), "
        f"cast(0 as bigint), (s, x) -> s + x)"
    )
    return base.select(F.col(id_col), F.expr(proj).alias("proj_fx"))


def _centered_sql(mu: list[int]) -> str:
    mu_arr = "array(" + ", ".join(f"{m}L" for m in mu) + ")"
    return f"zip_with(_q, {mu_arr}, (a, b) -> a - b)"


def power_direction(df, id_col, vec_col, dim, iters, qscale, vmax):
    """The shared direction-finding core of :func:`power_iteration_pca`
    and :func:`abtt_correct`: returns (quantized base frame, integer
    mean, final direction). See power_iteration_pca for the exactness
    and scale analysis. The returned base frame is materialized
    — callers may feed the triple to BOTH consumers via their
    ``direction=`` kwarg without re-running the iteration ladder."""
    if dim < 1 or iters < 1:
        raise ValueError("dim and iters must be >= 1")

    base = materialize(
        df.select(F.col(id_col), F.expr(_quantize_sql(vec_col, qscale)).alias("_q"))
    )
    sums_row = base.agg(
        F.count(F.lit(1)).alias("_n"), _sums_col("element_at(_q, {j})", dim)
    ).collect()[0]
    n = sums_row["_n"]
    if n == 0:
        raise ValueError("power iteration needs at least one vector")
    mu = [trunc_div(int(x), n) for x in sums_row["_s"]]

    v = [1] * dim
    for _ in range(iters):
        v_arr = "array(" + ", ".join(f"{x}L" for x in v) + ")"
        p = (
            f"aggregate(zip_with({_centered_sql(mu)}, {v_arr}, (a, b) -> a * b), "
            f"cast(0 as bigint), (s, x) -> s + x)"
        )
        row = base.select(
            F.expr(p).alias("_p"), F.expr(_centered_sql(mu)).alias("_c")
        ).agg(
            _sums_col("cast(_p * element_at(_c, {j}) as decimal(38,0))", dim)
        ).collect()[0]
        u = [int(x) for x in row["_s"]]
        s = max(abs(x) for x in u)
        if s == 0:
            break  # degenerate cloud: direction stays put
        v = [trunc_div(x * vmax, s) for x in u]
    return base, mu, v


def abtt_correct(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
    qscale: int = 1024,
    vmax: int = 4096,
    direction: "tuple[DataFrame, list[int], list[int]] | None" = None,
) -> DataFrame:
    """All-but-the-top correction (Mu & Viswanath 2018): subtract each
    vector's component along the corpus's top principal direction.
    Returns (id, cvec) with the corrected vector in INTEGER form,

        cvec = c·S − (c·v)·v,   S = v·v,   c = quantized − mean

    i.e. the exact orthogonal rejection scaled by S so everything stays
    BIGINT (|cvec| ≤ ~4e12 for the default scales — documented bound,
    int64-safe; downstream dot products must use 128-bit sums). Cosines
    between cvec's equal cosines between the real corrected vectors —
    the uniform S factor cancels. Direction-finding is the shared
    power-iteration core (pass a precomputed :func:`power_direction`
    triple via ``direction=`` to reuse it); the correction pass itself
    is mapper-only."""
    base, mu, v = direction if direction is not None else power_direction(
        df, id_col, vec_col, dim, iters, qscale, vmax
    )
    s2 = sum(x * x for x in v)
    v_arr = "array(" + ", ".join(f"{x}L" for x in v) + ")"
    c = _centered_sql(mu)
    proj = (
        f"aggregate(zip_with({c}, {v_arr}, (a, b) -> a * b), "
        f"cast(0 as bigint), (s, x) -> s + x)"
    )
    cvec = (
        f"zip_with({c}, {v_arr}, (a, b) -> a * cast({s2} as bigint) - _p * b)"
    )
    return (
        base.withColumn("_p", F.expr(proj))
        .select(F.col(id_col), F.expr(cvec).alias("cvec"))
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    top_k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training:
    for each query vector, the ``top_k`` most-cosine-similar corpus
    vectors carrying a DIFFERENT label — the near-misses that make the
    strongest negative pairs (easy negatives are already far away;
    training signal lives at the boundary).

    Returns (query_id, query_label, neighbor_id, neighbor_label, rank,
    cosine). Same plan shape as :func:`knn_bruteforce` — the query side
    broadcasts, the corpus scans once, the only shuffle is the final
    per-query top-k window — plus the label-mismatch filter, which runs
    map-side before any scoring work survives. At mined-batch scale
    (thousands of anchors against a corpus) the production path swaps
    the scan for :func:`ivf_search` / :func:`lsh_ann_pairs` candidates
    and keeps the same mismatch-filter + window tail.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("nq2", norm2_expr("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("nc2", norm2_expr("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .withColumn(
            "cosine",
            safe_cos_div(dot_expr("qv", "cv"), F.col("nq2") * F.col("nc2")),
        )
        # a zero-norm vector (padding / missing-embedding row) has no
        # direction, so it can't be a hard negative — drop its NULL
        # cosine BEFORE ranking; the oracle filters identically, keeping
        # both engines' rank sequences aligned (NaN would sort above
        # every real cosine in DuckDB's DESC order otherwise)
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "rank",
            "cosine",
        )
    )


def _kmeans_assign_expr(cents: list[list[int]]) -> str:
    """array_min over (dist2, cluster) structs: struct comparison is
    field-order lexicographic, so the minimum is the lowest distance
    with ties broken by the LOWEST cluster index — the same rule the
    oracle's ``ROW_NUMBER() OVER (ORDER BY d2, cl)`` replays."""
    cands = ", ".join(
        "named_struct('d', aggregate(zip_with(_q, array("
        + ", ".join(f"{x}L" for x in c)
        + "), (a, b) -> (a - b) * (a - b)), cast(0 as bigint), "
        f"(s, x) -> s + x), 'c', {j})"
        for j, c in enumerate(cents)
    )
    return f"array_min(array({cands}))"


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> "tuple[list[list[int]], DataFrame]":
    """Deterministic integer Lloyd's k-means over an embedding column —
    the one k-means of the engine: the clustering stage behind corpus
    partitioning for semantic dedup, topic-balanced mixing, and the IVF
    coarse quantizer of :func:`ivf_build`. No RNG anywhere:
    vectors quantize by the power-of-two scale ``QSCALE`` (IEEE-exact),
    the initial centroids are the ``k`` lowest-id vectors, assignment
    breaks distance ties toward the lowest cluster index, and centroid
    updates are truncating integer means (empty clusters keep their
    previous centroid) — so an unrolled-CTE oracle replays every round
    bit for bit, the q72/q88 iterative-algorithm pattern.

    The vector width is read from the ``k`` seed rows; seeds of unequal
    or zero width (a NULL embedding counts as zero) raise ``ValueError``
    up front, since a centroid narrower than the vectors would NULL-pad
    every distance after round 1 and silently put every row in
    cluster 0. Any other row of a different width fails the eager
    materialization of the quantized base with a message naming its
    id, its width and the seed width.

    Plan shape per iteration: ONE corpus scan computing the argmin
    against k literal centroid arrays (mapper-only — no join, no
    shuffle), then one k×dim-sized aggregate collected to the driver
    (centroids must sit there anyway to become the next round's
    literals). The quantized base is materialized once, so
    ``iters`` rounds never re-read the source. At 100 TB this is the
    textbook scalable k-means loop: linear scans, k·dim driver state,
    no per-row Python.

    Overflow bound: per-dim |q| ≤ QSCALE·A (A = max |coordinate|), so
    dist2 ≤ dim·(2·QSCALE·A)² — for dim=64, QSCALE=1024, A≤64 this is
    ~1.8e15, int64-safe; centroid sums are n·QSCALE·A, safe past 1e13
    rows. Returns (final centroids, assignments (id, cluster_id,
    dist2))."""
    if k < 1 or iters < 1:
        raise ValueError("k and iters must both be >= 1")
    quantized = df.select(
        F.col(id_col), F.expr(_quantize_sql(vec_col)).alias("_q")
    )
    seeds = quantized.orderBy(F.asc(id_col)).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(
            f"kmeans_fit needs at least k={k} vectors, got {len(seeds)}"
        )
    cents = [list(r["_q"] or ()) for r in sorted(seeds, key=lambda r: r[id_col])]
    widths = sorted({len(c) for c in cents})
    if len(widths) != 1 or widths[0] == 0:
        raise ValueError(
            f"kmeans_fit needs seed vectors of one non-zero width, got widths {widths}"
        )
    dim = widths[0]
    # every other row's width is checked inside the eager materialization
    # (no extra job): a wider row would get a NULL dist2 and sink into
    # cluster 0, a narrower one would fail on element_at
    width = "if(_q IS NULL, 0, size(_q))"
    base = materialize(quantized.withColumn("_q", F.expr(
        f"CASE WHEN {width} = {dim} THEN _q ELSE raise_error(concat("
        f"'kmeans_fit: {id_col} ', CAST({id_col} AS STRING), ' has width ', "
        f"CAST({width} AS STRING), ', expected width {dim}')) END"
    )))
    for _ in range(iters):
        asg = base.withColumn("_b", F.expr(_kmeans_assign_expr(cents)))
        sums = (
            asg.groupBy(F.col("_b.c").alias("_cl"))
            .agg(F.count(F.lit(1)).alias("_n"),
                 _sums_col("element_at(_q, {j})", dim))
            .collect()
        )
        nxt = [list(c) for c in cents]  # empty clusters carry over
        for r in sums:
            n = int(r["_n"])
            nxt[int(r["_cl"])] = [trunc_div(int(x), n) for x in r["_s"]]
        cents = nxt
    out = base.withColumn("_b", F.expr(_kmeans_assign_expr(cents))).select(
        F.col(id_col),
        F.col("_b.c").cast("int").alias("cluster_id"),
        F.col("_b.d").cast("bigint").alias("dist2"),
    )
    return cents, out
