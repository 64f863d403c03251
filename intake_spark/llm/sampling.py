"""Deterministic sampling / source-mixing for training-data pipelines.

``df.sample()`` draws per-partition random numbers: results change with
partitioning, retries, and cluster size — unacceptable for reproducible
100 TB dataset builds. These operators key every decision off a stable
content hash instead, so a sample is a pure function of the data:
re-running on any cluster layout yields byte-identical output, and the
decision is a mapper-only filter (no shuffle, prunes at the scan).

No reference counterpart (part of the mandated beyond-reference LLM
pipeline layer); the hash-mod idiom is the standard reproducible-sampling
pattern in large-scale dataset curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intake_spark.session import local_frame

# md5-derived 32-bit bucket in [0, 10^6): enough resolution for per-ppm
# sampling rates while staying exactly representable in both engines
_BUCKETS = 1_000_000


def hash_bucket(col, salt: str = ""):
    """Deterministic bucket in [0, 1e6) from a key column: first 8 hex chars
    of md5(salt || ':' || key), mod 1e6. Engine-portable (md5 + integer
    mod). The ':' delimiter keeps distinct (salt, key) pairs distinct —
    without it, (salt='a', key='bc') and (salt='ab', key='c') hash the
    same bytes and two supposedly independent samples correlate."""
    from intake_spark.llm.dedup import base_hash

    key = (
        F.concat(F.lit(salt + ":"), F.col(col).cast("string"))
        if salt
        else F.col(col).cast("string")
    )
    return base_hash(key) % _BUCKETS


def hash_sample(df: DataFrame, key_col: str, fraction: float, salt: str = "") -> DataFrame:
    """Reproducible ``fraction`` sample keyed on ``key_col``: keep rows with
    hash_bucket < fraction * 1e6. Deterministic under any partitioning;
    different ``salt`` values give INDEPENDENT samples — independent means
    they may overlap (each salt is its own hash function). For provably
    DISJOINT splits use :func:`hash_split`, which ranges one hash."""
    return df.filter(hash_bucket(key_col, salt) < round(fraction * _BUCKETS))


def _split_edges(fractions: list[float]) -> list[int]:
    """Cumulative bucket edges for disjoint hash splits — the ONE
    definition both :func:`hash_split` and :func:`dedup_aware_split`
    range over (desynced edge rules would give different splits for the
    same fractions)."""
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(fractions)}")
    edges = [0]
    for f in fractions:
        # round, not int(): 0.3 * 1e6 is 299999.99999999994 in IEEE double
        # and truncation silently keeps one bucket fewer than specified
        edges.append(edges[-1] + round(f * _BUCKETS))
    edges[-1] = _BUCKETS
    return edges


def hash_split(df: DataFrame, key_col: str, fractions: list[float], salt: str = "") -> list[DataFrame]:
    """Disjoint deterministic splits (e.g. [0.8, 0.1, 0.1] train/val/test):
    contiguous bucket ranges of one hash, so membership is exclusive and
    exhaustive by construction — no row can land in two splits."""
    edges = _split_edges(fractions)
    b = hash_bucket(key_col, salt)
    return [df.filter((b >= lo) & (b < hi)) for lo, hi in zip(edges, edges[1:])]


def mix_sources(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Weighted source mixing: keep each source at its own sampling rate
    (rate > 1 is clamped to 1 — hash sampling cannot oversample). The
    standard corpus-reweighting step in training-data builds, as one
    mapper-only filter: per-row rate comes from a broadcastable CASE over
    ``source_col``, compared against the row's hash bucket."""
    if not rates:
        raise ValueError("mix_sources needs at least one source rate")
    rate_expr = None
    for src, rate in sorted(rates.items()):
        thr = round(min(rate, 1.0) * _BUCKETS)
        rate_expr = (
            F.when(F.col(source_col) == src, F.lit(thr))
            if rate_expr is None
            else rate_expr.when(F.col(source_col) == src, F.lit(thr))
        )
    rate_expr = rate_expr.otherwise(F.lit(0))  # unlisted sources drop
    return df.filter(hash_bucket(key_col, salt) < rate_expr)


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Exactly-``k`` deterministic uniform sample per group (hash_sample
    keeps a *fraction*; audits and eval-set builds need a fixed COUNT per
    stratum). Rows rank by (hash_bucket(key), key) inside each group —
    i.e. uniformly at random under the content hash, but reproducible on
    any cluster layout — and the first ``k`` survive. Groups smaller than
    ``k`` keep everything. One exchange on the group key; rank is
    per-partition (no global sort), so group cardinality is the only
    skew bound."""
    out = top_k_per_group(
        df.withColumn("_skb", hash_bucket(key_col, salt)),
        group_col,
        [F.asc("_skb"), F.asc(key_col)],
        k,
    )
    return out.drop("_skb")


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
) -> DataFrame:
    """Deterministic per-group curation: keep the top ``k`` rows of each
    group under a total order (pass unique tie-breaks — e.g. doc_id — so
    the result is a pure function of the data). One hash-partition
    exchange on the group key; rank computes per-partition with no global
    sort, so group skew, not data volume, is the scale bound."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def mix_by_temperature(
    df: DataFrame,
    target_total: int,
    source_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "temp",
):
    """Temperature-scaled source mixing at tau=2 (the multilingual-corpus
    recipe: sample source i proportionally to n_i^(1/tau) = sqrt(n_i), so
    small sources are UP-weighted relative to their share): computes
    per-source keep rates for an expected ``target_total`` rows and
    applies them as deterministic hash sampling.

    Returns (mixed_df, rates_df) where rates_df is the per-source audit
    table (n_docs, bucket threshold, realized rate). Engine-exact by the
    repo's policy: sqrt is IEEE-correctly-rounded everywhere, its output
    floors to a 1e6 fixed point, the normalizer is an exact BIGINT sum,
    and the final rate is ONE double division — so the same rows survive
    on any engine and any partitioning. Everything is a broadcast of a
    source-count table onto a mapper-only filter; no corpus shuffle."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    sq = counts.withColumn(
        "_sq", F.floor(F.sqrt(F.col("_n").cast("double")) * F.lit(1e6)).cast("bigint")
    )
    total = sq.agg(F.sum("_sq").alias("_S"))
    rates = (
        sq.crossJoin(F.broadcast(total))
        .withColumn(
            "_thr",
            # multiply in DOUBLE: bigint products overflow int64 at corpus
            # scale (1e9-doc sources put _S*_n past 2^63)
            F.floor(
                F.least(
                    F.lit(1.0),
                    (F.lit(float(target_total)) * F.col("_sq").cast("double"))
                    / (F.col("_S").cast("double") * F.col("_n").cast("double")),
                )
                * F.lit(float(_BUCKETS))
            ).cast("bigint"),
        )
        .select(
            source_col,
            F.col("_n").alias("n_docs"),
            "_thr",
            # the realized (post-rounding) keep rate the docstring promises
            (F.col("_thr").cast("double") / F.lit(float(_BUCKETS))).alias(
                "realized_rate"
            ),
        )
    )
    mixed = df.join(F.broadcast(rates.drop("realized_rate")), source_col).filter(
        hash_bucket(key_col, salt) < F.col("_thr")
    )
    return mixed.drop("n_docs", "_thr"), rates


def quality_buckets(
    df: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "lang",
    score_col: str = "bigram_commonness_r",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style per-group quality bucketing (Wenzek et al. 2020):
    rank each group's documents by an LM quality score and split them
    into ``n_buckets`` equal tiles — head / middle / tail for the
    default 3 — so downstream sampling can favor the head without
    hand-picking a global threshold per language.

    ``scores`` is any (id, score) frame (canonically
    ``text.bigram_lm_scores``; CCNet uses LM perplexity — same ranking,
    opposite sign). Documents with no score row (too short to have
    bigrams) keep a NULL score and sort to the tail, which is exactly
    where an unscorable doc belongs. The tile assignment is NTILE over
    (score DESC NULLS LAST, id) — a total order, so bucket membership
    is deterministic and engine-reproducible.

    Plan: one left join (score frame is doc-keyed, Catalyst/AQE picks
    the strategy) + one window per group partition. At 100 TB the
    window partitions by language — tens of partitions of corpus-sized
    rows; skew between languages is real but each partition is a sort,
    not a collect, and NTILE needs only the partition row count (one
    pass). A per-(lang, shard) variant with shard-local tiles is the
    escape hatch if one language dominates a cluster — same trick as
    ``pack_sequences``; tiles then approximate the global ones.

    Reference surface: CCNet's perplexity-bucket stage; the reference
    engine has no counterpart operator (quality filters only).
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    from pyspark.sql.window import Window

    joined = df.select(F.col(id_col), F.col(group_col)).join(
        scores.select(F.col(id_col), F.col(score_col)), id_col, "left"
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc_nulls_last(score_col), F.asc(id_col)
    )
    tile = F.ntile(n_buckets).over(w)
    if n_buckets == 3:
        bucket = (
            F.when(tile == 1, F.lit("head"))
            .when(tile == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        bucket = F.concat(F.lit("b"), tile.cast("string"))
    return joined.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        tile.cast("int").alias("tile"),
        bucket.alias("bucket"),
    )


def dedup_aware_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: list[float],
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    names: tuple[str, ...] = ("train", "val", "test"),
    salt: str = "split",
) -> DataFrame:
    """Leakage-free train/val/test assignment: every member of a near-dup
    cluster lands in the SAME split, so a test document can never have a
    near-duplicate in the training set (the classic eval-contamination
    channel that plain per-document hashing leaves open — hash_split on
    doc_id puts two 95%-identical docs in different splits with
    probability 2·p·(1−p)).

    ``pairs`` is any near-dup pair frame (LSH, SimHash, winnowing,
    semantic — the :mod:`dedup` generators all qualify). Clusters come
    from :func:`~intake_spark.llm.dedup.dup_groups` (connected
    components, canonical = min id); singleton documents are their own
    canonical. The split is then ONE deterministic hash of the CANONICAL
    id ranged over contiguous buckets (:func:`hash_split` semantics), so
    membership stays exclusive, exhaustive, and reproducible under any
    partitioning — and cluster-atomic by construction.

    Returns ``df``'s rows with ``canonical_id`` and ``split`` appended.

    Scale: the group table is bounded by the pair set (LSH already
    pruned it to near-dups only), orders of magnitude smaller than the
    corpus — it broadcasts; the corpus side is one mapper-only hash
    filter after the broadcast join. Nothing corpus-sized shuffles.
    """
    if len(names) != len(fractions):
        raise ValueError("names and fractions must align")
    edges = _split_edges(fractions)
    from intake_spark.llm.dedup import dup_groups

    groups = dup_groups(pairs, a_col=a_col, b_col=b_col).select(
        F.col("doc_id").alias(id_col), F.col("group_id")
    )
    joined = df.join(F.broadcast(groups), id_col, "left").withColumn(
        "canonical_id", F.coalesce(F.col("group_id"), F.col(id_col))
    )
    b = hash_bucket("canonical_id", salt)
    split = F.lit(names[-1])
    for name, lo, hi in reversed(list(zip(names, edges, edges[1:]))):
        split = F.when((b >= lo) & (b < hi), F.lit(name)).otherwise(split)
    return joined.drop("group_id").withColumn("split", split)


def unimax_budgets(
    df: DataFrame,
    total_budget: int,
    epochs_cap: int = 4,
    lang_col: str = "lang",
    tokens_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023): distribute a
    total token budget across languages as uniformly as possible, capping
    each language at ``epochs_cap`` epochs of its own data — the
    principled alternative to temperature sampling (:func:`mix_by_
    temperature`), which over-samples head languages and over-epochs tail
    ones.

    Exact integer waterfall: languages process in ascending-capacity
    order (ties by name); each takes ``min(cap, remaining //
    n_remaining)`` — trunc division, so the replay is engine-exact. Once
    a language's cap exceeds the uniform share, every later (larger)
    language receives the share too; leftover budget past Σcaps stays
    unallocated (every language is fully epoch-capped).

    Returns (lang, n_tokens, cap_tokens, budget_tokens) per language.
    NULL-language rows are excluded (they have no budget identity).

    Scale: ONE corpus aggregation to a languages-sized table (map-side
    combine; tokens are counted JVM-side), then the waterfall runs as
    driver integer math over ≤ a few hundred rows — the classifier-H
    premise: the loop state is bounded by language count, never corpus
    size.
    """
    if total_budget < 0 or epochs_cap < 1:
        raise ValueError("total_budget must be >= 0 and epochs_cap >= 1")
    if tokens_col is None:
        toks = F.size(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                lambda x: F.length(x) > 0,
            )
        ).cast("bigint")
    else:
        toks = F.col(tokens_col).cast("bigint")
    counts = (
        df.filter(F.col(lang_col).isNotNull())
        .groupBy(F.col(lang_col).alias("lang"))
        .agg(F.sum(toks).alias("n_tokens"))
    )
    rows = sorted(
        ((r["lang"], int(r["n_tokens"])) for r in counts.collect()),
        key=lambda t: (epochs_cap * t[1], t[0]),
    )
    remaining = int(total_budget)
    out = []
    for i, (lang, n_tok) in enumerate(rows):
        cap = epochs_cap * n_tok
        share = remaining // (len(rows) - i)
        give = min(cap, share)
        remaining -= give
        out.append((lang, n_tok, cap, give))
    spark = df.sparkSession
    return local_frame(
        spark, sorted(out),
        "lang string, n_tokens long, cap_tokens long, budget_tokens long",
    )
