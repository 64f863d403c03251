"""Text-analysis operators: tokenization, quality, language-ID, fingerprints.

Everything here is built from JVM-side ``pyspark.sql.functions`` (split /
higher-order array functions / regexp) so the hot path stays inside
whole-stage codegen — no Python UDFs. Each operator is a ``df -> df``
transform suitable as a pipeline step.

Scale notes: all operators are embarrassingly parallel per-row (no shuffle);
aggregating variants shuffle once on their grouping key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intake_spark.session import materialize

# A small, fixed stopword list per language used by the heuristic
# language-ID scorer and the quality scorer. Deliberately tiny and
# hard-coded: the scorer must be deterministic and oracle-reproducible.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "zu", "den", "ist", "ein"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "est"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
}

LANG_ORDER = ("en", "es", "de", "fr", "zh")


def words_col(text_col: str = "text") -> Column:
    """Whitespace tokenization as an array column (single-space corpus)."""
    return F.split(F.col(text_col), " ")


def nonempty_words(txt: Column) -> Column:
    """NONEMPTY space-split tokens of an (already NULL-coalesced) text
    expression — the ONE word-array definition the rule filters
    (c4/gopher/blocklist), the feature hasher, and the span scanner all
    build on, so a tokenization change can never reach some filters and
    silently diverge the others."""
    return F.filter(F.split(txt, " "), lambda x: F.length(x) > 0)


def _sql_array(values: list[str]) -> Column:
    return F.array(*[F.lit(v) for v in values])


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add token-count / char-count columns: ``n_tokens``, ``n_uniq_tokens``,
    ``n_chars_sum`` (sum of token lengths), ``avg_token_len``."""
    w = words_col(text_col)
    n = F.size(w)
    charsum = F.aggregate(F.transform(w, lambda x: F.length(x)), F.lit(0), lambda s, v: s + v)
    return (
        df.withColumn("n_tokens", n)
        .withColumn("n_uniq_tokens", F.size(F.array_distinct(w)))
        .withColumn("n_chars_sum", charsum)
        .withColumn("avg_token_len", charsum.cast("double") / n)
    )


def with_quality(df: DataFrame, text_col: str = "text", stop_lang: str = "en") -> DataFrame:
    """Quality-scoring columns: ``uniq_ratio`` (distinct/total tokens — low
    for boilerplate/repetition), ``stopword_ratio`` (natural prose sits in a
    characteristic band), ``punct_ratio`` (chars outside [a-z0-9 ])."""
    out = with_token_stats(df, text_col)
    w = words_col(text_col)
    stops = _sql_array(STOPWORDS[stop_lang])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stops, x)))
    n_punct = F.length(F.regexp_replace(F.lower(F.col(text_col)), "[a-z0-9 ]", ""))
    return (
        out.withColumn("uniq_ratio", F.col("n_uniq_tokens").cast("double") / F.col("n_tokens"))
        .withColumn("stopword_ratio", n_stop.cast("double") / F.col("n_tokens"))
        .withColumn("punct_ratio", n_punct.cast("double") / F.length(F.col(text_col)))
    )


def with_lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-voting language-ID: one ``hits_<lang>`` count per language
    plus ``pred_lang`` (argmax, ties broken in LANG_ORDER). Pure JVM-side
    array ops; at 100 TB this is a mapper-only pass."""
    w = words_col(text_col)
    out = df
    for lang in LANG_ORDER:
        stops = _sql_array(STOPWORDS[lang])
        out = out.withColumn(
            f"hits_{lang}", F.size(F.filter(w, lambda x: F.array_contains(stops, x)))
        )
    # argmax with deterministic first-wins tie-break: max over
    # (hits, -order_index) struct ordering, then project the lang tag.
    candidates = F.array(
        *[
            F.struct(
                F.col(f"hits_{lang}").alias("h"),
                F.lit(-i).alias("ni"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANG_ORDER)
        ]
    )
    return out.withColumn("pred_lang", F.array_max(candidates)["lang"])


BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_tokens_col(text_col: str = "text", pattern: str = BPE_PATTERN) -> Column:
    """BPE-style pre-tokenization (GPT-2-family splitting rules, ASCII
    simplification): letters / digits / punctuation runs with leading-space
    attachment. JVM-side regexp_extract_all — no Python in the hot path."""
    return F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)


def with_bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_bpe_tokens`` — the training-cost estimator column."""
    return df.withColumn("n_bpe_tokens", F.size(bpe_tokens_col(text_col)))


def normalize_text(text_col: str = "text") -> Column:
    """Canonical normalization used for fingerprinting: lowercase, strip
    non-alphanumerics, collapse whitespace."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``fingerprint`` — md5 of the normalized text. Grouping on it is
    normalized exact-dedup (casing/punctuation-insensitive)."""
    return df.withColumn("fingerprint", F.md5(normalize_text(text_col)))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Split documents into overlapping word windows — the standard
    context-length packing step of a training-data pipeline. Output:
    (id, chunk_id, chunk_text, n_words) with chunk starts at 1, 1+stride,
    ... ≤ n_words (trailing partial windows kept).

    Mapper-only: JVM higher-order functions (sequence/transform/slice),
    one explode, no shuffle — at 100 TB this is a pure scan+flatMap."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    w = F.split(F.col(text_col), " ")
    chunks = F.expr(
        f"transform(sequence(1, size(_w), {stride}), "
        f"s -> struct(cast((s - 1) div {stride} as int) as chunk_id, "
        f"concat_ws(' ', slice(_w, s, {window})) as chunk_text))"
    )
    return (
        df.select(F.col(id_col), w.alias("_w"))
        .filter(F.size("_w") >= 1)
        .select(id_col, F.explode(chunks).alias("_c"))
        .select(
            id_col,
            F.col("_c.chunk_id").alias("chunk_id"),
            F.col("_c.chunk_text").alias("chunk_text"),
        )
        .withColumn("n_words", F.size(F.split(F.col("chunk_text"), " ")).cast("long"))
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-document n-gram repetition: (id, n_ngrams, n_distinct,
    dup_ratio) where dup_ratio = 1 - distinct/total — the Gopher-style
    repetitiousness quality signal. All JVM array expressions; the only
    shuffle is none (mapper-only per row)."""
    w = F.split(F.col(text_col), " ")
    grams = F.expr(
        f"transform(sequence(1, greatest(size(_w) - {n - 1}, 0)), "
        f"i -> concat_ws(' ', slice(_w, i, {n})))"
    )
    return (
        df.select(F.col(id_col), w.alias("_w"))
        .filter(F.size("_w") >= n)
        .withColumn("_g", grams)
        .select(
            id_col,
            F.size("_g").cast("long").alias("n_ngrams"),
            F.size(F.array_distinct("_g")).cast("long").alias("n_distinct"),
        )
        .withColumn(
            "dup_ratio",
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_ngrams"), 6
            ),
        )
    )


def top_terms(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    k: int = 5,
) -> DataFrame:
    """Top-k terms per group by count (ties broken by term ascending) —
    the vocabulary-drift monitor for corpus mixing. One shuffle for the
    (group, term) aggregate, one for the per-group top-k window."""
    from pyspark.sql.window import Window

    counts = (
        df.select(by, F.explode(F.split(F.col(text_col), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(by, "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rank = F.row_number().over(
        Window.partitionBy(by).orderBy(F.col("n").desc(), F.col("term").asc())
    )
    return (
        counts.withColumn("rank", rank)
        .filter(F.col("rank") <= k)
        .select(by, "rank", "term", F.col("n").cast("long").alias("n"))
    )


def _scrub_exprs(text_col, patterns, repl_for):
    """Shared scrub core for :func:`scrub_patterns` / :func:`pii_scrub`:
    per-pattern match counts evaluated on the PROGRESSIVELY-scrubbed text
    — each pattern is counted on the text after all earlier patterns have
    replaced, so counts equal actual redactions (a phone-shaped digit run
    inside an already-redacted email is not double counted) and pattern
    order carries the same meaning for counting as for replacing."""
    scrubbed = F.col(text_col)
    counts: dict[str, object] = {}
    for tag, rx in patterns.items():
        counts[tag] = F.regexp_count(scrubbed, F.lit(rx)).cast("long")
        scrubbed = F.regexp_replace(scrubbed, rx, repl_for(tag))
    return counts, scrubbed


def scrub_patterns(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """PII-style masking: replace each regex with its ``<TAG>`` and count
    redactions per pattern. Default patterns: emails, long digit runs
    (phone/account-like), IPv4. Mapper-only JVM regexp ops.

    Output adds ``{out_col}`` (scrubbed text, default replaces in place)
    and ``n_redactions``."""
    # order matters: specific patterns (IP) before the generic digit-run,
    # or the NUMBER rule consumes dotted quads first
    patterns = patterns or {
        "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "IP": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
        "NUMBER": r"[0-9][0-9 ()+.-]{6,}[0-9]",
    }
    out_col = out_col or text_col
    counts, scrubbed = _scrub_exprs(text_col, patterns, lambda tag: f"<{tag}>")
    n_red = None
    for c in counts.values():
        n_red = c if n_red is None else n_red + c
    return df.withColumn("n_redactions", n_red).withColumn(out_col, scrubbed)


def novel_ngram_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    rare_df: int = 2,
) -> DataFrame:
    """Per-document rate of *rare* n-grams: (id, n_ngrams, n_rare,
    novel_rate) where an n-gram is rare if it occurs in fewer than
    ``rare_df`` documents corpus-wide.

    The corpus-statistics quality signal the per-row operators
    (repetition_stats, with_quality) can't see: machine-generated
    gibberish scores high (its n-grams appear nowhere else), boilerplate
    scores near zero (every n-gram is corpus-common). Pure counting — no
    log-probability, so results are exact across engines.

    Plan: distinct doc-grams -> document frequency per gram (one shuffle
    on the gram) -> per-doc rare fraction (one shuffle on the id). Both
    aggregates partial-combine map-side; no broadcast of the vocabulary.
    """
    from intake_spark.llm.dedup import shingles

    grams = shingles(df, id_col, text_col, k=n)  # distinct per doc
    docfreq = grams.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    return (
        grams.join(docfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum((F.col("_df") < rare_df).cast("bigint")).alias("n_rare"),
        )
        .withColumn(
            "novel_rate",
            F.round(F.col("n_rare").cast("double") / F.col("n_ngrams"), 6),
        )
    )


def length_histogram(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    bin_width: int = 16,
) -> DataFrame:
    """Token-length histogram per group: (group, bin_lo, n_docs) with
    bin_lo = floor(token_count / bin_width) * bin_width. The one-glance
    corpus shape check (truncation spikes, empty-doc pileups at bin 0);
    mapper-only binning + one aggregate."""
    n_tokens = F.size(F.split(F.col(text_col), " "))
    bin_lo = (n_tokens.cast("bigint") / bin_width).cast("bigint") * bin_width
    return (
        df.select(F.col(group_col), bin_lo.alias("bin_lo"))
        .groupBy(group_col, "bin_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def vocab_coverage(df: DataFrame, text_col: str = "text", top_n: int = 50) -> DataFrame:
    """Per-doc coverage of the corpus top-``top_n`` vocabulary: distinct
    doc tokens inside the vocab / distinct doc tokens. High coverage flags
    boilerplate-heavy docs; low coverage flags out-of-domain or noisy
    text. The vocab ranks with a deterministic tie-break (count desc,
    token asc) and collapses to ONE broadcast row — the doc side stays a
    mapper (split + array_intersect), so the only shuffles are the
    partial-combining token count and the trivial vocab rank. The top-N
    selection is ``orderBy(...).limit(top_n)``, which Spark lowers to
    ``TakeOrderedAndProject`` — per-partition top-N heaps merged on the
    driver — so NO single task ever sorts the full distinct-token table,
    and an open-ended vocabulary (URLs, code identifiers) cannot create a
    one-task global window."""
    toks = df.select("doc_id", F.split(F.col(text_col), " ").alias("toks"))
    freq = toks.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = (
        freq.orderBy(F.desc("c"), F.asc("tok"))
        .limit(top_n)
        .agg(F.sort_array(F.collect_list("tok")).alias("_vocab"))
    )
    uniq = F.array_distinct("toks")
    inter = F.array_intersect(uniq, F.col("_vocab"))
    return (
        toks.crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.size(uniq).cast("long").alias("n_distinct"),
            F.size(inter).cast("long").alias("n_in_vocab"),
            F.round(F.size(inter) / F.size(uniq), 6).alias("coverage_r"),
        )
    )


def distinctive_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` distinctive terms — the TF-IDF keyword step
    of a curation pipeline, made EXACT across engines by replacing the
    transcendental idf with an integer surrogate: score = tf *
    floor(1e12 / df) where df is the term's document frequency. The
    ranking is order-isomorphic to tf/df (same monotone transform per
    term) and every intermediate is a BIGINT, so the oracle compare is
    bit-exact, not approximate. Ties break (score desc, term asc).

    Plan: (doc, term) tf aggregate and term df aggregate both partial-
    combine; the df table is vocabulary-sized — no forced broadcast (an
    open-ended vocabulary of URLs/code ids can exceed the broadcast limit;
    AQE picks broadcast at runtime when it actually fits); the top-k
    window partitions by doc id — per-partition rank, no global sort. At
    100 TB the only corpus-sized shuffles are the two hash aggregates on
    compact keys.
    """
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.countDistinct(id_col).alias("_dfc"))
    scored = tf.join(dfreq, "tok").select(
        id_col,
        "tok",
        "tf",
        (F.col("tf") * F.floor(F.lit(1e12) / F.col("_dfc")).cast("bigint")).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "rk", "tok", "score")
    )


def char_diversity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-distribution diversity via the Gini impurity
    1 - sum(c_i^2)/n^2 over character counts — the transcendental-free
    stand-in for character entropy (0 = one repeated char, →1 = uniform
    spread). Low values flag degenerate/garbage docs that token-level
    stats miss (e.g. 'aaaa…' scored token-wise looks like one token).

    Exact across engines: character counts and the sum of squares are
    integers; one IEEE division + round(6) at the end. Mapper-only — the
    per-row expression sorts the char array and sums squared run lengths
    (O(n log n), measured 2.2x faster than the distinct-chars × filter
    scan formulation), no explode, NO shuffle at any scale.
    """
    n = F.length(F.col(text_col)).cast("bigint")
    # run boundaries in the sorted char array (0-based), then run lengths
    # via zip with the next boundary (sentinel: array length)
    bounds = F.expr(
        "filter(sequence(0, size(_s) - 1), i -> i = 0 OR _s[i] != _s[i-1])"
    )
    lens = F.expr(
        "zip_with(_b, concat(slice(_b, 2, size(_b) - 1), array(size(_s))), "
        "(a, c) -> c - a)"
    )
    sum_sq = F.expr("aggregate(_l, 0L, (s, v) -> s + cast(v as bigint) * v)")
    return (
        df.select(
            F.col(id_col),
            F.expr(f"array_sort(split({text_col}, ''))").alias("_s"),
            n.alias("n"),
        )
        .filter(F.col("n") > 0)
        .withColumn("_b", bounds)
        .withColumn("_l", lens)
        .select(
            id_col,
            F.col("n").alias("n_chars"),
            F.size("_l").cast("bigint").alias("n_distinct_chars"),
            F.round(
                F.lit(1.0) - sum_sq.cast("double") / (F.col("n") * F.col("n")), 6
            ).alias("gini_r"),
        )
    )


def token_probability_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc mean corpus-unigram probability of its tokens ("commonness"
    — the transcendental-free cousin of unigram log-likelihood: high =
    stock phrasing, low = rare-token docs; rank ascending for outlier
    mining). Deterministic across engines by construction: p = count/total
    is one IEEE division, the per-token score floors to a 1e-12 fixed
    point, and doc aggregation sums exact BIGINTs. The frequency table is
    vocabulary-sized — joined without a forced broadcast hint (open
    vocabularies can exceed the broadcast limit; AQE broadcasts at runtime
    when it fits); the doc rollup is the one real shuffle and combines
    partially."""
    toks = df.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("_total"))
    fixed = F.floor(F.col("c").cast("double") / F.col("_total") * F.lit(1e12)).cast("bigint")
    ptab = freq.crossJoin(F.broadcast(total)).select("tok", fixed.alias("_fx"))
    return (
        toks.join(ptab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("_fx") / F.count(F.lit(1)) / F.lit(1e12), 6).alias("commonness_r"),
        )
    )


def bigram_stats(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Corpus bigram association mining: the ``top_n`` most frequent
    adjacent word pairs with their joint and marginal counts — the exact
    integer sufficient statistics for PMI/log-likelihood collocation
    scores (the scores themselves are transcendental and engine-variant,
    so they stay OUT of the hashed surface; rank by the raw counts and
    compute log-space scores client-side).

    Shape: one explode + two partial-combining counts + a broadcast join
    of the tiny top-N back onto the unigram table; top-N lowers to
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    w = F.split(F.col(text_col), " ")
    pairs = F.expr(
        "transform(sequence(1, size(_w) - 1), i -> struct(_w[i-1] as w1, _w[i] as w2))"
    )
    big = (
        df.select(w.alias("_w"))
        .filter(F.size("_w") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .orderBy(F.desc("n_ab"), F.asc("w1"), F.asc("w2"))
        .limit(top_n)
    )
    uni = (
        df.select(F.explode(w).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # broadcast the TINY side (top-N bigrams), never the corpus-sized
    # vocabulary table — an open-ended vocabulary (URLs, code ids) would
    # blow the broadcast limit the other way around
    j1 = uni.join(
        F.broadcast(big), uni.tok == big.w1
    ).select("w1", "w2", "n_ab", F.col("n").alias("n_a"))
    return uni.join(F.broadcast(j1), uni.tok == j1.w2).select(
        "w1", "w2", "n_ab", "n_a", F.col("n").alias("n_b")
    )


def bigram_lm_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc mean bigram conditional probability — the order-2 cousin of
    :func:`token_probability_scores`: for each adjacent pair (a, b) the
    corpus LM probability P(b | a) = c(a,b) / c(a,·), averaged over the
    doc's pairs. High = the doc walks well-trodden token transitions
    (templates, boilerplate); low = novel phrasing. The
    transcendental-free stand-in for bigram-LM perplexity filtering
    (CCNet-style quality buckets) — rank, don't exponentiate.

    Determinism policy as everywhere: each probability is ONE IEEE
    division floored to a 1e-12 fixed point (BIGINT), doc aggregation
    sums exact integers, a single rounding at the end. c(a,·) is the
    bigram-prefix marginal (sum over b of c(a,b)), so probabilities sum
    to exactly 1 per prefix — a proper conditional distribution.

    Plan: one explode → partial-combining (a,b) counts; the prefix
    marginal re-aggregates the *count table*, never the corpus; the
    probability join is left to Catalyst/AQE (a distinct-bigram table is
    NOT broadcastable on open vocabularies); one doc_id rollup closes."""
    w = F.split(F.col(text_col), " ")
    pairs = F.expr(
        "transform(sequence(1, size(_w) - 1), i -> struct(_w[i-1] as w1, _w[i] as w2))"
    )
    doc_pairs = (
        df.select("doc_id", w.alias("_w"))
        .filter(F.size("_w") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    big = doc_pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    pref = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # NO broadcast hints: the distinct-bigram table is corpus-vocabulary²
    # and can exceed any broadcast limit on open vocabularies — let
    # Catalyst/AQE pick the join strategy from measured sizes
    ptab = big.join(pref, "w1").select(
        "w1",
        "w2",
        F.floor(F.col("c2").cast("double") / F.col("c1") * F.lit(1e12))
        .cast("bigint")
        .alias("_fx"),
    )
    return (
        doc_pairs.join(ptab, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("_fx") / F.count(F.lit(1)) / F.lit(1e12), 6).alias(
                "bigram_commonness_r"
            ),
        )
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed term list — the
    keyword-search primitive of a corpus-exploration / decontamination
    workflow (find the docs most "about" a probe query).

    Uses the *rational-IDF* BM25 variant: idf(t) = (N - df + 0.5) /
    (df + 0.5) instead of its logarithm — same monotone df ordering, no
    transcendental, so scores are engine-reproducible (the standard ln()
    IDF differs across libm implementations; rank orderings agree).
    Per-term scores floor to a 1e-9 fixed point before the (order-free)
    integer sum across terms.

    Plan: per-term tf and dl are per-row array expressions (terms inline
    as literals) — mapper-only over the corpus; N/avgdl and per-term df
    are two tiny global aggregates broadcast back; top-N lowers to
    TakeOrderedAndProject. Zero corpus-sized shuffles end to end."""
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    w = F.split(F.col(text_col), " ")
    base = df.select("doc_id", w.alias("_w")).withColumn(
        "_dl", F.size("_w").cast("double")
    )
    for i, t in enumerate(terms):
        base = base.withColumn(
            f"_tf{i}",
            F.size(F.filter(F.col("_w"), lambda x: x == F.lit(t))).cast("double"),
        )
    aggs = [F.count(F.lit(1)).cast("double").alias("_n"), F.sum("_dl").alias("_dlsum")]
    aggs += [
        F.sum(F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0)).cast("double").alias(f"_df{i}")
        for i in range(len(terms))
    ]
    stats = base.agg(*aggs).withColumn("_avgdl", F.col("_dlsum") / F.col("_n"))
    scored = base.crossJoin(F.broadcast(stats))
    fx = None
    for i in range(len(terms)):
        idf = (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5)) / (F.col(f"_df{i}") + F.lit(0.5))
        tfpart = (F.col(f"_tf{i}") * F.lit(k1 + 1.0)) / (
            F.col(f"_tf{i}")
            + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
        )
        term_fx = F.floor(idf * tfpart * F.lit(1e9)).cast("bigint")
        fx = term_fx if fx is None else fx + term_fx
    return (
        scored.withColumn("_fx", fx)
        .filter(F.col("_fx") > 0)
        .orderBy(F.desc("_fx"), F.asc("doc_id"))
        .limit(top_n)
        .select(
            "doc_id",
            F.round(F.col("_fx") / F.lit(1e9), 6).alias("bm25_r"),
        )
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level dedup (the C4/RefinedWeb boilerplate-removal
    step): a line that appears in >= ``min_df`` DISTINCT documents is
    removed from every document; surviving lines rejoin in original
    order. Output: (id, n_lines, n_kept, clean_<text_col>).

    Scale shape: posexplode → one hash-agg for per-line document
    frequency (partial combine on the line key) → one shuffle join of
    lines↔frequencies on that key → one groupBy(id) reassembly. The hot
    boilerplate lines are exactly the high-frequency join keys — they
    are also the rows being REMOVED, so the reassembly shuffle after the
    filter is boilerplate-free; no broadcast of a corpus-sized dup set.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("_ln", "_line"),
    )
    dfreq = lines.groupBy("_line").agg(
        F.countDistinct(id_col).alias("_line_df")
    )
    flagged = lines.join(dfreq, "_line")
    keep = F.col("_line_df") < F.lit(min_df)
    kept_struct = F.when(keep, F.struct(F.col("_ln"), F.col("_line")))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["_line"]
            ),
            sep,
        ).alias(f"clean_{text_col}"),
    )


# Engine-portable PII patterns: shared subset of Java regex (Spark) and
# RE2 (DuckDB) — no backrefs, no lookaround, ASCII classes only — so the
# scrub is oracle-checkable cross-engine.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"(\d{1,3}\.){3}\d{1,3}",
    "phone": r"\+\d[\d()\- ]{6,}\d",
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """PII redaction pass (the C4-style cleanup step): replace every
    match of each pattern with ``replacement`` and report per-kind match
    counts. Mapper-only (regexp_replace / regexp_count are JVM
    expressions), zero shuffle; patterns restricted to the Java∩RE2
    regex subset so the operator carries a cross-engine oracle.

    Adds: ``n_<kind>`` per pattern + ``scrubbed_<text_col>``. Counts are
    evaluated on the progressively-scrubbed text (see
    :func:`_scrub_exprs`), so they sum to the actual redaction count."""
    pats = patterns or PII_PATTERNS
    # column-API forms, NOT F.expr: SQL string-literal parsing would eat
    # the regex backslashes
    counts, scrubbed = _scrub_exprs(text_col, pats, lambda tag: replacement)
    out = df
    for kind, c in counts.items():
        out = out.withColumn(f"n_{kind}", c)
    return out.withColumn(f"scrubbed_{text_col}", scrubbed)


def c4_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_sentences: int = 3,
    min_words: int = 5,
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """C4-style heuristic document filter (Raffel et al. 2020 §2.2) with
    per-rule REASON flags — the categorical complement of
    :func:`with_quality`'s continuous scores. Rules (doc granularity,
    the subset expressible without a line structure):

    - ``r_short``:     fewer than ``min_words`` words
    - ``r_sentences``: fewer than ``min_sentences`` terminal-punctuation
                       sentence ends (. ! ?)
    - ``r_lorem``:     contains "lorem ipsum" (template boilerplate)
    - ``r_brace``:     contains "{" (leaked code/markup)

    ``keep`` is the conjunction of all rules passing. Mapper-only: every
    rule is a JVM expression over the row, zero shuffle; at 100 TB this
    runs at scan speed as the first pass of the cleaning ladder."""
    # NULL text counts as empty (r_short fires) — without the coalesce
    # every flag and `keep` itself would be NULL, a three-valued column
    # that both keep=1 and keep=0 filters drop
    txt = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(txt)
    n_words = F.size(nonempty_words(txt))
    n_sent = F.size(F.split(txt, r"[.!?]")) - 1
    r_short = (n_words < min_words).cast("int")
    r_sent = (n_sent < min_sentences).cast("int")
    r_lorem = low.contains("lorem ipsum").cast("int")
    r_brace = txt.contains("{").cast("int")
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        r_short.alias("r_short"),
        r_sent.alias("r_sentences"),
        r_lorem.alias("r_lorem"),
        r_brace.alias("r_brace"),
        ((r_short + r_sent + r_lorem + r_brace) == 0).cast("int").alias("keep"),
        # `carry` threads extra columns through so callers (the curation
        # funnel) can CHAIN rule stages on one lineage — Catalyst
        # collapses the projections into a single scan and its codegen
        # CSE shares the tokenization, instead of one scan + join per
        # stage
        *[F.col(c) for c in carry],
    )


GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    stop_min: int = 2,
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, appendix A) with
    per-rule reason flags — the repetition/format complement of
    :func:`c4_filter` (reference surface: the quality-filter step of a
    curation pipeline). Every threshold is evaluated as an INTEGER
    cross-multiplication (``10*n_sym > n_words`` instead of
    ``n_sym/n_words > 0.1``) so there is not a single float in the
    plan — the oracle compare is exact by construction, and the rules:

    - ``r_nwords``:   word count outside [``min_words``, ``max_words``]
    - ``r_wordlen``:  mean word length outside [3, 10] characters
    - ``r_symbol``:   (# '#' + # '...' + # '…') / words > 0.1
    - ``r_bullet``:   > 90% of lines start with a bullet (- * •)
    - ``r_ellipsis``: > 30% of lines end with an ellipsis
    - ``r_alpha``:    < 80% of words contain an alphabetic character
    - ``r_stop``:     fewer than ``stop_min`` of the 8 Gopher stop words

    ``keep`` is the conjunction of all rules passing. Mapper-only: one
    JVM expression tree per row, zero shuffle — at 100 TB this runs at
    scan speed next to :func:`c4_filter` in the cleaning ladder."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    w = nonempty_words(txt)
    nw = F.size(w).cast("long")
    wchars = F.aggregate(
        w, F.lit(0).cast("long"), lambda s, x: s + F.length(x).cast("long")
    )
    # occurrence counts as split-segment counts: pure integer arithmetic
    # (the earlier length-difference/3 form sneaked one float division
    # into an otherwise all-integer plan)
    n_hash = F.size(F.split(txt, "#")) - 1
    n_dots = F.size(F.split(txt, r"\.\.\.")) - 1
    n_uell = F.size(F.split(txt, "…")) - 1
    n_sym = (n_hash + n_dots + n_uell).cast("long")
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    stops = _sql_array(list(GOPHER_STOPS))
    n_stop = F.size(F.filter(stops, lambda s: F.array_contains(w, s))).cast("long")
    lines = F.split(txt, "\n")
    nl = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"))
    ).cast("long")
    n_ell_end = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    ).cast("long")
    r_nwords = ((nw < min_words) | (nw > max_words)).cast("int")
    r_wordlen = ((wchars < 3 * nw) | (wchars > 10 * nw)).cast("int")
    r_symbol = (10 * n_sym > nw).cast("int")
    r_bullet = (10 * n_bullet > 9 * nl).cast("int")
    r_ellipsis = (10 * n_ell_end > 3 * nl).cast("int")
    r_alpha = (5 * n_alpha < 4 * nw).cast("int")
    r_stop = (n_stop < stop_min).cast("int")
    flags = [r_nwords, r_wordlen, r_symbol, r_bullet, r_ellipsis, r_alpha, r_stop]
    names = [
        "r_nwords", "r_wordlen", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop",
    ]
    total = None
    for fcol in flags:
        total = fcol if total is None else total + fcol
    return df.select(
        F.col(id_col),
        nw.alias("n_words"),
        wchars.alias("word_chars"),
        n_sym.alias("n_symbols"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop_hits"),
        nl.alias("n_lines"),
        *[fcol.alias(nm) for fcol, nm in zip(flags, names)],
        (total == 0).cast("int").alias("keep"),
        *[F.col(c) for c in carry],  # see c4_filter: stage chaining
    )


def hashed_gram_stream(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 64,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Exploded (id, *extra, g, b) hashed unigram+bigram bucket stream —
    the ONE feature definition shared by :func:`dsir_weights` and
    ``classifier.hashed_linear_classifier``, so the two data selectors
    see identical features by construction (md5 bucket = first 8 hex
    chars mod ``buckets``; words = nonempty space-split tokens)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    w = nonempty_words(txt)
    base = df.select(
        F.col(id_col), *[F.col(c) for c in extra], w.alias("_w")
    )
    grams = F.concat(
        F.col("_w"),
        F.expr(
            "CASE WHEN size(_w) >= 2 THEN transform(sequence(1, size(_w) - 1), "
            "i -> concat_ws(' ', slice(_w, i, 2))) ELSE array() END"
        ),
    )
    return base.select(
        F.col(id_col), *[F.col(c) for c in extra], F.explode(grams).alias("g")
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint") % buckets,
    )


def dsir_weights(
    df: DataFrame,
    target,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 64,
    scale: int = 10_000,
) -> DataFrame:
    """DSIR importance-resampling weights (Xie et al. 2023): hashed
    unigram+bigram features, per-bucket add-one-smoothed log probability
    ratio between the ``target`` slice (a boolean Column over ``df``) and
    the rest, per-document weight = sum of bucket log-ratios over the
    document's n-grams. Selecting the top-weighted (or
    weight-proportional) documents tilts a raw corpus toward the target
    distribution — the standard cheap alternative to classifier-based
    data selection.

    Determinism: buckets are md5-derived; the ONLY transcendental is one
    ``ln`` per hash bucket (≤ ``buckets`` evaluations total, never per
    row), floored into ``1/scale`` fixed point before the exact BIGINT
    per-document sums — a cross-engine mismatch would need libm results
    a full 1e-12 of a grid step apart, verified exact on the oracle gate.

    Scale shape: exactly two mapper passes over the corpus (bucket
    counting, doc scoring — the buckets-sized count table is
    materialized eagerly so the broadcast score subplan doesn't re-run
    the explode), one hash-aggregation to ``buckets`` rows (map-side
    combine collapses each partition to ≤ ``buckets`` rows before the
    exchange), and one BROADCAST join of the bucket table back to the
    n-gram stream; the doc rollup shuffles on ``id_col`` only. Linear
    in corpus tokens, no pair blowup, nothing driver-sized."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    tagged = df.select(
        F.col(id_col), target.cast("int").alias("tgt"), F.col(text_col)
    )
    ex = hashed_gram_stream(
        tagged, id_col=id_col, text_col=text_col, buckets=buckets,
        extra=("tgt",),
    )
    # materialize the buckets-sized count table eagerly: without this the
    # broadcast score-table subplan (bc -> tot -> lr) re-runs the corpus
    # explode twice more; with it the whole operator is exactly two
    # corpus passes (count, score)
    bc = materialize(
        ex.groupBy("b").agg(
            F.sum("tgt").alias("ct"),
            F.sum(F.lit(1) - F.col("tgt")).alias("cr"),
        )
    )
    tot = bc.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    num = (F.col("ct") + 1).cast("double") * (F.col("nr") + buckets).cast("double")
    den = (F.col("cr") + 1).cast("double") * (F.col("nt") + buckets).cast("double")
    lr = (
        bc.crossJoin(F.broadcast(tot))
        .withColumn(
            "lfx",
            F.floor(F.lit(float(scale)) * F.log(num / den)).cast("bigint"),
        )
        .select("b", "lfx")
    )
    dw = (
        ex.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(F.sum("lfx").alias("fx"), F.count(F.lit(1)).alias("n_grams"))
    )
    return (
        tagged.select(F.col(id_col), F.col("tgt"))
        .join(dw, id_col, "left")
        .select(
            F.col(id_col),
            F.col("tgt"),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.round(
                F.coalesce(F.col("fx"), F.lit(0)).cast("double") / float(scale), 6
            ).alias("dsir_w_r"),
        )
    )


_REP_COUNTERS = (
    "n_chars", "n_lines", "dup_lines", "dup_line_chars",
    "dup_paras", "dup_para_chars",
    "top2_chars", "top3_chars", "top4_chars",
    "dup5_chars", "dup6_chars", "dup7_chars", "dup8_chars", "dup9_chars",
    "dup10_chars",
)
_REP_FLAGS = (
    "r_dup_line", "r_dup_line_char", "r_dup_para", "r_dup_para_char",
    "r_top2", "r_top3", "r_top4",
    "r_dup5", "r_dup6", "r_dup7", "r_dup8", "r_dup9", "r_dup10",
)
_REP_TOP_THR = {2: 20, 3: 18, 4: 16}
_REP_DUP_THR = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def _pack_count_len(counts, lens):
    """Pack int64 (count, length) arrays into one int64 key ordered by
    count, then length: ``count << 32 | length``, unpacked with
    ``key >> 32`` and ``key & 0xFFFFFFFF``. Both must be under 2^31 (an
    Arrow string cell caps a document at 2 GiB, so gram counts and
    lengths do); a larger value would overflow into the other half, so
    it raises instead."""
    if len(counts) and max(counts.max(), lens.max()) >= 1 << 31:
        raise ValueError(
            "top-gram pack: count or length >= 2^31 "
            f"(max count {counts.max()}, max length {lens.max()})"
        )
    return counts * (1 << 32) + lens


def _rep_stats_batch(ids, texts, np, pd):
    """One batch of the vectorized Gopher repetition counters, exact by
    construction: Python ``len``/``split`` and Spark ``length``/``split``
    both count code points and keep trailing empties for literal
    separators, n-gram equality groups come from a per-batch word
    dictionary (pd.factorize) + lexsort instead of string sorts (any
    total order yields the same groups), the top-gram value is count x
    char-length so the oracle's lexicographic gram tie-break cannot
    change the output (tied (count, len) grams tie on
    the product too), and the interval union is the same sorted-by-start
    sweep, done as a segmented exclusive cummax."""
    N = len(ids)
    out = {k: np.zeros(N, dtype=np.int64) for k in _REP_COUNTERS}
    line_chars = np.zeros(N, dtype=np.int64)
    n_paras = np.zeros(N, dtype=np.int64)
    para_chars = np.zeros(N, dtype=np.int64)
    words_per_doc = []
    for i, t in enumerate(texts):
        t = t if t is not None else ""
        ln = t.split("\n")
        out["n_lines"][i] = len(ln)
        sl = set(ln)
        out["dup_lines"][i] = len(ln) - len(sl)
        lc = sum(map(len, ln))
        line_chars[i] = lc
        out["dup_line_chars"][i] = lc - sum(map(len, sl))
        pg = t.split("\n\n")
        n_paras[i] = len(pg)
        sp = set(pg)
        out["dup_paras"][i] = len(pg) - len(sp)
        pc = sum(map(len, pg))
        para_chars[i] = pc
        out["dup_para_chars"][i] = pc - sum(map(len, sp))
        words_per_doc.append([w for w in t.split(" ") if w])

    cnt = np.fromiter((len(ws) for ws in words_per_doc), dtype=np.int64,
                      count=N)
    flat = [w for ws in words_per_doc for w in ws]
    Fw = len(flat)
    wlen = np.fromiter((len(w) for w in flat), dtype=np.int64, count=Fw)
    doc_of = np.repeat(np.arange(N, dtype=np.int64), cnt)
    doc_first = np.zeros(N, dtype=np.int64)
    if N > 1:
        doc_first[1:] = np.cumsum(cnt)[:-1]
    # char start of word i in the canonical single-space join
    gstart = np.zeros(Fw, dtype=np.int64)
    if Fw > 1:
        gstart[1:] = np.cumsum(wlen + 1)[:-1]
    starts = gstart - gstart[doc_first][doc_of] if Fw else gstart
    np.add.at(out["n_chars"], doc_of, wlen)
    out["n_chars"] += np.maximum(cnt - 1, 0)

    if Fw:
        codes, _ = pd.factorize(pd.Series(flat, dtype=object))
        codes = codes.astype(np.int64)
        offs = np.arange(Fw, dtype=np.int64) - doc_first[doc_of]
        for n in range(2, 11):
            idx = np.nonzero(offs <= cnt[doc_of] - n)[0]
            if not len(idx):
                continue
            keymat = tuple(codes[idx + j] for j in range(n))
            order = np.lexsort(tuple(reversed(keymat)) + (doc_of[idx],))
            sidx = idx[order]
            sdoc = doc_of[sidx]
            same = sdoc[1:] == sdoc[:-1]
            for j in range(n):
                same &= codes[sidx[1:] + j] == codes[sidx[:-1] + j]
            run_start = np.concatenate(([True], ~same))
            run_id = np.cumsum(run_start) - 1
            run_counts = np.bincount(run_id)
            run_first = np.nonzero(run_start)[0]
            rf = sidx[run_first]
            rlen = starts[rf + n - 1] + wlen[rf + n - 1] - starts[rf]
            if n <= 4:
                # value = count x gram char length; ties on (count, len)
                # tie on the product, so no string tie-break is needed.
                key = _pack_count_len(run_counts, rlen)
                best = np.zeros(N, dtype=np.int64)
                np.maximum.at(best, sdoc[run_first], key)
                out[f"top{n}_chars"] = (best >> 32) * (best & 0xFFFFFFFF)
            else:
                dup_pos = run_counts[run_id] >= 2
                occ = sidx[dup_pos]
                if not len(occ):
                    continue
                cs = starts[occ]
                ce = starts[occ + n - 1] + wlen[occ + n - 1]
                d = doc_of[occ]
                o2 = np.lexsort((ce, cs, d))
                d2, cs2, ce2 = d[o2], cs[o2], ce[o2]
                off = np.int64(int(ce2.max()) + 1)
                cm = np.maximum.accumulate(ce2 + d2 * off) - d2 * off
                prev = np.empty_like(cm)
                prev[0] = -(1 << 60)
                prev[1:] = cm[:-1]
                seg = np.concatenate(([True], d2[1:] != d2[:-1]))
                prev[seg] = -(1 << 60)
                contrib = np.maximum(ce2 - np.maximum(cs2, prev), 0)
                np.add.at(out[f"dup{n}_chars"], d2, contrib)

    flags = {
        "r_dup_line": 100 * out["dup_lines"] > 30 * out["n_lines"],
        "r_dup_line_char": 100 * out["dup_line_chars"] > 20 * line_chars,
        "r_dup_para": 100 * out["dup_paras"] > 30 * n_paras,
        "r_dup_para_char": 100 * out["dup_para_chars"] > 20 * para_chars,
        **{
            f"r_top{n}": 100 * out[f"top{n}_chars"] > t * out["n_chars"]
            for n, t in _REP_TOP_THR.items()
        },
        **{
            f"r_dup{n}": 100 * out[f"dup{n}_chars"] > t * out["n_chars"]
            for n, t in _REP_DUP_THR.items()
        },
    }
    keep = np.ones(N, dtype=bool)
    for fn in _REP_FLAGS:
        keep &= ~flags[fn]
    return out, {k: v.astype(np.int32) for k, v in flags.items()}, keep


def gopher_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021, appendix A): duplicate
    line / paragraph fractions (count and character versions), top
    n-gram character fraction for n = 2..4, and duplicated n-gram
    character coverage for n = 5..10 (overlapping occurrences counted
    once via interval union). Together with :func:`gopher_filter` this
    completes the Gopher quality-filter pair.

    Exactness: every fraction threshold is an integer
    cross-multiplication over character counts — zero floats. Character
    offsets are measured over the canonical single-space join of the
    document's nonempty words. Python and Spark agree on every
    primitive involved (code-point ``len``, literal-separator ``split``
    keeping empties); tests check every output cell against a
    brute-force Python reference.

    Scale shape: MAPPER-ONLY (one MapInPandas, no explode, no shuffle).
    r12 moved the per-document n-gram counting from per-row interpreted
    higher-order-function stacks (9 gram-string builds + sorts per doc,
    ~10 ms/doc — HOFs are CodegenFallback, so every element pays
    interpreted eval and a UTF8String concat) to one vectorized numpy
    pass per Arrow batch (per-batch word dictionary + one lexsort per
    n; guide §4.2) — same integers at ~10x less per-doc CPU, which at
    corpus scale is the difference between the cleaning ladder running
    at scan speed or at n-gram-sort speed."""
    import pyspark.sql.types as T

    from intake_spark.session import ensure_py_deps

    # the mapInPandas closure references _rep_stats_batch BY MODULE
    # REFERENCE, and pyspark snapshots sc._python_includes when
    # mapInPandas WRAPS the function — ship the package zip FIRST or a
    # driver launched outside the repo dies executor-side with
    # ModuleNotFoundError (the q132/q133/q134 pattern)
    ensure_py_deps(df.sparkSession)

    id_field = df.schema[id_col]
    carry_fields = [df.schema[c] for c in carry]
    schema = T.StructType(
        [id_field]
        + [T.StructField(c, T.LongType()) for c in _REP_COUNTERS]
        + [T.StructField(c, T.IntegerType()) for c in _REP_FLAGS]
        + carry_fields
        + [T.StructField("keep", T.IntegerType())]
    )
    tcol, icol, cc = text_col, id_col, tuple(carry)

    def rep(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            counters, flags, keep = _rep_stats_batch(
                pdf[icol], list(pdf[tcol]), np, pd
            )
            data = {icol: pdf[icol]}
            data.update(counters)
            data.update(flags)
            for c in cc:
                data[c] = pdf[c]
            data["keep"] = keep.astype(np.int32)
            yield pd.DataFrame(data)

    # carry may name text_col itself (curation_funnel threads the text
    # through every stage) — select each input column once
    in_cols = [icol, tcol] + [c for c in cc if c not in (icol, tcol)]
    return df.select(*in_cols).mapInPandas(rep, schema)


def blocklist_filter(
    df: DataFrame,
    terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """Term-blocklist document filter — the C4 "bad words" stage (Raffel
    et al. 2020 §2.2 drop documents containing list words; the list
    itself is deployment policy, supplied by the caller). Returns
    (id, n_words, n_blocked, keep): ``n_blocked`` counts tokens whose
    lowercase form is in the list, ``keep`` = n_blocked ≤ ``max_hits``
    (0 = C4's any-hit drop; small positive values tolerate incidental
    mentions in long documents).

    Mapper-only like the other rule filters: the list rides the plan as
    an IN-set literal (Catalyst's OptimizeIn turns it into a hash-set
    lookup, O(1) per token even for thousand-term policy lists), the
    count is one JVM ``filter`` over the token array, zero shuffle; at
    100 TB this runs at scan speed in the cleaning ladder. Matching is
    PER TOKEN: a term containing whitespace can never match and is
    refused by name (phrase lists need a substring/shingle mechanism,
    not a silent no-op)."""
    if not terms:
        raise ValueError("blocklist_filter needs at least one term")
    lowered = []
    for t in terms:
        if any(ch.isspace() for ch in t):
            raise ValueError(
                f"blocklist term {t!r} contains whitespace: matching is "
                "per space-split token, so a multi-word phrase would "
                "silently never match — split it into single-word terms "
                "or use a substring scan (dup_spans/scrub_patterns)"
            )
        # lowercase IN-PLAN (F.lower over a literal, constant-folded by
        # Catalyst) so terms and tokens go through the SAME case mapping:
        # Python str.lower() and the JVM disagree on some non-ASCII
        # forms (Turkish dotted İ etc.), which would make a Unicode
        # policy term silently never match.
        lowered.append(F.lower(F.lit(t)))
    words = nonempty_words(F.coalesce(F.col(text_col), F.lit("")))
    d = df.select(F.col(id_col), words.alias("_w"))
    blocked = F.size(
        F.filter(F.col("_w"), lambda t: F.lower(t).isin(*lowered))
    )
    return d.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_words"),
        blocked.cast("long").alias("n_blocked"),
        F.when(blocked <= max_hits, F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )


def ngram_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Corpus diversity report per source: distinct-1 / distinct-2
    ratios (unique n-grams over total n-grams — Li et al. 2016's
    distinct-n applied as a corpus-QA metric; a source whose distinct-2
    collapses is template spam even when exact dedup passes). Returns
    (source, n_unigrams, uniq_unigrams, n_bigrams, uniq_bigrams,
    distinct1_pm, distinct2_pm) with the ratios as floor per-mille
    integers — exact across engines.

    Scale shape: ONE tokenize pass explodes unigrams and bigrams into a
    tagged gram stream; the count/count-distinct aggregate hash-combines
    map-side, so the only full exchange is (source, tag, gram)-keyed.
    Linear in corpus tokens; nothing driver-sized."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    w = nonempty_words(txt)
    base = df.select(F.col(source_col).alias("source"), w.alias("_w"))
    uni = base.select("source", F.lit(1).alias("tag"),
                      F.explode("_w").alias("g"))
    bi = base.select(
        "source",
        F.lit(2).alias("tag"),
        F.explode(
            F.expr(
                "CASE WHEN size(_w) >= 2 THEN transform("
                "sequence(1, size(_w) - 1), i -> concat_ws(' ', "
                "slice(_w, i, 2))) ELSE array() END"
            )
        ).alias("g"),
    )
    agg = (
        uni.unionByName(bi)
        .groupBy("source", "tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("g").alias("u"),
        )
    )
    piv = agg.groupBy("source").agg(
        F.sum(F.when(F.col("tag") == 1, F.col("n")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("tag") == 1, F.col("u")).otherwise(0)).alias("u1"),
        F.sum(F.when(F.col("tag") == 2, F.col("n")).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("tag") == 2, F.col("u")).otherwise(0)).alias("u2"),
    )
    return piv.select(
        "source",
        F.col("n1").cast("long").alias("n_unigrams"),
        F.col("u1").cast("long").alias("uniq_unigrams"),
        F.col("n2").cast("long").alias("n_bigrams"),
        F.col("u2").cast("long").alias("uniq_bigrams"),
        F.when(F.col("n1") > 0, F.expr("1000 * u1 DIV n1"))
        .otherwise(F.lit(0)).cast("long").alias("distinct1_pm"),
        F.when(F.col("n2") > 0, F.expr("1000 * u2 DIV n2"))
        .otherwise(F.lit(0)).cast("long").alias("distinct2_pm"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 256,
    scale: int = 1_000_000,
) -> DataFrame:
    """Zipf's-law fit over the corpus term-frequency spectrum: the
    log-log OLS slope across the ``top_k`` most frequent terms (rank by
    count desc, term asc — deterministic). A healthy natural-language
    corpus sits near slope −1; machine-generated or boilerplate-heavy
    corpora flatten or steepen the head. Returns ONE row
    (n_terms, slope_num, slope_den) where slope = slope_num/slope_den —
    the OLS slope as an exact rational so the oracle compare never
    touches float division.

    Determinism: the ONLY transcendentals are 2·top_k ``ln`` calls
    (never per corpus row), floored into ``1/scale`` fixed point before
    the exact decimal(38,0) OLS sums — the dsir_weights policy. Scale
    shape: one tokenize pass, one hash aggregate to the term counts,
    TakeOrderedAndProject(top_k), then a top_k-row window + one-row
    aggregate; linear in corpus tokens."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(nonempty_words(txt)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(top_k)
    )
    wspec = Window.orderBy(F.desc("cnt"), F.asc("term"))
    xy = counts.select(
        F.floor(F.log(F.row_number().over(wspec).cast("double")) * scale)
        .alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * scale).alias("y"),
    )
    d38 = "decimal(38,0)"
    s = xy.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long").alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long").alias("slope_den"),
    )


def hapax_stats(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source hapax-legomena report: token count, vocabulary size,
    hapax count (terms seen exactly once within the source), and the
    floor per-mille hapax/vocab and vocab/token (type-token) ratios —
    corpus-QA signals: a source whose hapax rate collapses is
    template/boilerplate-heavy, one whose TTR spikes is noise/gibberish.
    Integer ratios so the cross-engine compare is exact.

    Scale shape: one tokenize pass, one (source, term) hash aggregate
    (map-side combining), one per-source rollup. Linear in corpus
    tokens; nothing driver-sized."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    tf = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(nonempty_words(txt)).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = tf.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        "hapax",
        F.expr("CAST((1000 * hapax) DIV vocab AS BIGINT)").alias("hapax_pm"),
        F.expr("CAST((1000 * vocab) DIV n_tokens AS BIGINT)").alias("ttr_pm"),
    )


def word_profile_divergence(
    df: DataFrame,
    words: "list[str]",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source divergence from the corpus profile over a fixed word
    list (typically stopwords/function words — their distribution is
    topic-independent, so a source that deviates is machine-generated,
    non-prose, or mislabeled-language even when content words look
    plausible). Each listed word's rate is floored to parts-per-million
    of the source's tokens; the divergence is the SUM of squared
    fixed-point rate differences vs the corpus-wide profile — a
    chi-square-shaped statistic kept in exact integers so the
    cross-engine compare is exact.

    Scale shape: ONE tokenize pass and ONE hash aggregate over the
    corpus — every token is tagged with its listed word (or NULL) map-
    side, so the single (source, word) aggregate yields both the listed
    counts and, via its NULL bucket, the per-source token totals. The
    tiny result (sources × (k+1) rows) is materialized so the
    derived branches (totals, grid, corpus profile) reuse it instead of
    re-tokenizing the corpus per referencing subtree."""
    if not words:
        raise ValueError("word_profile_divergence needs a non-empty word list")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    wlist = [w.lower() for w in words]
    low = F.lower(F.col("term"))
    tagged = df.select(
        F.col(source_col).alias("source"),
        F.explode(nonempty_words(txt)).alias("term"),
    ).select("source", F.when(low.isin(wlist), low).alias("word"))
    counts = materialize(
        tagged.groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = counts.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens")
    )
    hits = counts.filter(F.col("word").isNotNull())
    # the (source × word) grid via a generate over the literal list —
    # no join of any kind, so zero-count words still get rows
    grid = totals.select(
        "source",
        "n_tokens",
        F.explode(F.array(*[F.lit(w) for w in wlist])).alias("word"),
    )
    per = (
        grid.join(hits, ["source", "word"], "left")
        .fillna({"cnt": 0})
        .select(
            "source",
            "n_tokens",
            "word",
            F.expr("CAST((1000000 * cnt) DIV n_tokens AS BIGINT)").alias("ppm"),
            F.col("cnt"),
        )
    )
    corpus = (
        per.groupBy("word")
        .agg(F.sum("cnt").alias("ccnt"))
        .crossJoin(
            F.broadcast(
                totals.agg(F.sum("n_tokens").cast("long").alias("ctok"))
            )
        )
        .select(
            "word",
            F.expr("CAST((1000000 * ccnt) DIV ctok AS BIGINT)").alias("cppm"),
        )
    )
    return (
        per.join(F.broadcast(corpus), "word")
        .groupBy("source")
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.sum("cnt").cast("long").alias("listed_tokens"),
            F.sum(
                (F.col("ppm") - F.col("cppm")) * (F.col("ppm") - F.col("cppm"))
            )
            .cast("long")
            .alias("divergence_fx"),
        )
    )


def template_prefixes(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Template-spam detector: the modal k-token document PREFIX per
    source and its share of that source's documents (floor per-mille).
    Boilerplate pipelines stamp the same header on every page — a
    top-prefix share near 1000 is a template farm even when full-text
    dedup passes (prefixes differ past the header). Ties break on the
    lexicographically smallest prefix so the answer is deterministic.

    Scale shape: one tokenize pass (prefix slice only — the tail of the
    document is never shuffled), a (source, prefix) hash aggregate, and
    a per-source top-1 window over the aggregated counts (source-sized,
    not corpus-sized)."""
    from pyspark.sql.window import Window

    txt = F.coalesce(F.col(text_col), F.lit(""))
    pre = df.select(
        F.col(source_col).alias("source"),
        F.concat_ws(" ", F.slice(nonempty_words(txt), 1, k)).alias("prefix"),
    )
    counts = pre.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    ndocs = pre.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("prefix").asc()
    )
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        top.join(ndocs, "source")
        .select(
            "source",
            "n_docs",
            F.col("prefix").alias("top_prefix"),
            F.col("cnt").alias("top_count"),
            F.expr("CAST((1000 * cnt) DIV n_docs AS BIGINT)").alias("share_pm"),
        )
    )
