"""Distributed BPE tokenizer training (byte-pair-encoding merge learning).

The tokenizer-training step of an LLM data pipeline, done the way production
trainers do it: BPE statistics live on the WORD-FREQUENCY table, not the
corpus — one corpus-sized shuffle builds ``(word, count)``, and every merge
round after that runs on the vocabulary table (tens of thousands of rows at
any corpus scale, bounded by the language), so the driver loop costs
n_merges tiny jobs regardless of corpus size.

Tokenizing documents with the learned merges is likewise vocab-first:
:func:`bpe_segment_vocab` applies the merge sequence to each vocabulary word
once (JVM ``aggregate`` folds — the same left-to-right non-overlapping merge
order as the reference BPE algorithm), and :func:`apply_bpe` broadcasts that
word→pieces map onto the corpus — per-doc work is a join + flatten, never a
per-row merge loop.

No counterpart in the reference repo (it stops at reader/transform
surfaces); this is one of the LLM-pipeline first-class operators alongside
dedup/similarity. Semantics follow the published BPE algorithm (Sennrich et
al. 2016): highest-count adjacent symbol pair merges first, ties broken
lexicographically (count desc, left asc, right asc) for engine
determinism; each word carries an end-of-word marker symbol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intake_spark.session import materialize

EOW = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, count): the one corpus-sized aggregation of BPE
    training (partial-combining hash agg on the token key)."""
    from intake_spark.session import spread_small_scan

    df = spread_small_scan(df.select(F.col(text_col)))
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols():
    """word → [c1, c2, ..., cK, EOW] as a JVM array expression."""
    return F.expr(
        "concat(transform(sequence(1, length(word)), i -> substring(word, i, 1)), "
        f"array('{EOW}'))"
    )


def _merge_expr(left: str, right: str):
    """Left-to-right non-overlapping merge of the adjacent pair
    (left, right) inside the ``syms`` array — a sequential fold, expressed
    as a JVM ``aggregate`` so no Python runs per row. Merged output of one
    step does not re-match as the left of the same step (fold sees the
    combined symbol, not its parts) — the reference BPE scan order."""
    la, ra = F.lit(left), F.lit(right)
    merged = F.lit(left + right)

    def step(acc, x):
        hit = (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == ra)
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        F.col("syms"), F.array().cast("array<string>"), step
    )


def _pair_counts(seg: DataFrame) -> DataFrame:
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(syms[i-1] as left, syms[i] as right))"
    )
    return (
        seg.filter(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "n")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("n").alias("pair_count"))
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns
    ``[(rank, left, right, pair_count), ...]`` in merge order.

    Each round: weighted adjacent-pair counts over the segmented vocab
    (vocab-sized shuffle), best pair via TakeOrdered (count desc, then
    lexicographic — fully deterministic), then one fold pass re-segments
    the vocab. ``session.materialize`` cuts the per-round lineage so
    round k does not replay rounds 1..k-1."""
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    seg = materialize(
        word_counts(df, text_col)
        .withColumn("syms", _initial_symbols())
        .select("syms", "n")
    )
    merges: list[tuple[int, str, str, int]] = []
    # materialize every few rounds, not every round: each materialization
    # stores a fresh copy of the vocab table (the replaced one is only
    # reclaimed by the ContextCleaner once the old frame is
    # GC-unreachable), so per-round materializations accumulate n_merges
    # copies on long training runs. Between them the plan carries at
    # most `checkpoint_every` nested folds — still flat.
    checkpoint_every = 4
    since_ckpt = 0
    for rank in range(n_merges):
        best = (
            _pair_counts(seg)
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["pair_count"] < min_pair_count:
            break
        left, right, cnt = best[0]["left"], best[0]["right"], int(best[0]["pair_count"])
        merges.append((rank, left, right, cnt))
        seg = seg.withColumn("syms", _merge_expr(left, right))
        since_ckpt += 1
        if since_ckpt >= checkpoint_every:
            seg = materialize(seg)
            since_ckpt = 0
    return merges


def bpe_segment_vocab(
    wc: DataFrame, merges: list[tuple[int, str, str, int]], checkpoint_every: int = 16
) -> DataFrame:
    """Apply a learned merge sequence to a (word, n) vocabulary table →
    (word, n, pieces array<string>). Chained fold expressions on the
    vocab-sized table — computed once, then broadcast to tokenize any
    corpus.

    The chain is materialized every ``checkpoint_every`` merges: a real
    tokenizer carries hundreds to tens of thousands of merges, and one
    projection holding that many nested ``aggregate`` folds blows up
    Catalyst analysis / hits codegen limits — the cut keeps every
    plan at most ``checkpoint_every`` folds deep (vocab-sized
    materializations, cheap by construction)."""
    seg = wc.withColumn("syms", _initial_symbols())
    for i, (_, left, right, _) in enumerate(merges):
        seg = seg.withColumn("syms", _merge_expr(left, right))
        if (i + 1) % checkpoint_every == 0 and (i + 1) < len(merges):
            seg = materialize(seg)
    return seg.select("word", "n", F.col("syms").alias("pieces"))


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with learned merges: per-word piece arrays come
    from the broadcast vocab map (:func:`bpe_segment_vocab` of this very
    corpus); a doc's token count is the sum of its words' piece counts —
    an explode + broadcast join + doc rollup, no per-row merge loops.
    Output: (id, n_words, n_bpe_pieces) — one row per input row, with
    (0, 0) for empty/NULL-text docs (the explode+filter would otherwise
    silently drop them, and downstream inner joins on the id would lose
    the documents entirely)."""
    vocab = bpe_segment_vocab(word_counts(df, text_col), merges).select(
        "word", F.size("pieces").alias("_np")
    )
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.length("word") > 0)
    counted = (
        toks.join(F.broadcast(vocab), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_np").alias("n_bpe_pieces"),
        )
    )
    return df.select(id_col).join(counted, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_words"), F.lit(0).cast("long")).alias("n_words"),
        F.coalesce(F.col("n_bpe_pieces"), F.lit(0).cast("long")).alias("n_bpe_pieces"),
    )
