"""Dataset-assembly operators for training-corpus builds: benchmark
decontamination and sequence packing.

Both are deterministic (md5-keyed decisions, fixed orderings) so results
are reproducible under any partitioning and oracle-checkable in SQL.

Design for 100 TB:

- ``decontaminate`` joins the corpus' n-gram shingles against the
  *benchmark* shingle set. Benchmarks are small (eval sets are MBs, not
  TBs), so the benchmark side broadcasts — the corpus is never shuffled
  for the join; the only shuffle is the per-doc overlap count on the id.
- ``pack_sequences`` assigns documents to fixed-capacity context windows
  with one window function per (group, shard): the shard key caps any
  single window partition, so a skewed source cannot serialize packing
  onto one task. Pack identity is (group cols, shard, pack_id).

No reference counterpart (part of the mandated beyond-reference LLM
pipeline layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from intake_spark.llm.dedup import shingles
from intake_spark.llm.sampling import _BUCKETS, hash_bucket
from intake_spark.session import map_in_pandas, materialize


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    k: int = 3,
    min_overlap: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Flag training documents sharing >= ``min_overlap`` distinct k-gram
    shingles with any benchmark document: (id, n_overlap, contaminated).

    The standard train/test-leakage guard in corpus builds: a doc that
    contains verbatim benchmark n-grams inflates eval scores and must be
    dropped (or at least flagged) before training. Overlap is counted over
    *distinct* doc shingles against the union of all benchmark shingles —
    one number per doc, no per-benchmark-doc blowup.

    ``broadcast_benchmark`` (default) is the scale shape: the benchmark
    shingle set rides along to every executor and the corpus-side join is
    map-side; disable only if the benchmark itself is corpus-sized.
    """
    bench_id = bench_id_col or id_col
    bench_text = bench_text_col or text_col
    sh_d = shingles(df, id_col, text_col, k)
    sh_b = shingles(benchmark, bench_id, bench_text, k).select("shingle").distinct()
    if broadcast_benchmark:
        sh_b = F.broadcast(sh_b)
    hits = sh_d.join(sh_b, "shingle").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 2048,
    group_cols: tuple[str, ...] = ("source",),
    shards: int = 4,
    salt: str = "pack",
) -> DataFrame:
    """Assign documents to fixed-capacity token windows ("packs"):
    (id, group cols, shard, n_tokens, pack_id, pack_offset).

    Documents are laid head-to-tail in ``id_col`` order within each
    (group, shard); a document starting at running-token-offset ``c`` joins
    pack ``c div capacity`` at offset ``c mod capacity``. This is offset
    packing — a doc may straddle a pack boundary (the trainer's sample
    cutter handles the wrap), which keeps assignment a pure prefix-sum:
    deterministic, one window per (group, shard), no driver state.

    ``shards`` bounds the window partition size: the shard is an md5 bucket
    of the id, so a 10-billion-doc source still packs in parallel across
    ``shards`` independent sequences rather than one global ordering —
    the scale posture for a corpus where one source dominates.

    NULL-text docs are dropped (same policy as ``select_token_budget``):
    under legacy mode ``F.size(NULL)`` is -1, which would DECREMENT the
    running prefix sum and shift every later doc's pack_id/pack_offset;
    under ANSI it's a NULL row. Neither is a packable document.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    df = df.filter(F.col(text_col).isNotNull())
    n_tokens = F.size(F.split(F.col(text_col), " "))
    shard = hash_bucket(id_col, salt) % shards
    w = (
        Window.partitionBy(*group_cols, "_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("_shard", shard)
        .withColumn("_cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            id_col,
            *group_cols,
            F.col("_shard").alias("shard"),
            "n_tokens",
            F.expr(f"_cum div {int(capacity)}").alias("pack_id"),
            (F.col("_cum") % capacity).alias("pack_offset"),
        )
    )


def packing_efficiency(
    packed: DataFrame,
    capacity: int,
    group_cols: tuple[str, ...] = ("source", "shard"),
) -> DataFrame:
    """Fill-rate report over :func:`pack_sequences` output: per group,
    (n_docs, total_tokens, n_packs, fill_r) where n_packs =
    ceil(total_tokens / capacity) — the number of context windows the
    token stream spans under offset packing — and fill_r = total_tokens /
    (n_packs * capacity). The go/no-go number for a packing config: low
    fill means wasted compute per training step, and per-(source, shard)
    breakdown localizes which stream underfills. One partial-combining
    aggregate on the (small) group key; exact across engines (integer
    ceil-div, one IEEE division, round 6)."""
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    total = F.sum("n_tokens").cast("bigint")
    n_packs = F.expr(f"CAST((sum(n_tokens) + {int(capacity)} - 1) div {int(capacity)} AS BIGINT)")
    return (
        packed.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            total.alias("total_tokens"),
            n_packs.alias("n_packs"),
            F.round(
                total.cast("double") / (n_packs * F.lit(int(capacity))), 6
            ).alias("fill_r"),
        )
        .orderBy(*group_cols)
    )


def bench_split(
    df: DataFrame, id_col: str = "doc_id", fraction: float = 0.05, salt: str = "bench"
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (train, benchmark) split by hash bucket — the held-out
    side feeds :func:`decontaminate` as its benchmark. Disjoint and
    exhaustive by construction (one hash, complementary ranges)."""
    thr = round(fraction * _BUCKETS)
    b = hash_bucket(id_col, salt)
    return df.filter(b >= thr), df.filter(b < thr)


def global_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_cols: list,
    shards: int,
    out_col: str = "cum",
) -> DataFrame:
    """INCLUSIVE global running sum of ``value_col`` over the total order
    given by ``order_cols`` (Column sort expressions, e.g.
    ``[F.desc("quality_fx"), F.asc("doc_id")]``), without the order ever
    running through one task: range-partition on the order keys
    (``shards`` ordered ranges), window-sum within each range, and add
    cross-range offsets from a shards-sized aggregate. The ONE
    prefix-sum implementation behind ``select_token_budget`` and
    ``output.to_token_shards`` (the RangePartitioner-pinning subtlety
    below must not fork).

    Pass a SKINNY projection (id + value + order keys): the frame is
    pinned by ``session.materialize`` — RangePartitioner samples its
    boundaries, so the offsets ``collect`` and the final pass would
    otherwise be two physical executions whose partition contents can
    differ, desyncing the partition-keyed offsets — and the pin stores
    every column. Deterministic under any input partitioning. Returns
    the pinned frame + ``out_col``."""
    d = df.repartitionByRange(shards, *order_cols)
    d = d.sortWithinPartitions(*order_cols).withColumn(
        "_gps_pid", F.spark_partition_id()
    )
    d = materialize(d)
    totals = {
        int(r["_gps_pid"]): int(r["_t"])
        for r in d.groupBy("_gps_pid").agg(F.sum(value_col).alias("_t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_expr = None
    for pid, off in sorted(offsets.items()):
        off_expr = (
            F.when(F.col("_gps_pid") == pid, F.lit(off))
            if off_expr is None
            else off_expr.when(F.col("_gps_pid") == pid, F.lit(off))
        )
    if off_expr is None:  # empty frame
        off_expr = F.lit(0)
    win = (
        Window.partitionBy("_gps_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return d.withColumn(out_col, F.sum(value_col).over(win) + off_expr).drop(
        "_gps_pid"
    )


def global_row_number(
    df: DataFrame,
    order_cols: list,
    shards: int = 32,
    out_col: str = "rank",
) -> DataFrame:
    """Global 1-based ROW_NUMBER over the total order given by
    ``order_cols`` — WITHOUT a single-partition window (the classic
    100 TB killer: ``Window.orderBy`` with no partitionBy funnels the
    whole corpus through one task). Counts each row as 1 through
    :func:`global_prefix_sum`: range-partition on the order keys,
    in-shard window count, shards-sized cross-shard offsets.

    The curriculum-ordering primitive: rank by difficulty/quality and
    feed consecutive rank ranges to consecutive training stages. Ties
    must be broken by a unique column in ``order_cols`` (same contract
    as ROW_NUMBER's ORDER BY — an ambiguous order gives an arbitrary
    but valid numbering; with a unique tie-break it is deterministic
    and engine-exact). Pass a SKINNY projection where possible: the
    frame is materialized inside global_prefix_sum."""
    d = df.withColumn("_grn_one", F.lit(1).cast("bigint"))
    d = global_prefix_sum(d, "_grn_one", order_cols, shards, out_col=out_col)
    return d.drop("_grn_one")


def select_token_budget(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int = 8,
) -> DataFrame:
    """Quality-ordered corpus selection under a total token budget: rank
    documents by uniqueness ratio (distinct/total tokens — 1e12
    fixed-point, id tie-break), take them greedily until the cumulative
    token count would exceed ``budget``. The standard "best N tokens"
    curation cut.

    Scale shape: the global order NEVER runs through one task. The corpus
    range-partitions on the rank key (``shards`` ordered ranges), each
    shard prefix-sums locally (in-shard window after an in-shard sort),
    and the cross-shard offsets come from a shards-sized aggregate —
    the same two-pass prefix-sum design as ``pack_sequences``, applied to
    an ordered selection. Result is independent of the shard boundaries.

    Output: kept rows as (id, n_tokens, quality_fx, cum_tokens)."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    w = F.split(F.col(text_col), " ")
    # NULL text would rank at TOP quality with n_tokens=-1 (F.size(NULL)
    # is -1); the oracle's running sum excludes NULLs — drop them here too
    df = df.filter(F.col(text_col).isNotNull())
    d = df.select(
        F.col(id_col),
        F.size(w).cast("long").alias("n_tokens"),
        F.floor(
            F.size(F.array_distinct(w)).cast("double") / F.size(w) * F.lit(1e12)
        )
        .cast("bigint")
        .alias("quality_fx"),
    )
    d = global_prefix_sum(
        d,
        "n_tokens",
        [F.desc("quality_fx"), F.asc(id_col)],
        shards,
        out_col="cum_tokens",
    )
    return d.filter(F.col("cum_tokens") <= budget).select(
        id_col, "n_tokens", "quality_fx", "cum_tokens"
    )


class PyBloom:
    """Minimal deterministic Bloom filter over md5-derived 64-bit hashes
    (double hashing, the standard k-probe construction). Built here
    because Spark 4 removed ``DataFrameStatFunctions.bloomFilter``; a
    numpy bit array broadcasts compactly (~1.2 MB per million keys at
    fpp=0.1%) and membership is engine-independent."""

    def __init__(self, n: int, fpp: float):
        import math

        import numpy as np

        n = max(n, 1)
        m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
        self.m = m
        self.k = max(1, round(m / n * math.log(2)))
        self.bits = np.zeros((m + 7) // 8, dtype="uint8")

    @classmethod
    def with_params(cls, m: int, k: int) -> "PyBloom":
        """Empty filter with exact (m, k) — executors building partition-
        local blooms must use the driver's sizing bit-for-bit."""
        import numpy as np

        obj = cls.__new__(cls)
        obj.m, obj.k = m, k
        obj.bits = np.zeros((m + 7) // 8, dtype="uint8")
        return obj

    @staticmethod
    def _h(key: str) -> tuple[int, int]:
        import hashlib

        d = hashlib.md5(key.encode()).digest()
        return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:16], "big") | 1

    def add(self, key: str) -> None:
        h1, h2 = self._h(key)
        for i in range(self.k):
            b = (h1 + i * h2) % self.m
            self.bits[b >> 3] |= 1 << (b & 7)

    def might_contain(self, key: str) -> bool:
        h1, h2 = self._h(key)
        for i in range(self.k):
            b = (h1 + i * h2) % self.m
            if not (self.bits[b >> 3] >> (b & 7)) & 1:
                return False
        return True


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    fpp: float = 0.001,
) -> DataFrame:
    """Two-phase benchmark decontamination for when the benchmark shingle
    set is too big to broadcast as an exact set but a BLOOM filter of it
    still fits (the classic scale ladder: exact broadcast → bloom
    prefilter → shuffle anti-join):

    1. build a Bloom filter over the benchmark's shingle hashes —
       DISTRIBUTED: each partition builds a local bloom with the driver's
       exact (m, k) and emits only its NONZERO 64-bit words; a JVM
       ``bit_or`` group-by OR-merges them (map-side partial combine), and
       the driver receives just the merged words — never the shingles.
       Only the finished filter (~1.2 MB per million keys at fpp=0.1%)
       ever sits on the driver, and it must anyway: it gets broadcast,
    2. mapper-side, keep only corpus docs with at least one
       maybe-contaminated shingle — the bloom never false-negatives, so
       no contaminated doc escapes the prefilter,
    3. the surviving (tiny) candidate set alone pays the exact
       shingle-level semi-join that removes bloom false positives.

    Returns the CLEAN corpus (docs with no benchmark shingle), exactly
    equal to the one-phase exact anti-join — verified in pytest — but
    with the corpus-sized work all mapper-side."""
    spark = corpus.sparkSession
    sh_bench = shingles(benchmark, id_col=id_col, text_col=text_col, k=k).select(
        "shingle"
    )
    # persist: the distinct shingle set is read three times (count for
    # filter sizing, the bloom build, the exact false-positive pass) and
    # its shuffle is the expensive part of step 1; benchmark-sized by
    # premise, so the cached footprint is bounded
    sh_b = sh_bench.distinct().persist()
    n_keys = sh_b.count()
    bf = PyBloom(n_keys, fpp)
    bm, bk = bf.m, bf.k
    n_words = (bm + 63) // 64

    def part_bloom(batches):
        import numpy as _np
        import pandas as _pd

        from intake_spark.llm.assembly import PyBloom as _PB

        pb = _PB.with_params(bm, bk)
        for pdf in batches:
            for s in pdf["shingle"]:
                pb.add(s)
        raw = pb.bits.tobytes()
        raw += b"\x00" * (-len(raw) % 8)
        words = _np.frombuffer(raw, dtype="<u8")
        nz = _np.nonzero(words)[0]
        yield _pd.DataFrame(
            {"w_idx": nz.astype("int64"), "w": words[nz].view(_np.int64)}
        )

    merged = (
        map_in_pandas(sh_b, part_bloom, schema="w_idx long, w long")
        .groupBy("w_idx")
        .agg(F.expr("bit_or(w)").alias("w"))
        .collect()
    )
    import numpy as np

    words = np.zeros(n_words, dtype="<i8")
    for r in merged:
        words[r["w_idx"]] = r["w"]
    bf.bits = np.frombuffer(words.tobytes(), dtype="uint8")[: (bm + 7) // 8].copy()
    bc = spark.sparkContext.broadcast(bf)

    sh_corpus = shingles(corpus, id_col=id_col, text_col=text_col, k=k)

    import pandas as pd_  # noqa: F401  (executor import)
    from pyspark.sql import types as T_

    def flag(batches):
        import pandas as _pd

        f = bc.value
        for pdf in batches:
            hit = pdf[[id_col]].copy()
            hit["maybe"] = [
                1 if f.might_contain(s) else 0 for s in pdf["shingle"]
            ]
            yield hit

    schema = T_.StructType(
        [
            T_.StructField(id_col, corpus.schema[id_col].dataType),
            T_.StructField("maybe", T_.IntegerType()),
        ]
    )
    maybe_ids = (
        map_in_pandas(sh_corpus, flag, schema=schema)
        .filter(F.col("maybe") == 1)
        .select(id_col)
        .distinct()
    )
    # exact pass ONLY over bloom candidates (false-positive cleanup)
    candidates = corpus.join(maybe_ids, id_col, "left_semi")
    sh_cand = shingles(candidates, id_col=id_col, text_col=text_col, k=k)
    truly_bad = (
        sh_cand.join(sh_b, "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    # release the cached shingle set now that the two eager reads (count,
    # bloom build) are done: holding it for the session's lifetime leaks
    # executor storage across repeated calls. The lazy exact pass above
    # recomputes the benchmark distinct once — benchmark-sized by this
    # function's premise, a bounded price for a bounded footprint.
    sh_b.unpersist(blocking=False)
    return corpus.join(truly_bad, id_col, "left_anti")


def curation_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_sentences: int = 3,
    min_words: int = 5,
    gopher_min_words: int = 50,
    gopher_stop_min: int = 2,
) -> DataFrame:
    """The standard cleaning ladder end to end, reported as a funnel:
    C4 rules → Gopher quality rules → Gopher repetition rules → exact
    dedup (first doc per md5 fingerprint among survivors), one row per
    stage with (stage, n_in, n_kept, tokens_kept); ``min_sentences`` /
    ``min_words`` tune the C4 stage and ``gopher_min_words`` /
    ``gopher_stop_min`` the Gopher stage, for corpora whose shape
    differs from web text. This is the
    accounting view a curation run is judged by — where documents and
    tokens are lost, stage by stage.

    Shape: the three rule sets are mapper-only projections CHAINED on
    one lineage (each stage ``carry``-threads the text and the earlier
    flags through), so the whole ladder is a single corpus scan —
    Catalyst collapses the stage projections and its codegen CSE shares
    the tokenization across the rules; there are no doc-keyed joins.
    Dedup survivorship is one window over the fingerprint; the funnel
    itself is a single aggregate row stacked to stage rows, so nothing
    here is driver-sized."""
    from intake_spark.llm import text as _text

    s1 = _text.c4_filter(
        df,
        id_col=id_col,
        text_col=text_col,
        min_sentences=min_sentences,
        min_words=min_words,
        carry=(text_col,),
    ).select(
        F.col(id_col),
        F.col("n_words").alias("_nw"),
        F.col("keep").alias("_kc"),
        F.col(text_col),
    )
    s2 = _text.gopher_filter(
        s1,
        id_col=id_col,
        text_col=text_col,
        min_words=gopher_min_words,
        stop_min=gopher_stop_min,
        carry=("_nw", "_kc", text_col),
    ).select(
        F.col(id_col),
        F.col("_nw"),
        F.col("_kc"),
        F.col("keep").alias("_kq"),
        F.col(text_col),
    )
    s3 = _text.gopher_repetition(
        s2,
        id_col=id_col,
        text_col=text_col,
        carry=("_nw", "_kc", "_kq", text_col),
    ).select(
        F.col(id_col),
        F.col("_nw"),
        F.col("_kc"),
        F.col("_kq"),
        F.col("keep").alias("_kr"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_fp"),
    )
    j = s3.select(
        F.col(id_col),
        F.col("_nw").alias("n_words"),
        F.col("_fp"),
        F.col("_kc").alias("k1"),
        (F.col("_kc") * F.col("_kq")).alias("k2"),
        (F.col("_kc") * F.col("_kq") * F.col("_kr")).alias("k3"),
    )
    surv_min = F.min(
        F.when(F.col("k3") == 1, F.col(id_col))
    ).over(Window.partitionBy("_fp"))
    j = j.withColumn(
        "k4",
        ((F.col("k3") == 1) & (F.col(id_col) == surv_min)).cast("int"),
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n0"),
        *[F.sum(f"k{i}").alias(f"s{i}") for i in (1, 2, 3, 4)],
        *[
            F.sum(F.col(f"k{i}") * F.col("n_words")).alias(f"t{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    return agg.select(
        F.expr(
            "stack(4, "
            "'1_c4', n0, s1, t1, "
            "'2_gopher_quality', s1, s2, t2, "
            "'3_gopher_repetition', s2, s3, t3, "
            "'4_exact_dedup', s3, s4, t4) "
            "AS (stage, n_in, n_kept, tokens_kept)"
        )
    ).select(
        "stage",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("tokens_kept").cast("long").alias("tokens_kept"),
    )


def contamination_scores(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    k: int = 3,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Soft contamination metric per training document: the FRACTION of
    its distinct k-gram shingles that collide with the benchmark shingle
    set — (id, n_shingles, n_overlap, contamination_r). The graded
    companion to :func:`decontaminate`'s hard flag (PaLM/GPT-4-style
    n-gram collision-rate reporting): thresholding the fraction instead
    of an absolute count treats 10 hits in a tweet and 10 hits in a book
    differently, and the distribution itself is the audit artifact.

    Documents too short to have any k-shingle carry ``n_shingles = 0``
    and a NULL score — unmeasurable, not clean.

    Scale: identical to decontaminate — benchmark shingles broadcast
    (map-side join), corpus side is one explode + one hash-aggregate on
    the doc key; the LEFT join keeps zero-hit docs without a second
    corpus pass.
    """
    bench_id = bench_id_col or id_col
    bench_text = bench_text_col or text_col
    sh_d = shingles(df, id_col, text_col, k)
    sh_b = (
        shingles(benchmark, bench_id, bench_text, k)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        sh_b = F.broadcast(sh_b)
    per = (
        sh_d.join(sh_b, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    F.col("n_overlap").cast("double") / F.col("n_shingles"), 6
                ),
            ).alias("contamination_r"),
        )
    )
