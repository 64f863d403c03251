"""Distributed hashed-feature linear classifier for data selection.

The classifier-based alternative to DSIR importance weights
(``text.dsir_weights``): train a linear model on hashed unigram+bigram
counts to separate a target slice from the rest, then score every
document — the "quality classifier" step of GPT-3/LLaMA-style curation
pipelines, re-expressed Spark-first.

Design constraints, in order:

1. **Engine-exact.** Training is full-batch gradient descent on the
   LEAST-SQUARES objective with ±1 labels, all arithmetic in BIGINT
   fixed point (weights scaled by ``scale``), the learning-rate division
   as truncating integer division — zero floats, zero transcendentals,
   so a DuckDB oracle can replay training round for round and match the
   final scores bit for bit (the q72 unrolled-CTE pattern).
2. **Distributed shape.** The feature matrix is the (doc, bucket, count)
   long form — one explode + one hash-aggregation, materialized once.
   The full-batch gradient factors as g = (XᵀX)·w − scale·Xᵀy, so ONE
   self-join pass precomputes the (buckets+1)² Gram matrix H and Xᵀy
   (map-side combine collapses each partition to ≤ B² rows before the
   exchange), the GD recurrence runs as exact driver integer math on
   H, and one mapper-only pass scores the corpus against the final
   weights as a literal array. Nothing driver-sized but H itself —
   the hashed-feature premise (B ≤ a few thousand); a vocab-sized
   model would use a join-per-round ladder instead.

Overflow audit: Gram and Xᵀy sums run in decimal(38,0) (exact 128-bit)
on the executors and land in arbitrary-precision Python ints on the
driver, so training cannot overflow at any corpus size; the final
scoring dot product is int64 (|x·w| ≤ doc_grams · max|w|, bounded by
the stable-step premise — documents past ~1e12 fx of score would
indicate a diverging ``eta_inv`` long before the cast).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intake_spark.session import map_in_pandas, materialize
from intake_spark.utils import trunc_div

# documents per dense chunk in the Gram accumulation — bounds the
# auxiliary (chunk × B) matrix at ~64 MB for B=1024; module-level so
# tests can exercise the multi-chunk path with a tiny value
_GRAM_DOC_CHUNK = 8192


def _gram_bucket_counts(
    df: DataFrame, id_col: str, text_col: str, buckets: int
) -> DataFrame:
    """(id, b, x) long-form hashed unigram+bigram counts plus a constant
    bias feature at bucket ``buckets``. Features come from
    ``text.hashed_gram_stream`` — the SAME definition dsir_weights uses,
    so the two selectors see identical features by construction."""
    from intake_spark.llm.text import hashed_gram_stream

    ex = hashed_gram_stream(df, id_col=id_col, text_col=text_col, buckets=buckets)
    counts = ex.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("x"))
    bias = df.select(
        F.col(id_col),
        F.lit(buckets).cast("bigint").alias("b"),
        F.lit(1).cast("bigint").alias("x"),
    )
    return counts.select(F.col(id_col), F.col("b"), F.col("x").cast("bigint")).unionByName(
        bias
    )


def _gram_pairs(
    x: DataFrame,
    id_col: str,
    buckets: int,
    parts: int | None = None,
    y_col: str | None = None,
) -> DataFrame:
    """(bl, br, h) nonzero entries of the Gram matrix H = XᵀX over the
    long-form feature frame ``x`` = (id, b, count), b ∈ [0, buckets].

    With ``y_col`` set (dense path only), ``x`` additionally carries the
    per-document ±1 label and the SAME pass also emits c = Xᵀy as
    marker rows (bl=-1, br=b, h=c_b) and the document count as
    (bl=-2, br=0, h=n_part) — the Exchange that co-locates each
    document's feature rows is the only corpus-sized shuffle the whole
    trainer then needs (the separate x⋈y + groupBy(b) pass and the
    y.count() job both fold into it; all three results are exact
    order-independent integer sums, so the numbers are identical).
    Per-partition int64 safety for the extras follows from the Gram
    bound already checked: x ≥ 1 integer counts give |c_b| ≤ Σ|x| ≤
    Σx² < 2^62, and n ≤ rows ≤ Σx². The dense path also checks that
    each id carries one bias row (b = buckets) and raises a ValueError
    naming an id that carries more.

    NOT a pairwise self-join: that materializes n·k² rows (k = nonzero
    buckets per doc — ~65² per document) before any combine. Instead one
    Exchange co-locates each document's rows, and a mapInPandas pass
    stacks the partition's documents into a dense (docs × B) int64
    matrix and takes ONE integer matrix product — B² rows out per
    partition regardless of corpus size; the cross-partition merge is a
    B²-row exact decimal(38) sum.

    Exactness: numpy int64 accumulates the per-partition Gram; the
    sound per-entry bound |H[b,b']| ≤ Σ_rows x² is checked per partition
    (float overestimate, monotone) and raises before any silent wrap —
    at the default web-doc scales it sits ~6 orders under 2^63. Dense
    premise: B ≤ 1024 (hashed-feature selectors); larger B falls back
    to the join formulation, which needs no dense matrix.

    Memory: each task holds its shuffle partition's long-form rows (one
    pandas concat — that IS the per-task input, sized by ``parts``) plus
    a dense (≤8192 × B) int64 chunk (~64 MB worst case at B=1024); the
    doc-stack is accumulated chunk-by-chunk so the auxiliary matrix
    never scales with partition row count. ``parts`` sizes the Exchange
    (default: session shuffle partitions) — the knob to turn when a
    corpus is big enough that partition-row-count × ~16 bytes strains a
    task."""
    from pyspark.sql import functions as F_

    B = buckets + 1
    if B > 1024:
        if y_col is not None:
            raise ValueError("y_col fusion requires the dense path (B <= 1024)")
        xl = x.alias("l")
        return (
            xl.join(x.alias("r"), id_col)
            .groupBy(F_.col("l.b").alias("bl"), F_.col("r.b").alias("br"))
            .agg(F_.sum(F_.expr("cast(l.x * r.x as decimal(38,0))")).alias("h"))
        )

    # capture as a closure local: closure values pickle BY VALUE to the
    # Python workers (a module global would be re-imported there, so a
    # test override would silently not apply executor-side)
    ch = _GRAM_DOC_CHUNK
    yc = y_col

    def gram_part(batches):
        import numpy as np
        import pandas as pd

        frames = list(batches)
        if not frames:
            return
        part = pd.concat(frames, ignore_index=True)
        if part.empty:
            # Arrow can hand a zero-row batch on an empty partition;
            # codes.max() below would raise on a zero-size array
            return
        xs = part["x"].to_numpy(dtype="int64")
        if float((xs.astype("float64") ** 2).sum()) >= float(2**62):
            raise ValueError(
                "per-partition Gram bound exceeds int64 — raise "
                "gram_partitions on hashed_linear_classifier (or lower "
                "max document length)"
            )
        # one bias row per document: a duplicated id would fold its
        # copies into one document and count it multiplicity² times
        ids = part[id_col][part["b"] == B - 1]
        dup = ids[ids.duplicated()]
        if len(dup):
            raise ValueError(
                f"hashed_linear_classifier needs unique {id_col!r} values; "
                f"{dup.tolist()[0]!r} occurs more than once"
            )
        codes, _ = pd.factorize(part[id_col])
        bs = part["b"].to_numpy(dtype="int64")
        ndocs = int(codes.max()) + 1
        # accumulate the Gram over ≤CH-doc chunks so the dense doc-stack
        # is bounded (~64 MB at B=1024) no matter how many documents the
        # partition holds; int64 chunk sums are covered by the bound above
        CH = ch
        hp = np.zeros((B, B), dtype="int64")
        for lo in range(0, ndocs, CH):
            sel = (codes >= lo) & (codes < min(lo + CH, ndocs))
            m = np.zeros((min(lo + CH, ndocs) - lo, B), dtype="int64")
            np.add.at(m, (codes[sel] - lo, bs[sel]), xs[sel])
            hp += m.T @ m
        bl, br = np.nonzero(hp)
        out = pd.DataFrame(
            {
                "bl": bl.astype("int64"),
                "br": br.astype("int64"),
                "h": hp[bl, br],
            }
        )
        if yc is not None:
            ys = part[yc].to_numpy(dtype="int64")
            cv = np.zeros(B, dtype="int64")
            np.add.at(cv, bs, xs * ys)
            nz = np.nonzero(cv)[0]
            # n = bias rows seen (b == buckets, one per source row) —
            # identical to the y-frame count the fused jobs replace
            n_part = int((bs == B - 1).sum())
            extra = pd.DataFrame(
                {
                    "bl": np.concatenate(
                        [np.full(len(nz), -1, dtype="int64"), [-2]]
                    ),
                    "br": np.concatenate([nz.astype("int64"), [0]]),
                    "h": np.concatenate([cv[nz], [n_part]]),
                }
            )
            out = pd.concat([out, extra], ignore_index=True)
        yield out

    if parts:
        co = x.repartition(parts, F_.col(id_col))
    else:
        co = x.repartition(F_.col(id_col))
    parts_df = map_in_pandas(co, gram_part, "bl long, br long, h long")
    return parts_df.groupBy("bl", "br").agg(
        F_.sum(F_.col("h").cast("decimal(38,0)")).alias("h")
    )


def hashed_linear_classifier(
    df: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 64,
    scale: int = 10_000,
    eta_inv: int = 256,
    iters: int = 3,
    gram_partitions: int | None = None,
) -> DataFrame:
    """Train the least-squares linear classifier ``w`` on hashed n-gram
    counts against ``label`` (a boolean Column → y ∈ {+1, −1}) and score
    every document: returns (id, y, n_feats, score_fx, pred) where
    ``score_fx`` is the final x·w dot product in ``1/scale`` fixed point
    and ``pred`` is its sign.

    Update rule, per full-batch round (all BIGINT):

        p_d   = Σ_b x_db · w_b            (doc score, fx)
        e_d   = p_d − scale · y_d          (residual, fx)
        g_b   = Σ_d x_db · e_d             (gradient, fx)
        w_b  −= trunc_div(g_b, eta_inv·n)  (step η = 1/eta_inv, mean grad)

    ``eta_inv`` must exceed the feature matrix's spectral bound for
    convergence (default 256 is stable for ~150-gram documents hashed
    into 64 buckets); the classifier is the standard data-selection
    scorer regardless of convergence fine-tuning. ``gram_partitions``
    sizes the Gram pass's Exchange (default: session shuffle
    partitions) — raise it when per-task feature rows outgrow executor
    memory at large corpus scales.

    Precondition: ``id_col`` is unique. Rows that share an id are one
    document to the trainer, and the join with the labels multiplies
    them, so the document count ``n`` becomes the sum of squared
    multiplicities. The dense path (``buckets`` ≤ 1023) raises a
    ValueError naming a duplicated id inside its Gram pass; the join
    path (larger ``buckets``) does not check."""
    if iters < 1 or buckets < 1:
        raise ValueError("iters and buckets must be >= 1")
    if buckets > 8192:
        # the Gram factorization collects (buckets+1)^2 128-bit cells to
        # the driver and the GD recurrence is O(iters * buckets^2) driver
        # math — sized for hashed-feature selectors (64-4096 buckets).
        raise ValueError(
            f"buckets={buckets} exceeds the 8192 ceiling of the "
            "Gram-factored trainer: it collects (buckets+1)^2 Gram cells "
            "to the driver. A vocab-sized model needs the join-per-round "
            "shape (keep w as a DataFrame and compute X'Xw with a "
            "bucket-keyed join each round) instead of raising this cap."
        )
    # Materialize the long-form feature matrix once (n·(buckets+1) rows,
    # lineage truncated) — every GD round and the final scoring pass read
    # it instead of re-exploding the corpus. materialize rather than
    # persist: Spark reclaims the rows once the frame goes out of scope
    # (see session.materialize), so repeated training runs in one
    # session don't pin cache.
    x = materialize(_gram_bucket_counts(df, id_col, text_col, buckets))
    y = df.select(
        F.col(id_col),
        F.when(label, F.lit(1)).otherwise(F.lit(-1)).cast("int").alias("y"),
    )
    # The full-batch gradient factors as g = (XᵀX)·w − scale·Xᵀy, and
    # XᵀX is (buckets+1)² integers — Gram-matrix-sized, not corpus-sized.
    # So ONE corpus pass precomputes H, c = Xᵀy AND the document count n
    # exactly (128-bit merge sums) — the label joins onto the feature
    # frame BEFORE the Gram pass's id-Exchange, so c and n ride the same
    # shuffle instead of paying their own x⋈y + aggregate pass and a
    # separate y.count() job (r12: 5 jobs / 3 corpus-sized shuffles down
    # to 3 jobs / 1) — and the GD recurrence runs as exact driver
    # integer math: identical numbers to the join-per-round formulation
    # (all sums are order-independent).
    # Premise: (buckets+1)² fits the driver — true for hashed-feature
    # selectors (64–4096 buckets); a vocab-sized model wants the
    # join-per-round shape instead.
    B = buckets + 1
    H = [[0] * B for _ in range(B)]
    c = [0] * B
    n = 0
    if B <= 1024:
        xy = x.join(y, id_col)  # never broadcast: y is corpus-sized
        pairs = _gram_pairs(
            xy, id_col, buckets, parts=gram_partitions, y_col="y"
        )
        for r in pairs.collect():
            bl = int(r["bl"])
            if bl == -2:
                n += int(r["h"])
            elif bl == -1:
                c[int(r["br"])] = int(r["h"])
            else:
                H[bl][int(r["br"])] = int(r["h"])
    else:
        n = y.count()
        xy = x.join(y, id_col)
        pairs = _gram_pairs(x, id_col, buckets, parts=gram_partitions)
        cvec_df = xy.groupBy("b").agg(
            F.sum(F.expr("cast(x * y as decimal(38,0))")).alias("c")
        )
        for r in pairs.collect():
            H[int(r["bl"])][int(r["br"])] = int(r["h"])
        for r in cvec_df.collect():
            c[int(r["b"])] = int(r["c"])
    if n == 0:
        # an empty corpus would make every update a division by zero
        # (an ANSI-mode error, silent NULL weights otherwise)
        raise ValueError("hashed_linear_classifier needs at least one document")
    d = eta_inv * n
    w = [0] * B
    for _ in range(iters):
        g = [
            sum(H[b][bp] * w[bp] for bp in range(B)) - scale * c[b]
            for b in range(B)
        ]
        w = [wb - trunc_div(gb, d) for wb, gb in zip(w, g)]

    w_arr = "array(" + ", ".join(f"{int(v)}L" for v in w) + ")"
    scores = x.groupBy(id_col).agg(
        F.sum(
            F.expr(f"x * element_at({w_arr}, cast(b + 1 as int))")
        ).alias("score_fx"),
        F.sum("x").alias("n_feats"),
    )
    out = y.join(scores, id_col, "left").select(
        F.col(id_col),
        F.col("y"),
        F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce(F.col("score_fx"), F.lit(0)).cast("long").alias("score_fx"),
        F.when(F.coalesce(F.col("score_fx"), F.lit(0)) > 0, F.lit(1))
        .when(F.coalesce(F.col("score_fx"), F.lit(0)) < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("pred"),
    )
    return out
