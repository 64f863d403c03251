"""Graph centrality over the near-dup pair graph: fixed-iteration
PageRank for canonical-document selection.

Connected components (``dedup.dup_groups``) tells you WHICH documents
form a duplicate cluster; PageRank over the same pair graph ranks
documents WITHIN a cluster (the doc most-similar to most others gets the
highest rank), which is the standard canonical-survivor policy when
near-dup clusters are large and "min doc_id" would keep an arbitrary —
possibly truncated — member.

Determinism policy: ranks are computed in integer fixed point (scale
1e12) with floor division at every step, so a fixed number of iterations
produces bit-identical BIGINTs in any engine — the oracle unrolls the
same iterations in SQL. No transcendentals, no convergence test (a
convergence test would make the iteration count data-dependent and the
result engine-dependent through float drift).

Scale notes: each iteration is one equi-join of the edge list against
the rank table plus one partial-combining aggregate on the destination —
the standard distributed PageRank shape. The rank table is
node-cardinality (dup-graph nodes only, not the whole corpus).
``session.materialize`` cuts the lineage every ``checkpoint_every``
iterations (default 8) so plans stay flat at high iteration counts
without paying a materialization per round — short runs like the
3-iteration q72 never materialize the rank table at all (only the eager
edge-list materialization runs).

No reference counterpart (part of the mandated beyond-reference
LLM-pipeline layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intake_spark.session import materialize

PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Fixed-``iterations`` PageRank over an UNDIRECTED edge list:
    (id, deg, rank_fx, rank_r) with rank_fx the integer fixed-point rank
    (scale 1e12) and rank_r = rank_fx / 1e12 rounded to 6 places.

    r_0 = 1e12 for every node; each iteration
    r_{i+1}(v) = floor(0.15 * 1e12) +
                 floor(damping * sum_{u->v} floor(r_i(u) / deg(u)))
    with all divisions integer floors — exact across engines.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    scale = PAGERANK_SCALE
    base = (scale * (damping_den - damping_num)) // damping_den
    # materialize the edge list ONCE: deg, the initial ranks, the
    # per-iteration joins, and the final join all reference it — without
    # this the (possibly expensive) edge-derivation pipeline upstream
    # re-executes 3 + iterations times
    e = materialize(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionAll(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    r = deg.select(F.col("src").alias("id"), F.lit(scale).cast("bigint").alias("r"))
    ed = e.join(deg, "src").select("src", "dst", "deg")
    for i in range(iterations):
        contrib = (
            ed.join(r, ed.src == r.id)
            .select(F.col("dst"), F.expr("r div deg").alias("_share"))
            .groupBy("dst")
            .agg(F.sum("_share").alias("_s"))
        )
        r = contrib.select(
            F.col("dst").alias("id"),
            (
                F.lit(base)
                # DECIMAL(38,0) product: 85 * _s overflows int64 once a hub
                # aggregates ~1.1e5 neighbor shares; 128-bit integer math
                # keeps the bit-exact contract at any degree
                + F.expr(
                    f"CAST((CAST({damping_num} AS DECIMAL(38,0)) * _s) "
                    f"div {damping_den} AS BIGINT)"
                )
            ).cast("bigint").alias("r"),
        )
        if (i + 1) % checkpoint_every == 0:
            # truncate lineage: without this the plan doubles per iteration
            r = materialize(r)
    return (
        r.join(deg.select(F.col("src").alias("id"), "deg"), "id")
        .select(
            "id",
            "deg",
            F.col("r").alias("rank_fx"),
            F.round(F.col("r").cast("double") / scale, 6).alias("rank_r"),
        )
    )
