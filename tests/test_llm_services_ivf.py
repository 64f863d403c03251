"""LLM service operators, IVF ANN, BPE tokenizer, bucketed tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MEDIUM, SF_SMALL

from intake_spark.llm import services, similarity
from intake_spark.session import load_table


def test_llm_complete_fake(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(10)
    out = services.llm_complete(docs, prompt_col="text", backend="fake")
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.completion.startswith("fake-completion-") for r in rows)
    # deterministic: same input → same completion
    again = services.llm_complete(docs, prompt_col="text", backend="fake").collect()
    assert {r.doc_id: r.completion for r in rows} == {r.doc_id: r.completion for r in again}


def test_llm_embed_fake_feeds_similarity(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(30).select("doc_id", "text")
    emb = services.llm_embed(docs, backend="fake", dim=16)
    assert emb.schema["embedding"].dataType.simpleString() == "array<float>"
    # generated embeddings flow into the ANN operator unchanged
    out = similarity.knn_bruteforce(
        emb.withColumnRenamed("doc_id", "vec_id"),
        emb.withColumnRenamed("doc_id", "vec_id").limit(2),
        top_k=3,
    )
    assert out.count() == 6


def test_llm_unknown_backend(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(2)
    with pytest.raises(Exception):
        services.llm_complete(docs, backend="nope").collect()


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_MEDIUM, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.knn_bruteforce(emb, queries, top_k=5).collect()
    }
    centroids, assigned = similarity.ivf_build(emb, n_lists=8)
    assert len(centroids) == 8
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_search(
            assigned, centroids, queries, top_k=5, n_probes=3
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6  # 3/8 lists probed; clustered data recalls well


def test_ivf_probe_tradeoff(spark):
    """More probes → recall can only improve (monotone candidate sets)."""
    emb = load_table(spark, SF_MEDIUM, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids, assigned = similarity.ivf_build(emb, n_lists=8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.knn_bruteforce(emb, queries, top_k=5).collect()
    }
    r1 = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_search(assigned, centroids, queries, top_k=5, n_probes=1).collect()
    }
    r4 = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_search(assigned, centroids, queries, top_k=5, n_probes=4).collect()
    }
    assert len(r4 & exact) >= len(r1 & exact)


def test_bpe_tokens(spark):
    from intake_spark.llm.text import with_bpe_token_count

    df = spark.createDataFrame([(1, "Hello world, it's 42!")], ["doc_id", "text"])
    assert with_bpe_token_count(df).first().n_bpe_tokens == 8


def test_bucketed_join_no_shuffle(spark, tmp_path):
    from intake_spark.output import to_bucketed_table

    import shutil

    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    o = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    to_bucketed_table(o, "orders_b", "o_orderkey", n_buckets=8)
    to_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", n_buckets=8
    )
    # force the non-broadcast path: the point is bucket co-location
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join should not shuffle:\n{plan[:800]}"
        assert "SortMergeJoin" in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE orders_b")
        spark.sql("DROP TABLE lineitem_b")


def test_ivf_persistence_roundtrip(spark, tmp_path):
    """Save the IVF index as bucketed tables, reload in place of the
    fresh index, and get IDENTICAL search results — the build-once /
    probe-many lifecycle."""
    from intake_spark.llm.similarity import ivf_build, ivf_load, ivf_save, ivf_search
    from intake_spark.session import load_table
    from tests.conftest import SF_MEDIUM

    emb = load_table(spark, SF_MEDIUM, "embeddings")
    centroids, assigned = ivf_build(emb, n_lists=8)
    queries = emb.filter("vec_id < 5")
    fresh = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_search(assigned, centroids, queries, top_k=3).collect()
    }

    ivf_save(assigned, centroids, "ivf_t")
    try:
        c2, a2 = ivf_load(spark, "ivf_t")
        assert c2 == [[float(x) for x in c] for c in centroids]
        reloaded = {
            (r.query_id, r.rank): r.neighbor_id
            for r in ivf_search(a2, c2, queries, top_k=3).collect()
        }
        assert reloaded == fresh
        # corpus side of the probe join reads the bucketed table: the join
        # key matches the bucket spec, so no Exchange on that branch
        plan = (
            ivf_search(a2, c2, queries, top_k=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ivf_t_vectors" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_t_vectors")
        spark.sql("DROP TABLE IF EXISTS ivf_t_centroids")


def test_power_iteration_pca_recovers_planted_direction(spark):
    """Projections must correlate ~1 with the true top PC of a strongly
    anisotropic cloud; an isotropic-degenerate cloud (all identical
    vectors) centers to zero and projects to all-zeros."""
    import numpy as np

    from intake_spark.llm.similarity import power_iteration_pca

    rng = np.random.RandomState(7)
    d0 = rng.randn(16)
    d0 /= np.linalg.norm(d0)
    X = rng.randn(200, 16) * 0.05 + np.outer(rng.randn(200) * 0.4, d0)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    out = power_iteration_pca(df, dim=16).toPandas().sort_values("vec_id")
    proj = out["proj_fx"].to_numpy().astype(float)
    true_proj = (X - X.mean(0)) @ d0
    assert abs(np.corrcoef(proj, true_proj)[0, 1]) > 0.99

    same = spark.createDataFrame(
        [(i, [0.25] * 16) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    z = power_iteration_pca(same, dim=16).toPandas()
    assert (z["proj_fx"] == 0).all()


def test_abtt_correct_exact_orthogonality(spark):
    """The integer rejection cvec = c*S - (c.v)v satisfies cvec.v = 0
    EXACTLY (p*S - p*S), and corrected cosines between members of a
    planted dominant direction drop versus raw cosines."""
    import numpy as np

    from intake_spark.llm.similarity import (
        power_direction,
        abtt_correct,
        trunc_div,
    )

    rng = np.random.RandomState(11)
    d0 = rng.randn(16)
    d0 /= np.linalg.norm(d0)
    X = rng.randn(120, 16) * 0.05 + np.outer(rng.randn(120) * 0.4, d0)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    corr = {r.vec_id: r.cvec for r in abtt_correct(df, dim=16).collect()}
    _, mu, v = power_direction(df, "vec_id", "embedding", 16, 3, 1024, 4096)
    for cv in corr.values():
        assert sum(int(a) * b for a, b in zip(cv, v)) == 0
    # corrected vectors should have lost most of the planted direction:
    # mean |cos(corrected, d0)| far below mean |cos(raw, d0)|
    C = np.array([corr[i] for i in range(120)], dtype=float)
    raw_cos = np.abs((X @ d0) / np.linalg.norm(X, axis=1))
    cor_cos = np.abs((C @ d0) / (np.linalg.norm(C, axis=1) + 1e-12))
    assert cor_cos.mean() < 0.2 * raw_cos.mean()


def test_direction_kwarg_reuses_precomputed_triple(spark):
    """power_iteration_pca / abtt_correct with direction= must return
    bit-identical results to the self-computed path (the q109/q112
    shared-direction contract), and the shared triple must skip the
    iteration ladder (verified by handing in a DELIBERATELY different
    direction and seeing it honored, not recomputed)."""
    import numpy as np

    from intake_spark.llm.similarity import (
        abtt_correct,
        power_direction,
        power_iteration_pca,
    )

    rng = np.random.RandomState(3)
    X = rng.randn(40, 8) * 0.3
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    trip = power_direction(df, "vec_id", "embedding", 8, 3, 1024, 4096)

    own = power_iteration_pca(df, dim=8).toPandas().sort_values("vec_id")
    shared = (
        power_iteration_pca(df, dim=8, direction=trip)
        .toPandas()
        .sort_values("vec_id")
    )
    assert (own["proj_fx"].to_numpy() == shared["proj_fx"].to_numpy()).all()

    own_c = {r.vec_id: list(r.cvec) for r in abtt_correct(df, dim=8).collect()}
    sh_c = {
        r.vec_id: list(r.cvec)
        for r in abtt_correct(df, dim=8, direction=trip).collect()
    }
    assert own_c == sh_c

    # a planted fake direction must be USED, not recomputed: rejection
    # against axis e0 zeroes exactly the first component's contribution
    base, mu, _ = trip
    fake_v = [4096] + [0] * 7
    fc = {
        r.vec_id: list(r.cvec)
        for r in abtt_correct(df, dim=8, direction=(base, mu, fake_v)).collect()
    }
    for cv in fc.values():
        assert sum(int(a) * b for a, b in zip(cv, fake_v)) == 0


def test_q109_q112_share_direction_cache(spark, tmp_path):
    """_direction_shared computes the ladder once per (session, sf_dir):
    the second consumer gets the SAME triple object back."""
    from intake_spark.llm import queries as Q

    Q._SHARED_BUILT.pop("shared:direction", None)
    t1 = Q._direction_shared(spark, "/root/testdata/sf0.001")
    t2 = Q._direction_shared(spark, "/root/testdata/sf0.001")
    assert t1 is t2
    assert len(Q._SHARED_BUILT["shared:direction"]) == 1


def test_kmeans_fit_matches_pure_python_replay(spark):
    """Independent replay of the full Lloyd trajectory (quantize, lowest-id
    seeds, argmin with lowest-cluster tie-break, truncating integer means,
    empty-cluster carry) — the q72/q88 iterative-algorithm test rule."""
    import numpy as np

    from intake_spark.llm.similarity import kmeans_fit
    from intake_spark.utils import trunc_div

    rng = np.random.RandomState(5)
    blobs = [
        rng.randn(30, 6) * 0.1 + c
        for c in ([0.8] * 6, [-0.8] * 6, [0.0] * 6)
    ]
    # interleave rows so the k lowest-id seeds span all three blobs
    # (row i belongs to blob i % 3)
    X = np.empty((90, 6))
    for b, blob in enumerate(blobs):
        X[b::3] = blob
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    k, iters, dim, qscale = 3, 3, 6, 1024
    cents, asg = kmeans_fit(df, k=k, iters=iters)
    got = {r.vec_id: (r.cluster_id, r.dist2) for r in asg.collect()}

    import math

    Q = [[int(math.floor(x * qscale)) for x in row] for row in X]
    C = [list(Q[i]) for i in range(k)]  # lowest-id seeds

    def assign(c):
        out = {}
        for i, q in enumerate(Q):
            best = min(
                (sum((a - b) ** 2 for a, b in zip(q, cj)), j)
                for j, cj in enumerate(c)
            )
            out[i] = best
        return out

    for _ in range(iters):
        a = assign(C)
        nxt = [list(c) for c in C]
        for j in range(k):
            members = [Q[i] for i, (_, cl) in a.items() if cl == j]
            if members:
                nxt[j] = [
                    trunc_div(sum(m[d] for m in members), len(members))
                    for d in range(dim)
                ]
        C = nxt
    final = assign(C)
    assert C == cents
    assert got == {i: (cl, d2) for i, (d2, cl) in final.items()}
    # the planted three-blob structure must be recovered: each blob maps
    # into exactly one cluster, and distinct blobs into distinct clusters
    blob_labels = [
        {got[i][0] for i in range(b, 90, 3)} for b in range(3)
    ]
    assert all(len(s) == 1 for s in blob_labels), blob_labels
    assert len(set().union(*blob_labels)) == 3


def test_kmeans_fit_requires_k_vectors(spark):
    import pytest

    from intake_spark.llm.similarity import kmeans_fit

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="at least k=5"):
        kmeans_fit(df, k=5, iters=1)


def test_kmeans_fit_rejects_dim_mismatch(spark):
    """The width comes from the k seed rows: seeds of unequal width would
    NULL-pad every distance after round 1 (all rows silently in
    cluster 0), and a NULL or empty seed has no width — both refused by
    name up front. A non-seed row of another width fails too, naming its
    id, its width and the seed width: a wider one would get a NULL dist2
    and sink into cluster 0, a narrower one would fail on element_at."""
    import pytest

    from intake_spark.llm.similarity import kmeans_fit

    ragged = spark.createDataFrame(
        [(i, [0.1 * i, 0.2, 0.3, 0.4][: 2 if i == 1 else 4]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match=r"one non-zero width, got widths \[2, 4\]"):
        kmeans_fit(ragged, k=2, iters=1)
    empty = spark.createDataFrame(
        [(0, None), (1, [0.1, 0.2]), (2, [0.3, 0.4])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match=r"got widths \[0, 2\]"):
        kmeans_fit(empty, k=2, iters=1)
    # without row 1 both seeds (rows 0 and 2) are 4 wide
    cents, _ = kmeans_fit(ragged.filter("vec_id != 1"), k=2, iters=1)
    assert [len(c) for c in cents] == [4, 4]
    for width in (5, 3):
        odd = spark.createDataFrame(
            [(i, [0.1 * i, 0.2, 0.3, 0.4, 0.5][: width if i == 3 else 4])
             for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        with pytest.raises(Exception,
                           match=f"vec_id 3 has width {width}, expected width 4"):
            kmeans_fit(odd, k=2, iters=1)


def test_ivf_build_exact_method(spark):
    """ivf_build trains the integer k-means: identical centroids on every
    run and partitioning, assignments agree with kmeans_fit, and search
    recall holds the IVF band."""
    from intake_spark.llm.similarity import (
        ivf_build,
        ivf_search,
        kmeans_fit,
        knn_bruteforce,
    )
    from intake_spark.session import load_table
    from tests.conftest import SF_MEDIUM

    emb = load_table(spark, SF_MEDIUM, "embeddings")
    c1, a1 = ivf_build(emb, n_lists=8)
    c2, a2 = ivf_build(emb.repartition(13), n_lists=8)
    assert c1 == c2  # deterministic under any partitioning
    _, asg = kmeans_fit(emb, k=8, iters=3)
    got = {r.vec_id: r.ivf_list for r in a1.collect()}
    want = {r.vec_id: r.cluster_id for r in asg.collect()}
    assert got == want

    queries = emb.filter("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(emb, queries, top_k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_search(a1, c1, queries, top_k=5, n_probes=3).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.6


def test_engine_imports_no_pyspark_ml():
    """One k-means (the integer ``kmeans_fit``) behind every IVF index:
    no module under intake_spark/ imports ``pyspark.ml``, statically or
    through ``importlib.import_module``."""
    import ast
    import pathlib

    import intake_spark
    from tests.conftest import method_calls

    def is_ml(name):
        return name == "pyspark.ml" or name.startswith("pyspark.ml.")

    root = pathlib.Path(intake_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module or ""]
                if node.module == "pyspark":
                    names += [f"pyspark.{a.name}" for a in node.names]
            else:
                continue
            found += [f"{path.name}:{node.lineno} {n}" for n in names if is_ml(n)]
        for _, call in method_calls(tree, "import_module"):
            arg = call.args[0] if call.args else None
            if isinstance(arg, ast.Constant) and is_ml(str(arg.value)):
                found.append(f"{path.name}:{call.lineno} {arg.value}")
    assert not found
