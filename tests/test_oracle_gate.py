"""Local replica of the driver's correctness gate: run every ``queries()``
entry on Spark at sf0.01 and compare against ``oracle_sql()`` via DuckDB —
row count, column names, and exact cell values (order-insensitive).

This is intentionally *stricter* than approximate float comparison: the
engine's determinism policy (decimal-exact sums, fixed tie-breaks,
md5-derived hashes) should make results bit-identical across engines.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from tests.conftest import SF_MEDIUM

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif str(out[c].dtype).startswith(("int", "uint", "Int")):
            out[c] = out[c].astype("int64")
        elif str(out[c].dtype).startswith(("float", "Float")):
            out[c] = out[c].astype("float64")
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    # dtype parity pre-canonicalization: the driver compares schemas too
    sd = {c: str(t) for c, t in spark_pdf.dtypes.items()}
    od = {c: str(t) for c, t in oracle_pdf.dtypes.items()}
    dt_diffs = {c: (sd.get(c), od.get(c)) for c in set(sd) | set(od) if sd.get(c) != od.get(c)}
    assert not dt_diffs, f"{name}: dtype mismatches {dt_diffs}"
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} != {list(b.columns)}"
    for c in a.columns:
        if a[c].dtype == "float64":
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            for i, (x, y) in enumerate(zip(av, bv)):
                ok = (math.isnan(x) and math.isnan(y)) or x == y
                assert ok, f"{name}: col {c} row {i}: {x!r} != {y!r}"
        else:
            eq = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
            mism = a[c][~eq]
            assert mism.empty, f"{name}: col {c} mismatches at {mism.index[:5].tolist()}: " f"{a[c].iloc[mism.index[:3]].tolist()} vs {b[c].iloc[mism.index[:3]].tolist()}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    fn = QUERIES[name]
    sdf = fn(spark, SF_MEDIUM)
    spark_pdf = sdf.toPandas()
    # Non-vacuity: an oracle match on zero rows proves nothing about the
    # query logic (q75 passed vacuously in round 4). Every registered
    # query must produce output at sf0.01.
    assert len(spark_pdf) > 0, f"{name}: empty result makes the oracle comparison vacuous"
    if name not in ORACLES:
        # rows-only check (mirrors the driver's weaker gate)
        return
    oracle_pdf = duck.sql(ORACLES[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.schema) > 0


# q25/q45: brute-force similarity IS the oracle algorithm (guarded);
# q63/q64/q75/q77/q87/q93/q94: single-row broadcast scalar thresholds/
# vocabularies/corpus stats; q105: single-row corpus gram totals
# joined onto the buckets-sized table (never onto the corpus)
# q112: 3-probe brute-force corrected-cosine scan by design
# q114: q25's probe-scan shape with the label-mismatch filter
# q128: single-row broadcast corpus-token total joined onto the
# k-words-×-sources profile table (never onto the corpus)
SANCTIONED_CARTESIANS = {
    "q105_dsir_weights",
    "q112_abtt_knn",
    "q128_word_profile_divergence",
    "q114_hard_negatives",
    "q25_knn_bruteforce",
    "q45_embedding_near_dup",
    "q63_vocab_coverage",
    "q64_token_probability",
    "q75_important_brands",
    "q77_funnel",
    "q87_bm25_search",
    "q93_top_supplier",
    "q94_temperature_mix",
}


@pytest.mark.slow  # whole-registry plan audit; plan shape also machine-checked from plans/
def test_no_row_udfs_and_sanctioned_cartesians_only(spark):
    """Whole-registry plan audit: no query may contain a row-at-a-time
    Python UDF stage (BatchEvalPython), and cartesian/broadcast-nested-
    loop joins appear ONLY where they are the design (brute-force oracle
    algorithms and single-row broadcast scalars)."""
    from intake_spark.benchqueries import get_queries

    offenders_udf, offenders_cart = [], []
    for name, fn in get_queries().items():
        plan = fn(spark, SF_MEDIUM)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders_udf.append(name)
        if (
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        ) and name not in SANCTIONED_CARTESIANS:
            offenders_cart.append(name)
    assert not offenders_udf, f"row-at-a-time Python UDF in: {offenders_udf}"
    assert not offenders_cart, f"unsanctioned cartesian join in: {offenders_cart}"


# A fixed sample of the registry for the default run: the two queries
# whose driver-local frames are Arrow local relations (q88, q122), the
# corpus triage's listing (q140), local-frame readers and operators
# (q115, q116, q118, q126, q135) and two sanctioned cartesians (q25, q63).
PLAN_AUDIT_SAMPLE = (
    "q88_bpe_learn",
    "q122_exact_corpus_quantiles",
    "q140_corpus_triage",
    "q115_dedup_aware_split",
    "q116_unimax_budgets",
    "q118_keep_best_duplicate",
    "q126_lsh_plan",
    "q135_reader_longtail",
    "q25_knn_bruteforce",
    "q63_vocab_coverage",
)


def _python_rdd_scans(plan):
    """The ``Scan ExistingRDD`` leaves of a physical plan (cached
    relations included) whose RDD lineage holds a ``PythonRDD``: rows
    pickled by a Python worker, as ``createDataFrame`` over Python rows
    plans them. A ``session.materialize`` checkpoint also scans as
    ExistingRDD, but over a JVM RDD."""
    found, todo = [], [plan]
    while todo:
        leaves = todo.pop().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "InMemoryTableScan":
                todo.append(leaf.relation().cachedPlan())
            elif (leaf.nodeName() == "Scan ExistingRDD"
                  and "PythonRDD" in leaf.rdd().toDebugString()):
                found.append(leaf.simpleString(80))
    return found


def test_sampled_plan_audit(spark):
    """The whole-registry audit above on a fixed sample, plus: no scan
    over a pickled Python RDD (driver-local rows are Arrow local
    relations)."""
    from intake_spark.benchqueries import get_queries

    queries = get_queries()
    for name in PLAN_AUDIT_SAMPLE:
        qe = queries[name](spark, SF_MEDIUM)._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        if name not in SANCTIONED_CARTESIANS:
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert not _python_rdd_scans(qe.sparkPlan()), name


def test_verify_order_derived_from_correctness_files(tmp_path):
    """queries() ordering is derived from the driver's CORRECTNESS_r*.json
    files: never-driver-verified queries lead, then stalest-verified
    first — so the driver's 50-query sample window rotates automatically
    and cannot go stale the way a hand-edited list can."""
    import json

    from intake_spark.benchqueries import _latest_green_round, _ordered

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_old": {"rows_match": True, "hash_match": True, "err": None},
        "q_red": {"rows_match": False, "hash_match": False, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "q_fresh": {"rows_match": True, "hash_match": True, "err": None},
        "q_rowsonly": {"rows_match": True, "err": None},
        "q_errored": {"rows_match": True, "hash_match": True, "err": "boom"},
        "q_badschema": {"rows_match": True, "hash_match": True,
                        "schema_match": False, "err": None},
    }))
    latest = _latest_green_round(tmp_path)
    # red / errored / schema-mismatched rows never count as verification
    assert latest == {"q_old": 1, "q_fresh": 2, "q_rowsonly": 2}

    # live ordering: histogram over the real repo files must be
    # non-decreasing in round (never-verified first, oldest next)
    real = _latest_green_round()
    ordered = list(_ordered({n: None for n in real}))
    rounds = [real.get(n, -1) for n in ordered]
    assert rounds == sorted(rounds)
