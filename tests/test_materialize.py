"""session.materialize: the engine's one lineage cut. Local checkpoint
without a checkpoint directory, reliable checkpoint with one, and the
guard that keeps every engine cut going through it."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys
import textwrap

from intake_spark.session import materialize
from tests.conftest import method_calls

ROOT = pathlib.Path(__file__).resolve().parent.parent

CHAIN = [(i, i + 1) for i in range(15)]
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog again"),
    (3, "an entirely different sentence about spark"),
    (4, "an entirely different sentence about spark jobs"),
    (5, "nothing alike"),
]


def _lineage(df):
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_materialize_local_without_checkpoint_dir(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = materialize(spark.range(10).selectExpr("id * 2 AS x"))
    assert sorted(r.x for r in df.collect()) == list(range(0, 20, 2))
    lineage = _lineage(df)
    assert "LocalCheckpointRDD" in lineage
    assert "ReliableCheckpointRDD" not in lineage


def test_materialize_reliable_with_checkpoint_dir(spark, tmp_path):
    """With ``spark.checkpoint.dir`` set, an eager loop site
    (dup_groups_star) and a lazy site (lsh_candidate_pairs) return the
    local-mode rows from reliable checkpoints written under the dir. A
    SparkContext's checkpoint dir cannot be unset, so this runs in its
    own session."""
    from intake_spark.llm import dedup

    ckpt = tmp_path / "ckpt"
    script = textwrap.dedent(
        f"""
        import json
        from pyspark.sql import SparkSession
        from intake_spark.llm import dedup
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.checkpoint.dir", {str(ckpt)!r})
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        groups = dedup.dup_groups_star(
            spark.createDataFrame({CHAIN!r}, "doc_a long, doc_b long"))
        docs = spark.createDataFrame({DOCS!r}, "doc_id long, text string")
        cands = dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs), num_hashes=16, bands=8)
        out = {{}}
        for name, df in (("groups", groups), ("cands", cands)):
            rows = sorted(tuple(r) for r in df.collect())
            lineage = df._jdf.queryExecution().toRdd().toDebugString()
            out[name] = {{"rows": rows, "lineage": lineage}}
        print("RESULT " + json.dumps(out))
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": str(ROOT)},
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, proc.stdout[-2000:] + proc.stderr[-2000:]
    got = json.loads(lines[-1][len("RESULT "):])

    local = {
        "groups": dedup.dup_groups_star(
            spark.createDataFrame(CHAIN, "doc_a long, doc_b long")),
        "cands": dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(
                spark.createDataFrame(DOCS, "doc_id long, text string")),
            num_hashes=16, bands=8),
    }
    for name, df in local.items():
        want = sorted(tuple(r) for r in df.collect())
        assert want, name
        assert [tuple(r) for r in got[name]["rows"]] == want, name
        assert "ReliableCheckpointRDD" in got[name]["lineage"], name
        assert "LocalCheckpointRDD" not in got[name]["lineage"], name
    assert any(files for _, _, files in os.walk(ckpt))


def test_engine_lineage_cuts_use_materialize():
    """Every engine checkpoint call is inside session.materialize, so the
    local-vs-reliable choice has one home."""
    root = ROOT / "intake_spark"
    found, offenders = 0, []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        for name in ("localCheckpoint", "checkpoint"):
            for fn, call in method_calls(tree, name):
                if (rel, fn) == ("session.py", "materialize"):
                    found += 1
                else:
                    offenders.append(f"{rel}:{call.lineno} in {fn}")
    assert not offenders, f"checkpoint outside session.materialize: {offenders}"
    assert found == 2
