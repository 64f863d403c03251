"""recommend_corpus folds each file's extension in Python by the detection
rule (``datatypes.corpus_ext``), so no plan it builds calls the JVM's
``lower()``, whose first call in a JVM starts ICU case mapping."""

from __future__ import annotations

import os

import pytest

from intake_spark.datatypes import corpus_ext, recommend_corpus


def test_corpus_ext_rule():
    assert corpus_ext("/d/a.CSV") == "csv"
    assert corpus_ext("/d/f.Tar.GZ") == "tar.gz"
    assert corpus_ext("/d.x/noext") == ""
    assert corpus_ext("/d/.hidden") == "hidden"
    assert corpus_ext("/d/g.ÄB") == "äb"
    assert corpus_ext("rel.Json") == "json"


@pytest.mark.parametrize("kind", ["walk", "list", "dataframe", "cache"])
def test_corpus_triage_plan_has_no_jvm_lower(spark, tmp_path, kind):
    root = tmp_path / "corpus"
    for d in ("a", "b"):
        os.makedirs(root / d)
        for i in range(3):
            (root / d / f"f{i}.CSV").write_text("x,y\n1,2\n")
    paths = [os.path.join(r, fn) for r, _d, fs in os.walk(root) for fn in fs]
    source = {
        "walk": str(root),
        "cache": str(root),
        "list": paths,
        "dataframe": spark.createDataFrame([(p,) for p in paths],
                                           "path string"),
    }[kind]
    out = recommend_corpus(
        spark, source, samples_per_cluster=2,
        cache_path=str(tmp_path / "reg") if kind == "cache" else None,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "lower(" not in plan
    rows = out.collect()
    assert len(rows) == 6 and {r.ext for r in rows} == {"csv"}
