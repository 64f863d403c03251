"""Distributed corpus datatype triage (datatypes.recommend_corpus):
executor-side head-sniffing with (dir, ext) cluster propagation, disputed-
cluster per-file fallback, verdict caching, and the recommend_scored
evidence trail it builds on. Reference surface is the single-URL
``recommend`` (reference datatypes.py:1886-2045); the distributed form is
the SURVEY §7 scale plan."""

from __future__ import annotations

import contextlib
import gzip
import os
import uuid

import numpy as np
import pytest

from intake_spark import datatypes as dt
from intake_spark.datatypes import recommend_corpus, recommend_scored


def _png(path):
    from intake_spark.output import _png_bytes

    img = (np.arange(64) % 7).astype(np.uint8).reshape(8, 8)
    with open(path, "wb") as f:
        f.write(_png_bytes(img.tolist()))


def _corpus(root) -> dict[str, int]:
    os.makedirs(f"{root}/csv")
    os.makedirs(f"{root}/png")
    os.makedirs(f"{root}/mixed")
    for i in range(10):
        with open(f"{root}/csv/d{i}.csv", "w") as f:
            f.write(f"a,b\n{i},2\n")
    for i in range(6):
        _png(f"{root}/png/d{i}.png")
    # one directory, one extension, two actual formats split 3/3: ANY
    # 4-of-6 sample must contain both, so the cluster deterministically
    # disputes and every member gets its own sniff. (A 5/1 split would
    # make the test a coin flip on xxhash64(tmp_path) — propagation is
    # sample-based by design; see the recommend_corpus docstring caveat.)
    for i in range(3):
        with open(f"{root}/mixed/d{i}.dat", "wb") as f:
            f.write(b"PAR1" + b"x" * 32)
        _png(f"{root}/mixed/p{i}.dat")
    return {"csv": 10, "png": 6, "dat_parquet": 3, "dat_png": 3}


@contextlib.contextmanager
def _job_counter(spark):
    """Yield a callable counting the Spark jobs this thread launched
    inside the block (a fresh job group, read from the status tracker
    once the listener bus has delivered every job-start event)."""
    sc = spark.sparkContext
    group = f"rc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        yield jobs
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_recommend_scored_evidence():
    """recommend_scored exposes the (class, score, via) triple recommend
    ranks by; compression recursion is visible in the via prefix."""
    top = recommend_scored("/x/y.parquet", head=b"PAR1" + b"\x00" * 8)[0]
    assert top[0] is dt.Parquet and top[1] == 2.6 and top[2] == "magic+pattern"
    top = recommend_scored("/x/y.csv.gz", head=gzip.compress(b"a,b\n1,2\n"))[0]
    assert top[0] is dt.CSV and top[2] == "compressed:gzip:pattern"
    assert recommend_scored("/x/unclaimed.zzz9", head=b"\x00\x01") == []


def test_recommend_scored_undecodable_compression():
    """A compressed head that cannot be decoded here (zstd/lz4, or a
    truncated gzip stream) is scored by filename pattern alone."""
    zst = recommend_scored("/x/a.csv.zst", head=b"\x28\xb5\x2f\xfd" + b"\x00" * 16)
    assert zst[0][0] is dt.CSV and zst[0][2] == "pattern"
    truncated = gzip.compress(b"a,b\n1,2\n" * 50)[:24]
    gz = recommend_scored("/x/a.csv.gz", head=truncated)
    assert gz[0][0] is dt.CSV and gz[0][2] == "pattern"


def test_corpus_triage_undecodable_compression(spark, tmp_path):
    """A .zst member triages instead of failing the sniffing task."""
    os.makedirs(f"{tmp_path}/z")
    for i in range(3):
        with open(f"{tmp_path}/z/f{i}.csv.zst", "wb") as f:
            f.write(b"\x28\xb5\x2f\xfd" + b"\x00" * 16)
    rows = recommend_corpus(spark, str(tmp_path), samples_per_cluster=4).collect()
    assert sorted((r.datatype, r.via) for r in rows) == [("CSV", "pattern")] * 3


@pytest.mark.parametrize("batch_rows", [None, 2], ids=["default", "batch2"])
def test_corpus_triage_clusters_and_disputes(spark, tmp_path, batch_rows):
    """With 2-row Arrow batches every cluster straddles batches, so the
    per-cluster sample state must carry across them."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    try:
        if batch_rows is not None:
            spark.conf.set(key, str(batch_rows))
        n = _corpus(tmp_path)
        out = recommend_corpus(spark, str(tmp_path), samples_per_cluster=4)
        rows = {r.path: r for r in out.collect()}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert len(rows) == sum(n.values())

    csv_rows = [r for p, r in rows.items() if "/csv/" in p]
    assert all(r.datatype == "CSV" for r in csv_rows)
    # exactly samples_per_cluster sniffed, the rest propagated
    assert sum(r.via == "cluster" for r in csv_rows) == 6
    assert sum(r.via == "pattern" for r in csv_rows) == 4
    # propagated rows carry no score (they were never opened)
    assert all(r.score is None for r in csv_rows if r.via == "cluster")

    png_rows = [r for p, r in rows.items() if "/png/" in p]
    assert all(r.datatype == "PNG" for r in png_rows)
    assert sum(r.via == "cluster" for r in png_rows) == 2

    # disputed cluster: every member individually sniffed, none propagated
    dat_rows = [r for p, r in rows.items() if "/mixed/" in p]
    assert sorted(r.datatype for r in dat_rows) == ["PNG"] * 3 + ["Parquet"] * 3
    assert all(r.via != "cluster" for r in dat_rows)


def test_corpus_triage_disputed_fan_out(spark, tmp_path):
    """A large disputed cluster is sniffed file by file across several
    tasks, not funnelled through one."""
    from pyspark.sql import functions as F

    os.makedirs(f"{tmp_path}/mixed")
    for i in range(32):
        with open(f"{tmp_path}/mixed/d{i}.dat", "wb") as f:
            f.write(b"PAR1" + b"x" * 32)
        _png(f"{tmp_path}/mixed/p{i}.dat")
    # 33 samples out of a 32/32 split always hold both formats
    out = recommend_corpus(spark, str(tmp_path), samples_per_cluster=33)
    rows = out.withColumn("_part", F.spark_partition_id()).collect()
    assert len(rows) == 64
    assert not [r for r in rows if r.via == "cluster"]
    assert all(
        r.datatype == ("Parquet" if os.path.basename(r.path)[0] == "d" else "PNG")
        for r in rows
    )
    # one task for all pending rows would leave at most two partition
    # ids (the samples' and the rest's)
    assert len({r._part for r in rows}) > 2


def test_corpus_triage_unclaimed_files(spark, tmp_path):
    os.makedirs(f"{tmp_path}/u")
    for i in range(3):
        with open(f"{tmp_path}/u/f{i}.zzz9", "wb") as f:
            f.write(b"\x00\x01\x02")
    out = recommend_corpus(spark, str(tmp_path), samples_per_cluster=2)
    rows = out.collect()
    # no datatype claims .zzz9 + binary head: datatype null everywhere,
    # and a null-verdict cluster never propagates (every file checked)
    assert [r.datatype for r in rows] == [None] * 3
    assert all(r.via == "none" for r in rows)


def test_corpus_triage_cache(spark, tmp_path):
    root = tmp_path / "corpus"
    os.makedirs(root)
    _corpus(root)
    cache = str(tmp_path / "cache")
    first = recommend_corpus(
        spark, str(root), samples_per_cluster=4, cache_path=cache
    ).toPandas().sort_values("path").reset_index(drop=True)
    # grow the corpus; only the new files may be sniffed or propagated
    for i in range(10, 14):
        with open(f"{root}/csv/d{i}.csv", "w") as f:
            f.write(f"a,b\n{i},2\n")
    second = recommend_corpus(
        spark, str(root), samples_per_cluster=4, cache_path=cache
    ).toPandas().sort_values("path").reset_index(drop=True)
    assert len(second) == len(first) + 4
    merged = second.merge(first, on="path", suffixes=("", "_old"))
    assert (merged["datatype"] == merged["datatype_old"]).all()
    assert (merged["via"] == merged["via_old"]).all()
    news = second[~second["path"].isin(first["path"])]
    assert (news["datatype"] == "CSV").all()
    # cached verdicts for vanished paths are filtered out of the result
    os.remove(f"{root}/csv/d0.csv")
    third = recommend_corpus(
        spark, str(root), samples_per_cluster=4, cache_path=cache
    )
    assert third.count() == len(second) - 1


def test_corpus_triage_listing_inputs(spark, tmp_path):
    """A list of paths and a DataFrame listing both work — the inventory
    path for object stores where walking is not an option."""
    _corpus(tmp_path)
    paths = [f"{tmp_path}/csv/d{i}.csv" for i in range(10)]
    out = recommend_corpus(spark, paths, samples_per_cluster=3)
    assert out.count() == 10
    assert {r.datatype for r in out.collect()} == {"CSV"}
    ldf = spark.createDataFrame([(p,) for p in paths], "path string")
    out2 = recommend_corpus(spark, ldf, samples_per_cluster=3)
    assert out2.count() == 10


@pytest.mark.parametrize(
    "kind", ["walk", "list", "dataframe", "executor_walk"]
)
def test_corpus_triage_is_lazy(spark, tmp_path, kind):
    """Building the triage launches no Spark job; the action does."""
    _corpus(tmp_path)
    paths = [os.path.join(r, fn)
             for r, _d, files in os.walk(tmp_path) for fn in files]
    source = {
        "walk": str(tmp_path),
        "executor_walk": str(tmp_path),
        "list": paths,
        "dataframe": spark.createDataFrame([(p,) for p in paths],
                                           "path string"),
    }[kind]
    with _job_counter(spark) as jobs:
        out = recommend_corpus(spark, source, samples_per_cluster=4,
                               walk_on_executors=kind == "executor_walk")
        assert jobs() == 0
        assert len(out.collect()) == len(paths)
        assert jobs() > 0


def test_corpus_triage_job_budget(spark, tmp_path):
    """Triaging a walked directory, call and collect, runs at most three
    jobs: the cluster shuffle, the path shuffle and the result stage."""
    _corpus(tmp_path)
    with _job_counter(spark) as jobs:
        recommend_corpus(spark, str(tmp_path), samples_per_cluster=4).collect()
        assert jobs() <= 3


def test_corpus_triage_plan_is_distributed(spark, tmp_path):
    """The sniff stages are ArrowEvalPython-free mapInPandas over the
    listing — no driver-side file reads, no per-row Python UDFs."""
    _corpus(tmp_path)
    out = recommend_corpus(spark, str(tmp_path), samples_per_cluster=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time UDFs


@pytest.mark.parametrize("kind", ["walk", "list", "executor_walk"])
def test_corpus_triage_listing_is_local_relation(spark, tmp_path, kind):
    """A driver-side listing is an Arrow local relation, not a pickled
    Python RDD, and the dir/ext projection stays off it: each of the
    optimized plan's LocalRelations outputs only the listed path (or,
    for the executor walk, the directory to walk), so Catalyst has not
    folded the per-row expressions into it on the driver."""
    import re

    _corpus(tmp_path)
    paths = [os.path.join(r, fn)
             for r, _d, files in os.walk(tmp_path) for fn in files]
    source = paths if kind == "list" else str(tmp_path)
    out = recommend_corpus(spark, source, samples_per_cluster=4,
                           walk_on_executors=kind == "executor_walk")
    qe = out._jdf.queryExecution()
    executed = qe.executedPlan().toString()
    assert "LocalTableScan" in executed
    assert "Scan ExistingRDD" not in executed
    relations = re.findall(r"LocalRelation (?:<empty>, )?\[([^\]]*)\]",
                           qe.optimizedPlan().toString())
    assert relations
    assert all(re.fullmatch(r"(path|dir)#\d+", cols) for cols in relations)


def test_corpus_triage_extension_case(spark):
    """ext is the extension lower-cased as lower() does, non-ASCII
    letters included, computed after the exchange; case variants of one
    extension in one directory are one cluster."""
    from pyspark.sql import functions as F

    paths = ["/nx/d/a.CSV", "/nx/d/b.csv", "/nx/d/c.ÄB", "/nx/d/e.äb",
             "/nx/d/noext", "/nx/d/f.Tar.GZ", "/nx/d/g.İ"]
    rows = recommend_corpus(spark, paths, samples_per_cluster=1).collect()
    want = {
        r.path: r.ext for r in spark.createDataFrame(
            [(p, p.rsplit("/", 1)[1].partition(".")[2]) for p in paths],
            "path string, raw string",
        ).select("path", F.lower("raw").alias("ext")).collect()
    }
    assert {r.path: r.ext for r in rows} == want
    csv = sorted(r.via for r in rows if r.ext == "csv")
    assert len(csv) == 2 and csv.count("cluster") == 1


def test_recommend_scored_chained_wrapper_prefix():
    """Chained compression wrappers keep the FULL evidence trail (r11
    review: the outer prefix was dropped on recursion)."""
    import bz2

    inner = bz2.compress(b"a,b\n1,2\n")
    top = recommend_scored("/x/y.csv.bz2.gz", head=gzip.compress(inner))[0]
    assert top[0] is dt.CSV
    assert top[2] == "compressed:gzip:compressed:bz2:pattern"


def test_corpus_catalog_end_to_end(spark, tmp_path):
    """corpus_catalog registers one glob-URL entry per homogeneous
    (dir, ext, datatype) cluster; entries read back through the normal
    reader path; unclaimed clusters land in metadata['skipped']."""
    from intake_spark.datatypes import corpus_catalog

    _corpus(tmp_path)
    os.makedirs(f"{tmp_path}/u")
    with open(f"{tmp_path}/u/f0.zzz9", "wb") as f:
        f.write(b"\x00\x01")
    cat = corpus_catalog(spark, str(tmp_path), samples_per_cluster=6)
    names = sorted(cat)
    assert any(n.startswith("csv_") for n in names)
    assert any(n.startswith("png_") for n in names)
    csv_name = next(n for n in names if n.startswith("csv_"))
    df = cat[csv_name].read(spark=spark)
    assert df.count() == 10  # ten 1-row csvs with header
    # mixed (dir, ext) cluster: a glob cannot express per-file
    # membership, so BOTH datatypes are skipped with a reason instead
    # of shipping entries whose glob sweeps the other format's files
    assert not [n for n in names if n.startswith("mixed_")]
    assert sum(
        s.get("reason", "").startswith("mixed formats")
        for s in cat.metadata["skipped"]
    ) == 2
    # unclaimed .zzz9 cluster recorded, not silently dropped
    assert any(
        s.get("reason", "").startswith("no datatype")
        for s in cat.metadata["skipped"]
    )
    # cluster metadata rides on the entries
    tok = cat.aliases[csv_name]
    assert cat.entries[tok].metadata["n_files"] == 10
    assert cat.entries[tok].metadata["via"] == "recommend_corpus"


def test_distributed_walk_and_executor_listing(spark, tmp_path):
    """distributed_walk lists root files driver-side and walks each
    first-level subtree on executors; recommend_corpus(walk_on_executors
    =True) produces the same verdicts as the driver walk."""
    from intake_spark.datatypes import distributed_walk

    _corpus(tmp_path)
    os.makedirs(f"{tmp_path}/csv/nested")
    with open(f"{tmp_path}/csv/nested/deep.csv", "w") as f:
        f.write("a,b\n9,9\n")
    with open(f"{tmp_path}/top.csv", "w") as f:
        f.write("a,b\n0,0\n")

    walked = sorted(r.path for r in distributed_walk(
        spark, str(tmp_path)).collect())
    expected = sorted(
        os.path.join(r, fn)
        for r, _d, files in os.walk(tmp_path) for fn in files
    )
    assert walked == expected

    a = recommend_corpus(spark, str(tmp_path), samples_per_cluster=6)
    b = recommend_corpus(spark, str(tmp_path), samples_per_cluster=6,
                         walk_on_executors=True)
    pa = a.toPandas().sort_values("path").reset_index(drop=True)
    pb = b.toPandas().sort_values("path").reset_index(drop=True)
    assert pa[["path", "datatype"]].equals(pb[["path", "datatype"]])
