"""load_table's lazy-plan cache (r12): identical DataFrame object per
(session, sf_dir, table), distinct per key, nothing materialized — the
plan still reads the parquet on every action."""

from __future__ import annotations

import pytest

from tests.conftest import SF_MEDIUM, SF_SMALL


def test_load_table_plan_cache_identity_and_keying(spark):
    from intake_spark import session as S

    a = S.load_table(spark, SF_MEDIUM, "documents")
    b = S.load_table(spark, SF_MEDIUM, "documents")
    assert a is b  # cached plan, zero rebuild cost
    c = S.load_table(spark, SF_SMALL, "documents")
    d = S.load_table(spark, SF_MEDIUM, "orders")
    assert c is not a and d is not a  # keyed by (sf_dir, table)
    # lazy: the cached frame still computes from the files
    assert a.count() == S._load_table_uncached(
        spark, SF_MEDIUM, "documents"
    ).count()


def test_load_table_cache_is_bounded(spark):
    from intake_spark import session as S

    before = dict(S._SCAN_CACHE)
    try:
        for i in range(70):
            S._SCAN_CACHE[("app", f"dir{i}", "t")] = object()
        # evict the real key first: a cache HIT returns early and never
        # runs the eviction loop (observed order-dependently in the
        # full suite, where earlier tests had already cached it)
        real = (spark.sparkContext.applicationId, SF_MEDIUM, "nation")
        for key in [k for k in S._SCAN_CACHE if k[:3] == real]:
            S._SCAN_CACHE.pop(key)
        S.load_table(spark, SF_MEDIUM, "nation")
        assert len(S._SCAN_CACHE) <= 64
    finally:
        S._SCAN_CACHE.clear()
        S._SCAN_CACHE.update(before)


def test_load_table_rereads_a_table_overwritten_in_place(spark, tmp_path):
    # the staleness token: an overwrite deletes the part files a cached
    # plan lists, so serving that plan would fail on the next action
    from intake_spark import session as S

    path = str(tmp_path / "t.parquet")
    spark.range(3).write.mode("overwrite").parquet(path)
    assert S.load_table(spark, str(tmp_path), "t").count() == 3
    spark.range(5).write.mode("overwrite").parquet(path)
    assert S.load_table(spark, str(tmp_path), "t").count() == 5


def test_load_table_events_restores_nanos_conf(spark, tmp_path):
    # events sets the legacy nanos conf only while it resolves the scan:
    # unset before means unset after, a preset value comes back as set
    import os

    from intake_spark import session as S

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    try:
        for preset in (None, "false", "true"):
            # a fresh sf_dir per case, so load_table misses its cache
            sf = tmp_path / f"sf_{preset}"
            sf.mkdir()
            os.symlink(f"{SF_SMALL}/events.parquet", sf / "events.parquet")
            if preset is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, preset)
            S.load_table(spark, str(sf), "events")
            assert spark.conf.get(key, None) == preset
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_spread_small_scan_decisions(spark):
    # the plan probe must answer for every frame shape the engine hands
    # it, spreading only scan-shaped frames with fewer partitions than
    # the cluster's parallelism
    from pyspark.sql import functions as F

    from intake_spark import session as S

    def spread(df):
        return "RoundRobinPartitioning" in S.spread_small_scan(
            df
        )._jdf.queryExecution().executedPlan().toString()

    scan = S.load_table(spark, SF_SMALL, "nation")
    assert spread(scan)
    assert spread(scan.select("n_name").filter(F.col("n_name") != ""))
    assert spread(S.local_frame(spark, [(1,), (2,)], "k long"))
    grouped = scan.groupBy("n_regionkey").count()
    assert S.spread_small_scan(grouped) is grouped
    wide = spark.range(0, 64, numPartitions=spark.sparkContext.defaultParallelism)
    assert S.spread_small_scan(wide) is wide


def test_spread_small_scan_leaves_a_frame_whose_probe_fails(spark):
    # a JVM error from the plan probe leaves the frame unchanged, to be
    # raised at the caller's action; any other error is not swallowed
    from types import SimpleNamespace

    from pyspark.errors.exceptions.captured import AnalysisException

    from intake_spark import session as S

    def frame(error):
        def probe():
            raise error

        return SimpleNamespace(isStreaming=False, sparkSession=spark,
                               _jdf=SimpleNamespace(queryExecution=probe))

    failing = frame(AnalysisException(desc="optimizer rule failed",
                                      stackTrace=""))
    assert S.spread_small_scan(failing) is failing
    with pytest.raises(TypeError):
        S.spread_small_scan(frame(TypeError("not a JVM error")))
