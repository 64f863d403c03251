"""load_table's lazy-plan cache (r12): identical DataFrame object per
(session, sf_dir, table), distinct per key, nothing materialized — the
plan still reads the parquet on every action."""

from __future__ import annotations

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
