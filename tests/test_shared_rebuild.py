"""The session-shared table registry (``@shared_table``): one builder per
label, a (label, session, sf_dir) cache with a per-label FIFO bound,
persist/unpersist of DataFrame values, rebuilt path stores, and loud
prewarm failures. rebuild_shared must (a) time a genuinely fresh
build, not a cache hit, (b) leave the shared table usable for later
consumers in the same session and (c) let a failed build raise."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_MEDIUM


@pytest.fixture
def throwaway():
    """Register cheap test-only labels; removed (and their DataFrames
    unpersisted) afterwards so the real registry is left as found."""
    from intake_spark.llm import queries as q

    added = []

    def register(label, build):
        added.append(label)
        return q.shared_table(label)(build)

    try:
        yield register
    finally:
        for label in added:
            q._SHARED_BUILDERS.pop(label, None)
            entries = q._SHARED_BUILT.pop(label, {})
            while entries:
                q._shared_evict(entries, next(iter(entries)))


def test_rebuild_shared_is_fresh_and_usable(spark):
    from intake_spark.llm import queries as q

    app = spark.sparkContext.applicationId
    key = (app, SF_MEDIUM)

    first = q._dup_spans_shared(spark, SF_MEDIUM)
    n0 = first.count()
    entries = q._SHARED_BUILT["shared:dup_spans"]
    assert key in entries

    secs = q.rebuild_shared(spark, SF_MEDIUM, "shared:dup_spans")
    # a cache hit times as microseconds; a real rebuild runs Spark jobs
    assert secs is not None and secs > 0.01
    rebuilt = entries.get(key)
    assert rebuilt is not None and rebuilt[0] is not first
    assert rebuilt[0].count() == n0


def test_rebuild_shared_unknown_label_is_none(spark):
    from intake_spark.llm.queries import rebuild_shared

    assert rebuild_shared(spark, SF_MEDIUM, "shared:nope") is None


def test_rebuild_shared_propagates_a_failed_build(spark, throwaway):
    from intake_spark.llm import queries as q

    def boom(spark, sf_dir):
        raise ValueError("no documents table")

    throwaway("shared:t_boom", boom)
    with pytest.raises(ValueError, match="no documents table"):
        q.rebuild_shared(spark, "t_dir", "shared:t_boom")


def test_specs_cover_every_prewarm_label(spark):
    # every billed label is declared once, at its builder, and is
    # therefore rebuildable (the two warmup lines live in bench.py and
    # are deliberately not rebuildable)
    from intake_spark.llm.queries import _SHARED_BUILDERS, shared_labels

    expected = {
        "shared:dup_spans", "shared:jaccard_pairs",
        "shared:jaccard_pairs_capped", "shared:semantic_pairs",
        "shared:direction", "shared:q135_store", "shared:q136_store",
        "shared:q137_store", "shared:q138_store", "shared:q140_store",
        "shared:q141_store",
    }
    assert set(_SHARED_BUILDERS) == expected
    assert set(shared_labels()) == expected
    for label, (build, _per_dir, _root) in _SHARED_BUILDERS.items():
        assert callable(build), label


def test_prewarm_shared_reports_a_failed_build(spark):
    from intake_spark.llm import queries as q

    saved = dict(q._SHARED_BUILDERS)
    try:
        q._SHARED_BUILDERS.clear()

        @q.shared_table("shared:t_boom")
        def _boom(spark, sf_dir):
            raise ValueError("no documents table")

        @q.shared_table("shared:t_ok")
        def _ok(spark, sf_dir):
            return sf_dir

        got = q.prewarm_shared(spark, "t_dir")
        # the failure is reported under its label, and the label after
        # it still builds
        assert got["shared:t_boom"] == "ValueError: no documents table"
        assert isinstance(got["shared:t_ok"], float)
    finally:
        q._SHARED_BUILDERS.clear()
        q._SHARED_BUILDERS.update(saved)
        q._SHARED_BUILT.pop("shared:t_ok", None)


def test_third_sf_dir_evicts_oldest_entry_of_that_label_only(
    spark, throwaway
):
    from intake_spark.llm import queries as q

    # distinct plans per key: Spark's cache is keyed by plan, so two
    # identical plans would share (and unpersist) one cache entry
    get = throwaway(
        "shared:t_df",
        lambda spark, sf_dir: spark.range(3).selectExpr(f"'{sf_dir}' AS d"),
    )
    other = throwaway(
        "shared:t_other",
        lambda spark, sf_dir: spark.range(2).selectExpr(f"'{sf_dir}' AS o"),
    )

    kept = other(spark, "a")
    a, b = get(spark, "a"), get(spark, "b")
    assert a.is_cached and b.is_cached  # persisted on insert
    assert get(spark, "a") is a  # a hit, not a rebuild

    c = get(spark, "c")
    app = spark.sparkContext.applicationId
    assert list(q._SHARED_BUILT["shared:t_df"]) == [(app, "b"), (app, "c")]
    assert not a.is_cached and not a.storageLevel.useMemory  # unpersisted
    assert get(spark, "b") is b and get(spark, "c") is c and b.is_cached
    assert other(spark, "a") is kept and kept.is_cached  # other label


def test_removed_store_directory_is_rebuilt(spark, throwaway):
    def build(spark, root):
        with open(os.path.join(root, "f.txt"), "w") as f:
            f.write("x")
        return root

    get = throwaway("shared:t_store", build)
    first = get(spark)
    assert get(spark) == first and get(spark, "any_dir") == first  # per session
    shutil.rmtree(first)
    fresh = get(spark)
    assert fresh != first and os.path.isfile(os.path.join(fresh, "f.txt"))
    shutil.rmtree(fresh)
