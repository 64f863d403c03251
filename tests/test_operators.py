"""asof_join / interval_join semantics on hand-built frames."""

from __future__ import annotations

import datetime as dtm

import pytest
from pyspark.sql import functions as F

TS = lambda s: dtm.datetime.fromisoformat(s)  # noqa: E731


@pytest.fixture()
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", TS("2024-01-01 10:00:00")),
            (2, "u1", TS("2024-01-01 12:00:00")),
            (3, "u2", TS("2024-01-01 11:00:00")),
            (4, "u3", TS("2024-01-01 11:00:00")),  # no right rows for u3
        ],
        ["id", "user", "ts"],
    )
    right = spark.createDataFrame(
        [
            ("u1", TS("2024-01-01 09:30:00"), 10.0),
            ("u1", TS("2024-01-01 11:59:00"), 20.0),
            ("u2", TS("2024-01-01 11:00:00"), 30.0),  # exact tie with left id=3
            ("u2", TS("2024-01-01 11:30:00"), 40.0),  # after left id=3
        ],
        ["user", "ts", "v"],
    )
    return left, right


def test_asof_backward_semantics(spark, frames):
    from intake_spark.operators import asof_join

    left, right = frames
    out = {r.id: r for r in asof_join(left, right, on="ts", by="user").collect()}
    assert out[1].v == 10.0  # 10:00 → latest prior is 09:30
    assert out[2].v == 20.0  # 12:00 → 11:59
    assert out[3].v == 30.0  # tie at 11:00 matches (<=)
    assert out[4].v is None and out[4].ts_right is None  # no match → null


def test_asof_tolerance(spark, frames):
    from intake_spark.operators import asof_join

    left, right = frames
    out = {
        r.id: r
        for r in asof_join(
            left, right, on="ts", by="user", tolerance=F.expr("INTERVAL 10 MINUTES")
        ).collect()
    }
    assert out[1].v is None  # 09:30 is 30min before 10:00 → outside tolerance
    assert out[2].v == 20.0  # 11:59 within 10min of 12:00
    assert out[3].v == 30.0  # exact tie, zero distance


def test_asof_preserves_left_rowcount(spark, frames):
    from intake_spark.operators import asof_join

    left, right = frames
    assert asof_join(left, right, on="ts", by="user").count() == left.count()


def test_interval_join(spark, frames):
    from intake_spark.operators import interval_join

    left, right = frames
    out = interval_join(
        left.withColumnRenamed("ts", "l_ts"),
        right.withColumnRenamed("ts", "r_ts"),
        by="user",
        left_ts="l_ts",
        right_ts="r_ts",
        lower=F.expr("INTERVAL 0 SECOND"),
        upper=F.expr("INTERVAL 2 HOURS"),
    )
    rows = [(r.id, r.v) for r in out.collect()]
    # id=1 (u1 10:00): right 11:59 within 2h → (1, 20.0); 09:30 is before → excluded
    assert (1, 20.0) in rows and (1, 10.0) not in rows
    # id=3 (u2 11:00): 11:00 and 11:30 both within
    assert (3, 30.0) in rows and (3, 40.0) in rows


def test_asof_plan_single_shuffle(spark, frames):
    """The whole point: one Exchange on the key, not a join explosion."""
    from intake_spark.operators import asof_join

    left, right = frames
    plan = asof_join(left, right, on="ts", by="user")._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # union sides co-partitioned


def test_hypertable_rollup_matches_per_granularity(spark):
    """One grouping-sets pass equals independent per-granularity groupBys,
    and the plan reads the source once (Expand, not two scans)."""
    from pyspark.sql import functions as F

    from intake_spark.operators import hypertable_rollup
    from intake_spark.session import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    out = hypertable_rollup(
        ev, "ts", ["COUNT(*) AS n"], granularities=("hour", "day"), extra_keys=["event_type"]
    )
    got = {
        (r.granularity, r.bucket_start, r.event_type): r.n for r in out.collect()
    }
    for g in ("hour", "day"):
        exact = (
            ev.groupBy(F.date_trunc(g, "ts").alias("b"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        for r in exact:
            assert got[(g, r.b, r.event_type)] == r.n
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE repeats the tree
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_chunking_and_repetition_are_mapper_only(spark):
    """The training-data scan ops must not shuffle: chunk_documents and
    repetition_stats plans contain zero Exchange operators — at 100 TB they
    are pure scan+flatMap passes."""
    from intake_spark.llm import text
    from intake_spark.session import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    for out in (
        text.chunk_documents(docs, window=50, stride=40),
        text.repetition_stats(docs, n=2),
        text.scrub_patterns(docs),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_top_terms_shuffle_budget(spark):
    """top_terms: one aggregate exchange + one window exchange, nothing
    more (partial aggregation happens map-side before the shuffle)."""
    from intake_spark.llm import text
    from intake_spark.session import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    plan = text.top_terms(docs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2


def test_kmeans_assignment_is_mapper_only(spark):
    """kmeans_fit's returned assignment frame must be a pure map over the
    checkpointed base — zero Exchange operators (the argmin runs against
    literal centroids; at 100 TB the final labeling is scan-speed)."""
    from intake_spark.llm.similarity import kmeans_fit
    from intake_spark.session import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    _, asg = kmeans_fit(emb, k=4, iters=1)
    plan = asg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_incremental_dedup_single_scan_no_self_join(spark):
    """incremental_dedup reads the document source once per side (shingle
    sets are checkpoint-pinned) and never forms an archive self-join: the
    executed plan shows exactly one parquet scan (the output id spine;
    the pinned shingle RDDs were materialized out of plan) and every join
    key set is cross-side."""
    from intake_spark.llm.dedup import incremental_dedup
    from intake_spark.session import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    out = incremental_dedup(docs.limit(40), docs.limit(80), threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
