"""Structured Streaming surface: streaming sources, event-time windowed
aggregation with watermarks, and stream-to-batch parity helpers.

Beyond the reference (its Kafka/MQTT readers are batch polls,
intake/readers/readers.py:3192-3285) but mandated by the north star: the
same declarative entries can produce streaming DataFrames, and the windowed
aggregation here is the streaming twin of benchqueries.q17_hourly_windows —
same expressions, readStream instead of read.

Design: watermarks bound state (late data beyond the watermark is dropped,
state for closed windows is evicted — the only way windowed aggs survive
unbounded input); ``available_now`` triggers give reproducible batch-like
runs for tests and backfills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intake_spark import datatypes as dt
from intake_spark.readers import BaseReader
from intake_spark.benchqueries import dsum
from intake_spark.session import ensure_py_deps, map_in_pandas


class KafkaStream(BaseReader):
    """KafkaTopic → readStream (the streaming twin of SparkKafkaBatch).

    When the JVM Kafka connector is absent, falls back to the
    ``kafka_wire`` Python DataSource (intake_spark/kafka_source.py —
    the Spark 4 Python DataSource API): driver-side Metadata/ListOffsets
    planning, executor-side CRC32C-verified Fetch loops, and
    ``{partition: next_offset}`` microbatch offsets checkpointed by
    Structured Streaming exactly like the connector's. PLAINTEXT only;
    SASL/TLS needs the connector."""

    implements = {dt.KafkaTopic}
    priority = 10

    def _read(self, spark, starting_offsets="latest", **kwargs):
        try:
            return (
                spark.readStream.format("kafka")
                .option("kafka.bootstrap.servers", self.data.url)
                .option("subscribe", self.data.topic)
                .option("startingOffsets", starting_offsets)
                .options(**kwargs)
                .load()
            )
        except Exception as exc:
            msg = str(exc)
            if not ("Failed to find" in msg or "DATA_SOURCE_NOT_FOUND" in msg
                    or "ClassNotFound" in msg):
                raise
        from intake_spark.kafka_source import register_kafka_wire

        register_kafka_wire(spark)
        return (
            spark.readStream.format("kafka_wire")
            .option("kafka.bootstrap.servers", self.data.url)
            .option("subscribe", self.data.topic)
            .option("startingOffsets", starting_offsets)
            .options(**kwargs)
            .load()
        )


class FileStream(BaseReader):
    """Directory-watch streaming source over any file datatype — new files
    become micro-batches. ``schema`` is required (streams cannot infer)."""

    implements = {dt.Parquet, dt.CSV, dt.JSONFile}
    priority = 10

    def _read(self, spark, schema=None, max_files_per_trigger: int | None = None, **kwargs):
        fmt = type(self.data).spark_format
        reader = spark.readStream.format(fmt)
        if schema is not None:
            # accepts StructType or a DDL string ("a INT, b STRING") — the
            # DDL form is what catalog YAML entries carry
            reader = reader.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        if fmt == "csv":
            reader = reader.option("header", "true")
        return reader.options(**kwargs).load(self.data.url)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str = "value",
    user_col: str = "user_id",
) -> DataFrame:
    """Tumbling event-time window aggregation (works on batch AND streaming
    DataFrames — identical expressions, so batch runs oracle-check the
    streaming logic). Watermark only applies to streaming input."""
    if events.isStreaming:
        # watermarks require TIMESTAMP (LTZ); wall clock is preserved by the
        # cast, and tumbling windows align on epoch instants either way
        if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
            events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct(user_col).alias("approx_users"),
            dsum(value_col, 6).alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "approx_users", "value_sum")
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows: group events into per-user sessions closed after
    ``gap`` of inactivity → (user, session_start, session_end, n_events).

    Streaming input uses Spark's native ``session_window`` (state bounded by
    the watermark — sessions older than it are emitted and evicted, which is
    what makes this run forever on unbounded input). Batch input uses the
    classic mark-and-cumsum formulation (lag → new-session flag → running
    sum = session id → aggregate): identical boundary semantics (a session
    closes when ``ts >= prev_ts + gap``; ``session_end = last_ts + gap``),
    but the arithmetic stays in the input's own timestamp type — no LTZ
    cast, so NTZ inputs are timezone-independent. Both paths shuffle once
    on the user key; the stream≡batch equality is asserted in tests.
    """
    if events.isStreaming:
        if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
            events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        events = events.withWatermark(ts_col, watermark)
        return (
            events.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap).alias("sw"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                user_col,
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
            )
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_i = F.expr(f"INTERVAL {gap}")
    prev = F.lag(ts_col).over(w)
    new_s = F.when(prev.isNull() | (F.col(ts_col) >= prev + gap_i), 1).otherwise(0)
    marked = events.withColumn("_new", new_s)
    sid = F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        marked.withColumn("_sid", sid)
        .drop("_new")
        .groupBy(user_col, "_sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            (F.max(ts_col) + gap_i).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("_sid")
    )


def stream_exact_dedup(
    df: DataFrame,
    subset: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming arm of the exact-dedup family: keep the first row per
    ``subset`` key, with state BOUNDED by the watermark — keys older than
    ``delay`` are evicted, so this runs forever on an unbounded firehose
    (the unbounded-state ``dropDuplicates`` variant cannot). Batch input
    degrades to a plain dropDuplicates for oracle comparison.

    This is the ingestion-time guard of a training-data pipeline: exact
    duplicate documents/events within the late-data horizon never reach
    storage; cross-horizon dedup belongs to the batch dedup passes
    (llm.dedup) downstream."""
    if not df.isStreaming:
        # keep-FIRST per key like the stream arm (first arrival): plain
        # dropDuplicates keeps an ARBITRARY row, so row-level batch/stream
        # comparisons were flaky. "First" in batch = smallest event time.
        from pyspark.sql.window import Window

        w = Window.partitionBy(*subset).orderBy(F.col(ts_col).asc_nulls_last())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(subset)


def stateful_running_max(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    inactivity_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key running max + event count that survives across micro-batches,
    with state eviction after processing-time inactivity.

    This is the escape hatch for stateful logic Spark's built-in windowed
    aggregations can't express (per-key custom state machines). State is
    one tuple per key — O(keys), watermark-independent, evicted on timeout.
    Works on batch DataFrames too (single "batch" of state) so tests can
    oracle it.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T
    import pandas as pd

    ensure_py_deps(events.sparkSession)

    # the key keeps ITS OWN type — a hardcoded LongType crashed string
    # keys in the arrow conversion, and made batch/stream schemas disagree
    key_type = events.schema[key_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("key", key_type),
            T.StructField("running_max", T.DoubleType()),
            T.StructField("n_seen", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("mx", T.DoubleType()), T.StructField("n", T.LongType())]
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        mx, n = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf[value_col].max()))
                n += len(pdf)
        state.update((mx, n))
        if inactivity_timeout_ms is not None:
            state.setTimeoutDuration(inactivity_timeout_ms)
        yield pd.DataFrame({"key": [key[0]], "running_max": [mx], "n_seen": [n]})

    sel = events.select(F.col(key_col).alias("key"), F.col(value_col), F.col(ts_col))
    if not sel.isStreaming:
        # batch oracle path: plain aggregate with identical semantics AND
        # identical types (running_max is double in the stream arm)
        return sel.groupBy("key").agg(
            F.max(F.col(value_col).cast("double")).alias("running_max"),
            F.count(F.lit(1)).alias("n_seen"),
        )
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if inactivity_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return sel.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def stream_near_dup_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Streaming NEAR-dup ingestion guard: MinHash-LSH band keys computed
    mapper-side (the signature path is shuffle-free higher-order
    expressions, so it runs unchanged on a stream), then one
    ``applyInPandasWithState`` keyed by (band_id, band_key) whose state is
    the first document id that claimed the bucket. Output: one row per
    (doc, band) with ``is_dup_band`` — a doc is a near-dup if ANY of its
    bands is flagged (rollup downstream / in foreachBatch).

    First-claim order: across micro-batches, arrival order (state
    persists); within a batch, ascending id. When ingestion is id-ordered
    this matches the batch arm (:func:`intake_spark.llm.dedup.
    near_dup_first_seen`, min-id policy) row-for-row — the batch≡stream
    contract the tests assert. State is one long per DISTINCT band key:
    O(corpus bands), the same asymptotic state a streaming exact-dedup
    keeps, and evictable by timeout where the dup horizon is bounded.

    Batch input degrades to the same band-level flags via a join (used by
    the oracle check)."""
    from intake_spark.llm.dedup import minhash_band_keys, minhash_signatures

    banded = minhash_band_keys(
        minhash_signatures(df, id_col, text_col, num_hashes, k),
        id_col,
        num_hashes,
        bands,
    )
    return _first_claim_band_flags(banded, id_col)


def _first_claim_band_flags(banded: DataFrame, id_col: str) -> DataFrame:
    """Shared tail of the banded ingestion guards: given (id, band_id,
    band_key) rows, flag every row whose bucket was already claimed —
    first-claim applyInPandasWithState on a stream, a min-id join on a
    batch frame (the oracle arm). Both arms sort numerically on the id,
    so batch≡stream holds for id-ordered ingestion."""
    df = banded
    if not banded.isStreaming:
        # compare on the long-cast id so batch ordering matches the stream
        # arm's numeric sort (a native string id would order lexically).
        # A NON-numeric id raises here (mirroring the stream arm's int())
        # instead of silently yielding all-NULL ids and NULL dup flags.
        idl_try = F.col(id_col).try_cast("long")
        banded = banded.withColumn(
            "_idl",
            F.when(
                idl_try.isNull() & F.col(id_col).isNotNull(),
                F.raise_error(
                    F.concat(
                        F.lit("near-dup guard needs numeric ids, got: "),
                        F.col(id_col).cast("string"),
                    )
                ).cast("long"),
            ).otherwise(idl_try),
        )
        firsts = banded.groupBy("band_id", "band_key").agg(
            F.min("_idl").alias("_first")
        )
        return banded.join(firsts, ["band_id", "band_key"]).select(
            F.col("_idl").alias("id"),
            "band_id",
            "band_key",
            (F.col("_idl") > F.col("_first")).cast("int").alias("is_dup_band"),
        )

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ensure_py_deps(df.sparkSession)

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("band_id", T.IntegerType()),
            T.StructField("band_key", T.StringType()),
            T.StructField("is_dup_band", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("first", T.LongType())])

    def update(key, pdfs, state: GroupState):
        first = state.get[0] if state.exists else None
        ids = []
        for pdf in pdfs:
            ids.extend(int(v) for v in pdf[id_col])
        ids.sort()
        flags = []
        for i in ids:
            # first-CLAIM semantics: once a bucket is claimed, a later
            # arrival can never steal it (overwriting on i < first let a
            # duplicate pair through with NEITHER row flagged)
            if first is None:
                first = i
                flags.append(0)
            else:
                flags.append(1 if i != first else 0)
        state.update((int(first),))
        yield pd.DataFrame(
            {
                "id": ids,
                "band_id": [key[0]] * len(ids),
                "band_key": [key[1]] * len(ids),
                "is_dup_band": flags,
            }
        )

    return banded.groupBy("band_id", "band_key").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_phash_dup_flags(
    df: DataFrame,
    id_col: str = "image_id",
    image_col: str = "image",
    bands: int = 4,
) -> DataFrame:
    """Streaming PERCEPTUAL-image near-dup ingestion guard: the pHash is
    computed mapper-side (Arrow mapInPandas runs unchanged on a stream;
    image bytes never reach the state store), split into 16-bit
    pigeonhole band keys, then the same first-claim state machine as
    the text guards flags any image whose band bucket is already
    claimed. An image is a near-dup if ANY band is flagged (pigeonhole:
    exact recall for Hamming distance < ``bands``) — the streaming twin
    of :func:`intake_spark.llm.imagehash.phash_pairs`, so re-encoded /
    brightness-shifted copies of an already-ingested image are caught
    at ingestion, not at the next batch dedup pass.

    State is one long per DISTINCT (band, value) bucket — O(corpus
    bands), identical to the MinHash guard. Batch input degrades to the
    min-id join oracle arm, and batch≡stream is asserted by test."""
    from intake_spark.llm.imagehash import image_hashes

    if not 2 <= bands <= 64 or 64 % bands:
        raise ValueError(
            "bands must divide 64 into slices narrower than 64 bits "
            f"(2/4/8/16/32/64), got {bands}"
        )
    sig = image_hashes(df, image_col, id_col, algos=("phash",)).filter(
        F.col("hash").isNotNull()
    )
    r = 64 // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftrightunsigned(F.col("hash"), b * r)
                .bitwiseAND(F.lit(2**r - 1))
                .cast("string")
                .alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        id_col,
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )
    return _first_claim_band_flags(banded, id_col)


# monotonic count of transient-spawn retries taken by drain_stream —
# sampled by bench.py around each timed streaming query (verdict #8:
# a retry inflates the timed region; the ledger must say so)
RETRY_COUNT = 0


def _await_drain(q, timeout_s: float, what: str) -> None:
    """Wait for an available-now query to finish. A query still running
    after ``timeout_s`` is stopped (left running, it would keep filling
    a sink the caller takes as complete) and raises TimeoutError."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{what} did not drain within {timeout_s}s; stopped, so its "
            "sink is partial"
        )


def drain_stream(start_fn, timeout_s: float = 300.0, what: str = "stream"):
    """Start and fully drain an available-now micro-stream, retrying (up
    to three times — 4 attempts total, 5/10/15 s growing backoff) when
    startup dies in the Python-worker spawn path.

    ``start_fn`` must start a FRESH streaming query each call (new
    checkpoint/work dirs where the sink needs them): a cold
    PythonStreamingSourceRunner / worker process pays a fresh-process
    pyspark import before connecting back to the JVM, and under full
    load that can exceed the accept window — surfacing as
    ``StreamingQueryException: Python worker failed to connect back``
    (JVM accept side) or ``CANNOT_OPEN_SOCKET`` (worker connect side)
    with the query still INITIALIZING (nothing committed). That spawn
    failure is transient (the retry hits a warm path), so retrying
    converts a flaky hard failure into a slow first run; a single retry
    was measured insufficient under a sustained degraded window (both
    attempts landed in the same contention burst), hence three with a
    growing pause between them. Every
    other failure, including a drain timeout, stays fatal and loud.

    Every retry increments the module-level ``RETRY_COUNT`` (monotonic,
    never reset here): harnesses that time streaming queries can sample
    it around each run so a retry — which happens INSIDE the timed
    region and inflates that run's wall clock — is visible in the
    published artifact instead of masquerading as a slow query
    (r11 verdict item #8)."""
    import time as _time

    transient = ("failed to connect back", "CANNOT_OPEN_SOCKET")
    attempts = 4
    for attempt in range(attempts):
        q = start_fn()
        try:
            _await_drain(q, timeout_s, what)
            return
        except Exception as exc:  # noqa: BLE001 — match on message below
            if attempt < attempts - 1 and any(
                s in str(exc) for s in transient
            ):
                global RETRY_COUNT
                RETRY_COUNT += 1
                # host-contention bursts that kill the spawn last longer
                # than a back-to-back retry: observed three consecutive
                # attempts dying inside one burst. A growing pause gives
                # the burst time to pass before the next spawn.
                _time.sleep(5 * (attempt + 1))
                continue
            raise


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, timeout_s: float = 60.0, output_mode: str = "complete"
) -> None:
    """Execute a streaming plan with an available-now trigger into an
    in-memory sink (test/backfill harness): processes everything currently
    available, then stops. ``output_mode``: "complete" for aggregations,
    "append" for row-wise plans (dedup, watermarked appends)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, timeout_s, f"stream {query_name!r}")


def stream_file_source_demo(spark: SparkSession, src_dir: str, schema) -> DataFrame:
    """File-watch stream over a directory of parquet (used by tests)."""
    return FileStream(data=dt.Parquet(url=src_dir)).read(spark=spark, schema=schema)


def stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    available_now: bool = True,
    timeout_s: float | None = None,
):
    """Streaming DataFrame → partitioned parquet with exactly-once
    semantics: the checkpoint directory carries the source offsets + file
    manifest, so a crashed/restarted query resumes without duplicating or
    dropping data — the durable landing-zone sink of an ingestion
    pipeline (memory sinks are test harnesses; this is the production
    edge). ``available_now`` drains everything currently available then
    stops (backfill/batch-catchup mode); otherwise the query keeps
    running and the caller owns the handle."""
    w = stream_df.writeStream.format("parquet").option("path", path).option(
        "checkpointLocation", checkpoint
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        q = w.trigger(availableNow=True).start()
        _await_drain(q, 300.0 if timeout_s is None else timeout_s,
                     f"stream_to_parquet into {path!r}")
        return q
    return w.start()


def stream_to_delta(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    available_now: bool = True,
    timeout_s: float | None = None,
    app_id: str | None = None,
):
    """Streaming DataFrame → Delta table with IDEMPOTENT micro-batch
    commits: each batch appends through ``to_delta`` and records the
    protocol's ``txn`` action ``{appId, version: batch_id}``; a batch at
    or below the table's last committed version for this app is skipped
    entirely. Spark's checkpoint makes source offsets exactly-once, the
    txn ladder makes the SINK side replay-safe — a crashed-and-restarted
    query (or one whose checkpoint was lost and re-reads from batch 0)
    never duplicates rows. The standard streaming-into-Delta contract,
    jar-free.

    ``app_id`` defaults to a checkpoint-derived id; share it across
    restarts of the same logical pipeline."""
    import os

    from intake_spark.output import to_delta

    app = app_id or f"stream_to_delta:{os.path.abspath(checkpoint)}"
    # Read the ladder ONCE (a full log replay, Spark-parquet-read deep
    # when a checkpoint exists), then track it in memory: foreachBatch is
    # single-threaded per query and this app's txn versions only advance
    # through _commit below, so the cached value stays authoritative for
    # the lifetime of this query. [-2] = not yet loaded.
    last_seen = [-2]

    def _commit(bdf, batch_id: int):
        log = os.path.join(path.rstrip("/"), "_delta_log")
        if last_seen[0] == -2:
            if os.path.isdir(log):
                from intake_spark.lakehouse import delta_log_state

                state = delta_log_state(log, bdf.sparkSession)
                last_seen[0] = (state.get("txns") or {}).get(app, -1)
            else:
                last_seen[0] = -1
        if batch_id <= last_seen[0]:
            return  # already committed by a previous incarnation
        to_delta(
            bdf,
            path,
            mode="append",
            partition_by=partition_by,
            txn=(app, int(batch_id)),
        )
        last_seen[0] = int(batch_id)

    w = stream_df.writeStream.foreachBatch(_commit).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        q = w.trigger(availableNow=True).start()
        _await_drain(q, 300.0 if timeout_s is None else timeout_s,
                     f"stream_to_delta into {path!r}")
        return q
    return w.start()


def stream_winnow_dup_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Streaming winnowing ingestion guard — the fingerprint twin of
    :func:`stream_near_dup_flags`: winnow picks compute mapper-side
    (higher-order expressions, so the fingerprint stage runs unchanged on
    a stream), then one ``applyInPandasWithState`` keyed by fingerprint
    whose state is the first document id that claimed it. Output: one row
    per (doc, fingerprint) with ``is_dup_fp``; a doc is a near-dup if ANY
    fingerprint is flagged. Unlike the banded-MinHash guard, a flagged
    fingerprint LOCALIZES the shared span (winnowing guarantee: every
    exact match of >= window+k-1 tokens shares a pick).

    State: one long per distinct fingerprint — ~2/(window+1) of the
    k-gram count, evictable by timeout where the dup horizon is bounded.
    Batch input degrades to the same flags via a min-id join (used by the
    stream≡batch test)."""
    from intake_spark.llm.dedup import winnow_fingerprints

    fp = winnow_fingerprints(df, id_col, text_col, k, window)
    if not fp.isStreaming:
        # non-numeric ids raise (like the stream arm's int()) instead of
        # silently becoming NULL flags
        idl_try = F.col(id_col).try_cast("long")
        fp = fp.withColumn(
            "_idl",
            F.when(
                idl_try.isNull() & F.col(id_col).isNotNull(),
                F.raise_error(
                    F.concat(
                        F.lit("winnow guard needs numeric ids, got: "),
                        F.col(id_col).cast("string"),
                    )
                ).cast("long"),
            ).otherwise(idl_try),
        )
        firsts = fp.groupBy("fingerprint").agg(F.min("_idl").alias("_first"))
        return fp.join(firsts, "fingerprint").select(
            F.col("_idl").alias("id"),
            "fingerprint",
            (F.col("_idl") > F.col("_first")).cast("int").alias("is_dup_fp"),
        )

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ensure_py_deps(df.sparkSession)

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("fingerprint", T.LongType()),
            T.StructField("is_dup_fp", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("first", T.LongType())])

    def update(key, pdfs, state: GroupState):
        first = state.get[0] if state.exists else None
        ids = []
        for pdf in pdfs:
            ids.extend(int(v) for v in pdf[id_col])
        ids.sort()
        flags = []
        for i in ids:
            # first-CLAIM semantics: once a bucket is claimed, a later
            # arrival can never steal it (overwriting on i < first let a
            # duplicate pair through with NEITHER row flagged)
            if first is None:
                first = i
                flags.append(0)
            else:
                flags.append(1 if i != first else 0)
        state.update((int(first),))
        yield pd.DataFrame(
            {
                "id": ids,
                "fingerprint": [key[0]] * len(ids),
                "is_dup_fp": flags,
            }
        )

    return fp.groupBy("fingerprint").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_semantic_dup_flags(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_seeds: int = 8,
    threshold: float = 0.3,
    seeds: list[tuple[int, list[float]]] | None = None,
    max_state: int | None = None,
) -> DataFrame:
    """Streaming SEMANTIC near-dup ingestion guard — the embedding twin of
    :func:`stream_near_dup_flags`: cluster assignment is a stateless
    literal-seed argmax projection (``llm.similarity.seeded_clusters``), so
    it runs unchanged on a stream; one ``applyInPandasWithState`` keyed by
    ``cluster_id`` then compares each arrival against the cluster's stored
    representative vectors. Output: (id, cluster_id, is_semantic_dup) —
    flagged iff cosine >= threshold against an EARLIER vector of the same
    cluster (arrival order across micro-batches, ascending id within one).

    State: the representative vectors of each cluster. Unbounded by
    default (exact first-seen semantics — matches the batch arm
    row-for-row when ingestion is id-ordered); pass ``max_state`` to keep
    only the first N representatives per cluster, which bounds state at
    O(k * max_state * dim) and degrades gracefully to
    representative-only dedup (SemDeDup keep-policy: earliest ids ARE the
    canonical representatives).

    Streaming input requires explicit ``seeds`` (a stream cannot be
    sampled for them); batch input derives them and degrades to the join
    formulation used by the stream≡batch test."""
    from intake_spark.llm.similarity import seeded_clusters

    if not df.isStreaming:
        assigned = seeded_clusters(df, id_col, vec_col, n_seeds, seeds=seeds)
        # long-cast ids so batch ordering matches the stream arm's numeric
        # sort (native string ids would order lexically)
        a = assigned.select(
            "cluster_id",
            F.col(id_col).cast("long").alias("_oid"),
            F.col(vec_col).cast("array<double>").alias("_ov"),
        )
        if max_state is not None:
            from pyspark.sql.window import Window

            w = Window.partitionBy("cluster_id").orderBy(F.asc("_oid"))
            a = (
                a.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= max_state)
                .drop("_rk")
            )
        from intake_spark.llm.similarity import dot_expr, norm2_expr

        b = assigned.select(
            "cluster_id",
            F.col(id_col).cast("long").alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        dup = (
            b.join(a, "cluster_id")
            .filter(F.col("_oid") < F.col("_id"))
            # guard zero-norm vectors like the stream arm's nv>0/nr>0:
            # under ANSI 0.0/0.0 raises DIVIDE_BY_ZERO (non-ANSI yields
            # NaN, which sorts ABOVE every double and passed >= threshold)
            # — guard INSIDE the expression, a separate filter can be
            # reordered around the projection
            .withColumn(
                "_cos",
                F.when(
                    (norm2_expr("_v") > 0) & (norm2_expr("_ov") > 0),
                    dot_expr("_v", "_ov")
                    / F.sqrt(norm2_expr("_v") * norm2_expr("_ov")),
                ).otherwise(F.lit(-2.0)),
            )
            .filter(F.col("_cos") >= threshold)
            .select(F.col("_id"), F.lit(1).alias("_dup"))
            .distinct()
        )
        return (
            assigned.select("cluster_id", F.col(id_col).cast("long").alias("_id"))
            .join(dup, "_id", "left")
            .select(
                F.col("_id").alias("id"),
                F.col("cluster_id").cast("long").alias("cluster_id"),
                F.coalesce("_dup", F.lit(0)).cast("int").alias("is_semantic_dup"),
            )
        )

    if seeds is None:
        raise ValueError(
            "streaming input requires explicit seeds= (a stream cannot be "
            "collected for seed vectors; derive them from a batch sample)"
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ensure_py_deps(df.sparkSession)

    assigned = seeded_clusters(df, id_col, vec_col, n_seeds, seeds=seeds).select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cluster_id", T.LongType()),
            T.StructField("is_semantic_dup", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("vecs", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            rep_ids = list(state.get[0])
            reps = [np.asarray(v, dtype="float64") for v in state.get[1]]
        else:
            rep_ids, reps = [], []
        rows = []
        for pdf in pdfs:
            for i, v in zip(pdf["_id"], pdf["_v"]):
                rows.append((int(i), np.asarray(list(v), dtype="float64")))
        rows.sort(key=lambda r: r[0])
        out_ids, flags = [], []
        for i, v in rows:
            dup = 0
            nv = float(np.dot(v, v)) ** 0.5
            for rv in reps:
                nr = float(np.dot(rv, rv)) ** 0.5
                if nv > 0 and nr > 0 and float(np.dot(v, rv)) / (nv * nr) >= threshold:
                    dup = 1
                    break
            out_ids.append(i)
            flags.append(dup)
            if max_state is None or len(reps) < max_state:
                rep_ids.append(i)
                reps.append(v)
        state.update((rep_ids, [[float(x) for x in v] for v in reps]))
        yield pd.DataFrame(
            {
                "id": out_ids,
                "cluster_id": [key[0]] * len(out_ids),
                "is_semantic_dup": flags,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _py_shingles(txt, k: int) -> set:
    """Executor-side Python replica of ``dedup.shingles`` semantics
    (split on single space, NO empty-token filter, distinct k-word
    windows) — the ONE definition both stateless ingestion guards map
    with, so a tokenization-parity fix can never reach one guard and
    miss the other."""
    toks = txt.split(" ") if isinstance(txt, str) else []
    if len(toks) < k:
        return set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def stream_decontaminate_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap: int = 1,
    max_reference_shingles: int = 2_000_000,
) -> DataFrame:
    """Streaming decontamination ingestion guard: flag arriving documents
    whose k-gram shingle overlap with a STATIC benchmark set reaches
    ``min_overlap`` — (id, n_shingles, n_overlap, contaminated). The
    stream twin of :func:`intake_spark.llm.assembly.decontaminate` /
    ``contamination_scores``.

    Completely STATELESS: a document's shingles live in its own row, so
    the check is one Arrow-batched mapper — append mode, no watermark,
    no state store, works identically on a batch frame (the parity
    test's arm). The benchmark side is collected once and broadcast
    (the bloom_decontaminate premise, documented there: benchmark sets
    are MBs, not corpus-sized — for a corpus-sized reference use the
    batch anti-join instead).

    Shingling replicates ``dedup.shingles`` exactly (split on single
    space, no empty-token filter, k-word windows) so flags match the
    batch operators row for row.
    """
    import pandas as pd

    from intake_spark.llm.dedup import shingles

    distinct_sh = (
        shingles(benchmark, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .persist()  # counted for the cap, then collected: one scan
    )
    n_ref = distinct_sh.count()
    if n_ref > max_reference_shingles:
        distinct_sh.unpersist()
        raise ValueError(
            f"benchmark has {n_ref} distinct {k}-gram shingles, above the "
            f"max_reference_shingles={max_reference_shingles} broadcast cap "
            "— this guard collects the reference set to the driver and is "
            "meant for MB-sized benchmark suites. For a corpus-sized "
            "reference use the batch anti-join instead: "
            "intake_spark.llm.assembly.decontaminate / "
            "bloom_decontaminate (distributed, never collects). Raise the "
            "cap only if driver memory genuinely allows it."
        )
    rows = distinct_sh.collect()
    distinct_sh.unpersist()
    bench_set = {r["shingle"] for r in rows}
    bc = df.sparkSession.sparkContext.broadcast(bench_set)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"`{id_col}` {id_type}, n_shingles long, n_overlap long, "
        "contaminated int"
    )
    mo = int(min_overlap)

    def run(batches):
        sh_set = bc.value
        for pdf in batches:
            ids, ns, no = [], [], []
            for _id, txt in zip(pdf[id_col], pdf[text_col]):
                ss = _py_shingles(txt, k)
                ids.append(_id)
                ns.append(len(ss))
                no.append(len(ss & sh_set))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_shingles": ns,
                    "n_overlap": no,
                    "contaminated": [int(x >= mo) for x in no],
                }
            )

    return map_in_pandas(df, run, schema)


def stream_incremental_dedup_flags(
    df: DataFrame,
    archive: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_archive_shingles: int = 2_000_000,
) -> DataFrame:
    """Streaming ingestion twin of
    :func:`intake_spark.llm.dedup.incremental_dedup`: flag arriving
    documents whose best exact-Jaccard match against a STATIC archive
    reaches ``threshold`` — (id, match_id, n_common, jaccard_r, keep),
    the same columns and tie-break (highest Jaccard, lowest archive id)
    as the batch operator, verified row-for-row by the parity test.

    STATELESS like the other ingestion guards: the archive's inverted
    shingle index (shingle → carrier ids) plus per-archive-doc shingle
    counts are collected once and broadcast, so the check is one
    Arrow-batched mapper — append mode, no watermark, no state store,
    identical on a batch frame. The broadcast premise is the
    decontaminate/bloom one: REFERENCE sets are MBs; for a corpus-sized
    archive use the batch ``incremental_dedup`` anti-screen instead
    (its shingle join never collects anything).
    """
    import math

    import pandas as pd

    from intake_spark.llm.dedup import shingles

    # persisted: counted for the cap, then collected — one scan
    arch_sh = shingles(archive, id_col, text_col, k).persist()
    n_arch = arch_sh.count()
    if n_arch > max_archive_shingles:
        arch_sh.unpersist()
        raise ValueError(
            f"archive expands to {n_arch} {k}-gram shingle rows, above the "
            f"max_archive_shingles={max_archive_shingles} broadcast cap — "
            "this guard collects the archive's inverted index to the "
            "driver and is meant for MB-sized reference archives. For a "
            "corpus-sized archive use the batch "
            "intake_spark.llm.dedup.incremental_dedup anti-screen instead "
            "(its shingle join never collects anything). Raise the cap "
            "only if driver memory genuinely allows it."
        )
    arch_rows = arch_sh.collect()
    arch_sh.unpersist()
    index: dict = {}
    counts: dict = {}
    for r in arch_rows:
        index.setdefault(r["shingle"], []).append(r[id_col])
        counts[r[id_col]] = counts.get(r[id_col], 0) + 1
    bc = df.sparkSession.sparkContext.broadcast((index, counts))
    id_type = df.schema[id_col].dataType.simpleString()
    # match_id carries ARCHIVE ids — type it from the archive side (a
    # string-id stream screened against a bigint-id archive would
    # otherwise fail Arrow conversion on the first match)
    match_type = archive.schema[id_col].dataType.simpleString()
    schema = (
        f"`{id_col}` {id_type}, match_id {match_type}, n_common long, "
        "jaccard_r double, keep int"
    )
    thr = float(threshold)

    def run(batches):
        idx, cnt = bc.value
        for pdf in batches:
            ids, mids, ncs, js, keeps = [], [], [], [], []
            for _id, txt in zip(pdf[id_col], pdf[text_col]):
                ss = _py_shingles(txt, k)
                common: dict = {}
                for s in ss:
                    for aid in idx.get(s, ()):
                        common[aid] = common.get(aid, 0) + 1
                best = None
                for aid, c in common.items():
                    j = c / (len(ss) + cnt[aid] - c)
                    # highest Jaccard, ties to the LOWEST archive id —
                    # the batch operator's window order
                    key = (-j, aid)
                    if best is None or key < best[0]:
                        best = (key, aid, c, j)
                ids.append(_id)
                if best is None:
                    mids.append(None)
                    ncs.append(0)
                    js.append(None)
                    keeps.append(1)
                else:
                    _, aid, c, j = best
                    mids.append(aid)
                    ncs.append(c)
                    # HALF_UP like Spark's F.round (Python round() is
                    # banker's and would flip ...5 boundary values); j >= 0
                    js.append(math.floor(j * 1e6 + 0.5) / 1e6)
                    keeps.append(int(j < thr))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "match_id": pd.array(mids, dtype="Int64")
                    if match_type in ("bigint", "int", "smallint", "tinyint")
                    else mids,
                    "n_common": ncs,
                    "jaccard_r": pd.array(js, dtype="float64"),
                    "keep": keeps,
                }
            )

    return map_in_pandas(df, run, schema)
