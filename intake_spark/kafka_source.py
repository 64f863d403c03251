"""``kafka_wire`` — a PySpark Python DataSource (Spark 4 API) over the
stdlib Kafka wire client (:mod:`intake_spark.wire`).

This is the idiomatic Spark-4 way to add a source without a JVM
connector: ``spark.dataSource.register(KafkaWireDataSource)`` then
``spark.read.format("kafka_wire")`` / ``spark.readStream.format(
"kafka_wire")``. The planner calls run DRIVER-side (Metadata +
ListOffsets — partition-count-sized), and ``read()`` runs ON EXECUTORS,
one socket per input partition, every record batch CRC32C-verified —
the same per-partition parallelism and exactly-once offset-range
semantics the JVM Kafka connector uses (microbatch offsets are plain
``{partition: next_offset}`` dicts, checkpointed by Structured
Streaming).

Used by ``readers.SparkKafkaBatch`` and ``streaming.KafkaStream`` as
the fallback when the connector jar is absent (reference surface:
KafkaReader, reference readers.py:3192-3235). PLAINTEXT only — SASL/TLS
deployments need the JVM connector, and the readers say so.

Options: ``kafka.bootstrap.servers`` (or ``url``), ``subscribe`` (one
topic), ``startingOffsets`` ('earliest'|'latest'|JSON, default
earliest), ``endingOffsets`` (batch only), ``maxBytesPerFetch``.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

# module-level so planner methods reference it as a global: the streaming
# source runner worker does NOT receive addPyFile includes (unlike batch
# planner + executor workers), so register_kafka_wire() pickles this
# module BY VALUE — runtime `from intake_spark...` imports inside planner
# methods would defeat that
from intake_spark.wire import KafkaWireClient

KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)


class _FetchRange(InputPartition):
    def __init__(self, host, port, topic, partition, start, end, max_bytes):
        self.host = host
        self.port = port
        self.topic = topic
        self.partition = partition
        self.start = start
        self.end = end
        self.max_bytes = max_bytes


def _read_range(part: _FetchRange):
    """Executor-side fetch loop: one socket, bounded offset range."""
    import datetime as _dt

    if part.end <= part.start:
        return
    cli = KafkaWireClient(part.host, part.port)
    try:
        for rec in cli.read_partition(
            part.topic, part.partition, part.start, part.end,
            max_bytes=part.max_bytes,
        ):
            yield (
                rec["key"],
                rec["value"],
                part.topic,
                part.partition,
                rec["offset"],
                # tz-AWARE: Kafka timestamps are instants; a naive
                # datetime would be re-interpreted in the session
                # timezone, shifting values vs the JVM connector
                # whenever spark.sql.session.timeZone is not UTC
                _dt.datetime.fromtimestamp(
                    rec["timestamp"] / 1000.0, _dt.timezone.utc
                ),
                0,  # CreateTime, matching the JVM connector's column
            )
    finally:
        cli.close()


class _WirePlanner:
    """Driver-side planning shared by the batch and stream readers."""

    _KNOWN_OPTIONS = {
        "kafka.bootstrap.servers", "url", "subscribe", "startingoffsets",
        "endingoffsets", "maxbytesperfetch",
    }

    def __init__(self, options, cache_leaders: bool = False):
        # cache_leaders: a BATCH read's planner lives for one bounded
        # read, so one Metadata call serves resolve()+ranges() (5
        # connections -> 3); the STREAM reader keeps per-call freshness
        # so broker failover is re-discovered each microbatch
        self._leader_cache: "dict[int, tuple[str, int]] | None" = None
        self._cache_leaders = cache_leaders
        self.url = options.get("kafka.bootstrap.servers") or options.get(
            "url"
        )
        self.topic = options.get("subscribe")
        if not self.url or not self.topic:
            raise ValueError(
                "kafka_wire: 'kafka.bootstrap.servers' (or 'url') and "
                "'subscribe' options are required"
            )
        unknown = sorted(
            k for k in options if k.lower() not in self._KNOWN_OPTIONS
        )
        if unknown:
            # silently ignoring connector options (failOnDataLoss,
            # kafka.security.protocol, ...) would change semantics
            raise ValueError(
                f"kafka_wire does not support options {unknown}; use the "
                "JVM Kafka connector for them"
            )
        self.max_bytes = int(options.get("maxBytesPerFetch", 1 << 20))

    def _leaders(self):
        """{partition: (host, port)} via Metadata on a bootstrap node."""
        if self._leader_cache is not None:
            return self._leader_cache
        cli = KafkaWireClient.from_url(self.url)
        try:
            cli.api_versions()
            brokers, parts = cli.metadata(self.topic)
            out = {pid: brokers[leader] for pid, leader in parts.items()}
        finally:
            cli.close()
        if self._cache_leaders:
            self._leader_cache = out
        return out

    def offsets(self, timestamp: int) -> "dict[str, int]":
        """ListOffsets per partition: -2 earliest, -1 latest. String
        keys — microbatch offsets must round-trip through JSON."""
        out: dict[str, int] = {}
        clients: dict[tuple, KafkaWireClient] = {}
        try:
            for pid, hp in sorted(self._leaders().items()):
                if hp not in clients:
                    clients[hp] = KafkaWireClient(*hp)
                out[str(pid)] = clients[hp].list_offsets(
                    self.topic, pid, timestamp
                )
        finally:
            for c in clients.values():
                c.close()
        return out

    def resolve(self, spec: str, default_ts: int) -> "dict[str, int]":
        import json

        if spec in ("earliest", "latest", None):
            return self.offsets(-2 if spec == "earliest" else (
                -1 if spec == "latest" else default_ts))
        explicit = {str(p): int(o)
                    for p, o in json.loads(spec)[self.topic].items()}
        # one ListOffsets sweep per special value, indexed per partition
        # (a sweep per partition would be O(P^2) broker round trips)
        special = {
            ts: self.offsets(ts)
            for ts in {o for o in explicit.values() if o in (-1, -2)}
        }
        return {pid: (special[off][pid] if off in (-1, -2) else off)
                for pid, off in explicit.items()}

    def ranges(self, start: "dict[str, int]", end: "dict[str, int]",
               missing_start: "int | None" = None):
        """``missing_start``: offset to use for partitions present in
        ``end`` but absent from ``start`` — the STREAM reader passes 0
        so a partition added to the topic mid-stream is read from its
        beginning (the JVM connector's behavior) instead of silently
        skipped forever; batch explicit-offset reads keep the skip
        (None), since there the omission was the caller's choice."""
        leaders = self._leaders()
        parts = []
        for pid_s, end_off in sorted(end.items(), key=lambda kv: int(kv[0])):
            pid = int(pid_s)
            if pid not in leaders:
                continue
            if pid_s not in start and missing_start is None:
                continue  # partition absent from an explicit offsets dict
            host, port = leaders[pid]
            parts.append(_FetchRange(
                host, port, self.topic, pid,
                start.get(pid_s, missing_start), end_off, self.max_bytes,
            ))
        return parts


class KafkaWireBatchReader(DataSourceReader):
    def __init__(self, options):
        self._planner = _WirePlanner(options, cache_leaders=True)
        self._start = self._planner.resolve(
            options.get("startingOffsets", "earliest"), -2
        )
        self._end = self._planner.resolve(
            options.get("endingOffsets", "latest"), -1
        )

    def partitions(self):
        return self._planner.ranges(self._start, self._end)

    def read(self, partition):
        yield from _read_range(partition)


class KafkaWireStreamReader(DataSourceStreamReader):
    """Microbatch offsets are ``{partition: next_offset}`` dicts —
    identical in meaning to the JVM connector's checkpointed offsets, so
    restart-from-checkpoint resumes exactly where the last batch ended."""

    def __init__(self, options):
        self._planner = _WirePlanner(options)
        self._starting = options.get("startingOffsets", "earliest")

    def initialOffset(self) -> dict:
        return self._planner.resolve(self._starting, -2)

    def latestOffset(self) -> dict:
        return self._planner.offsets(-1)

    def partitions(self, start: dict, end: dict):
        # missing_start=0: partitions created after the stream began are
        # read from their beginning, matching the JVM connector
        return self._planner.ranges(start, end, missing_start=0)

    def read(self, partition):
        yield from _read_range(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the streaming checkpoint, not the broker

    def stop(self) -> None:
        pass


class KafkaWireDataSource(DataSource):
    """Register with ``spark.dataSource.register(KafkaWireDataSource)``;
    then ``format("kafka_wire")`` works for both read and readStream."""

    @classmethod
    def name(cls) -> str:
        return "kafka_wire"

    def schema(self) -> str:
        return KAFKA_SCHEMA

    def reader(self, schema) -> KafkaWireBatchReader:
        return KafkaWireBatchReader(self.options)

    def streamReader(self, schema) -> KafkaWireStreamReader:
        return KafkaWireStreamReader(self.options)


def register_kafka_wire(spark) -> None:
    """Idempotent registration + executor package shipping.

    Two transports make the source importable everywhere it runs:
    ``ensure_py_deps`` ships the package zip to batch planner + executor
    workers (addPyFile), and cloudpickle BY-VALUE registration of this
    module and the engine modules it reaches (:mod:`intake_spark.wire`
    and the codecs it imports from :mod:`intake_spark.compress`) covers
    the streaming source runner — a separate long-lived Python process
    that does NOT receive addPyFile includes, so a by-reference pickle of
    any of them would die there with ModuleNotFoundError."""
    import sys

    from pyspark import cloudpickle

    from intake_spark import compress, wire
    from intake_spark.session import ensure_py_deps

    ensure_py_deps(spark)
    for module in (sys.modules[__name__], wire, compress):
        cloudpickle.register_pickle_by_value(module)
    spark.dataSource.register(KafkaWireDataSource)
