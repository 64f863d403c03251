"""Protocol-level tests for the stdlib Redis/Mongo/MQTT wire clients
(intake_spark/wire.py) and the readers on top of them: an in-process
loopback socket server speaks REAL RESP2 / OP_MSG+BSON / MQTT-3.1.1
bytes to the reader's unmodified network path — upgrading these
connectors from injected-mock to wire-protocol-tested (no
redis/pymongo/mongo-spark/paho in this environment)."""

from __future__ import annotations

import fnmatch
import socket
import struct
import threading

import pytest

from intake_spark.wire import (
    BsonInt64,
    MongoWireClient,
    RespClient,
    RespError,
    bson_decode,
    bson_encode,
)

# --------------------------------------------------------------------------
# loopback servers: the product-side fixture servers (intake_spark/
# loopback.py — also driven by q142); aliased to the old names
# --------------------------------------------------------------------------

from intake_spark.loopback import (  # noqa: E402
    LoopbackMongo as FakeMongo,
    LoopbackMqtt as FakeMqttBroker,
    LoopbackRedis as FakeRedis,
)

# --------------------------------------------------------------------------
# BSON codec
# --------------------------------------------------------------------------


def test_bson_roundtrip_all_types():
    doc = {
        "s": "héllo",
        "i32": 42,
        "neg": -7,
        "i64": 2**40,
        "forced": BsonInt64(5),
        "f": 3.25,
        "t": True,
        "fa": False,
        "none": None,
        "sub": {"a": 1, "b": [1, "two", {"c": None}]},
        "bin": b"\x00\x01\xff",
    }
    out, end = bson_decode(bson_encode(doc))
    assert end == len(bson_encode(doc))
    assert out["s"] == "héllo" and out["i32"] == 42 and out["neg"] == -7
    assert out["i64"] == 2**40 and out["forced"] == 5
    assert out["f"] == 3.25 and out["t"] is True and out["fa"] is False
    assert out["none"] is None
    assert out["sub"] == {"a": 1, "b": [1, "two", {"c": None}]}
    assert out["bin"] == b"\x00\x01\xff"
    # int64 stays typed so cursor ids survive a decode->reencode hop
    assert isinstance(out["i64"], BsonInt64)


def test_bson_objectid_decodes_to_hex():
    oid = bytes(range(12))
    raw = (struct.pack("<i", 4 + 1 + 4 + 12 + 1) + b"\x07_id\x00" + oid
           + b"\x00")
    doc, _ = bson_decode(raw)
    assert doc["_id"] == oid.hex()


# --------------------------------------------------------------------------
# RESP2
# --------------------------------------------------------------------------


def test_resp_client_scan_get():
    srv = FakeRedis({b"user:1": b"ada", b"user:2": b"bob",
                     b"cfg:x": b"1", b"user:3": b"eve"})
    c = RespClient("127.0.0.1", srv.port, db=2)
    keys = sorted(c.scan_keys(pattern="user:*"))
    assert keys == [b"user:1", b"user:2", b"user:3"]
    assert c.get(b"user:1") == b"ada"
    assert c.get(b"missing") is None  # null bulk
    assert c.type(b"user:1") == b"string"
    with pytest.raises(RespError, match="unknown command"):
        c.command("NOPE")
    c.close()
    # SELECT 2 went over the wire first (db from the URL path)
    assert srv.commands[0] == [b"SELECT", b"2"]
    # the cursor walk issued (at least) two SCANs
    assert sum(1 for a in srv.commands if a[0] == b"SCAN") >= 2


def test_redis_reader_over_wire(spark):
    from intake_spark.services import RedisReader, RedisService

    srv = FakeRedis({b"doc:1": b"alpha", b"doc:2": b"beta",
                     b"other": b"zzz"})
    rdr = RedisReader(data=RedisService(
        f"redis://127.0.0.1:{srv.port}/0", pattern="doc:*"
    ))
    rows = {r.key: r.value for r in rdr.read(spark=spark).collect()}
    assert rows == {"doc:1": "alpha", "doc:2": "beta"}


# --------------------------------------------------------------------------
# Mongo OP_MSG
# --------------------------------------------------------------------------

DOCS = [
    {"_id": i, "name": f"n{i}", "score": float(i) / 2, "ok": i % 2 == 0}
    for i in range(5)
]


def test_mongo_wire_find_getmore():
    srv = FakeMongo(DOCS, batch=2)
    c = MongoWireClient("127.0.0.1", srv.port)
    got = list(c.find("testdb", "things"))
    c.close()
    assert [d["_id"] for d in got] == [0, 1, 2, 3, 4]
    assert got[3]["name"] == "n3" and got[3]["score"] == 1.5
    finds = [c_ for c_ in srv.commands if "find" in c_]
    mores = [c_ for c_ in srv.commands if "getMore" in c_]
    assert len(finds) == 1 and finds[0]["$db"] == "testdb"
    assert len(mores) >= 1  # the >int32 cursor id went back as int64


def test_mongo_wire_filter_and_error():
    srv = FakeMongo(DOCS[:1])
    c = MongoWireClient("127.0.0.1", srv.port)
    list(c.find("db", "coll", filter={"name": "n0"}))
    assert srv.commands[0]["filter"] == {"name": "n0"}
    with pytest.raises(RuntimeError, match="command failed"):
        c.run_command({"ping": 1, "$db": "admin"})
    c.close()


def test_mongo_reader_over_wire(spark):
    from intake_spark.services import MongoDBReader, MongoDBService

    srv = FakeMongo(DOCS, batch=2)
    rdr = MongoDBReader(data=MongoDBService(
        f"mongodb://127.0.0.1:{srv.port}", database="testdb",
        collection="things",
    ))
    df = rdr.read(spark=spark)
    rows = sorted(df.collect(), key=lambda r: r._id)
    assert [r._id for r in rows] == [0, 1, 2, 3, 4]
    assert rows[2].name == "n2"


def test_mongo_reader_max_rows_guard(spark):
    from intake_spark.services import MongoDBReader, MongoDBService

    srv = FakeMongo(DOCS, batch=2)
    rdr = MongoDBReader(data=MongoDBService(
        f"mongodb://127.0.0.1:{srv.port}", database="testdb",
        collection="things",
    ))
    with pytest.raises(ValueError, match="mongo-spark"):
        rdr.read(spark=spark, max_rows=3)


# --------------------------------------------------------------------------
# MQTT 3.1.1
# --------------------------------------------------------------------------


# FakeMqttBroker is the product-side LoopbackMqtt (imported above) —
# a local duplicate here once shadowed the import and let the
# product server drift untested (r11 review finding).


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n % 128
        n //= 128
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def test_mqtt_wire_subscribe_receive():
    from intake_spark.wire import MqttWireClient

    msgs = [("sensors/a", b"1.5"), ("sensors/b", b"2.5"),
            ("sensors/a", b"3.5")]
    broker = FakeMqttBroker(msgs)
    c = MqttWireClient("127.0.0.1", broker.port)
    c.subscribe("sensors/#")
    got = list(c.messages(3, timeout_s=10))
    c.close()
    assert got == [(t, p) for t, p in msgs]
    assert ("subscribe", "sensors/#") in broker.events
    assert ("puback", 42) in broker.events  # QoS-1 message acknowledged


def test_mqtt_reader_over_wire(spark):
    from intake_spark.services import MQTTReader, MQTTTopic

    broker = FakeMqttBroker([("t/x", b"hello"), ("t/y", b"world")])
    rdr = MQTTReader(data=MQTTTopic(
        f"tcp://127.0.0.1:{broker.port}", topic="t/#"
    ))
    rows = sorted(
        (r.topic, r.payload)
        for r in rdr.read(spark=spark, n_messages=2, timeout_s=10).collect()
    )
    assert rows == [("t/x", "hello"), ("t/y", "world")]


def test_mqtt_timeout_returns_partial():
    """A quiet topic returns what arrived before the deadline instead
    of hanging."""
    import time

    from intake_spark.wire import MqttWireClient

    broker = FakeMqttBroker([("t/only", b"one")])
    c = MqttWireClient("127.0.0.1", broker.port)
    c.subscribe("t/#")
    t0 = time.monotonic()
    got = list(c.messages(5, timeout_s=1.0))
    took = time.monotonic() - t0
    c.close()
    assert got == [("t/only", b"one")]
    assert took < 5


def test_mqtt_publish_before_suback_is_buffered():
    """MQTT 3.1.1 §3.8.4: the server may deliver matching PUBLISHes
    (typically retained messages) BEFORE the SUBACK; they must be
    buffered and yielded first, not treated as a protocol error."""
    from intake_spark.wire import MqttWireClient, read_mqtt_packet

    class EagerBroker(FakeMqttBroker):
        def _serve_conn(self, stream):
            ptype, body = read_mqtt_packet(stream)
            assert ptype == 0x10
            stream.send(b"\x20\x02\x00\x00")
            ptype, body = read_mqtt_packet(stream)
            assert ptype == 0x82
            pid = struct.unpack(">H", body[:2])[0]
            # retained message FIRST, then the SUBACK
            t = b"t/retained"
            var = struct.pack(">H", len(t)) + t + b"old"
            stream.send(b"\x30" + _varint(len(var)) + var)
            stream.send(b"\x90\x03" + struct.pack(">H", pid) + b"\x00")
            t = b"t/live"
            var = struct.pack(">H", len(t)) + t + b"new"
            stream.send(b"\x30" + _varint(len(var)) + var)
            read_mqtt_packet(stream)  # hold for DISCONNECT

    broker = EagerBroker([])
    c = MqttWireClient("127.0.0.1", broker.port)
    c.subscribe("t/#")
    got = list(c.messages(2, timeout_s=10))
    c.close()
    assert got == [("t/retained", b"old"), ("t/live", b"new")]


def test_mqtt_timeout_is_hard_deadline():
    """A slow-but-steady topic must still return at the deadline — the
    timeout bounds the whole batch, not each packet gap."""
    import time

    from intake_spark.wire import MqttWireClient, read_mqtt_packet

    class TrickleBroker(FakeMqttBroker):
        def _serve_conn(self, stream):
            read_mqtt_packet(stream)
            stream.send(b"\x20\x02\x00\x00")
            ptype, body = read_mqtt_packet(stream)
            pid = struct.unpack(">H", body[:2])[0]
            stream.send(b"\x90\x03" + struct.pack(">H", pid) + b"\x00")
            t = b"t/slow"
            for _i in range(100):
                var = struct.pack(">H", len(t)) + t + b"x"
                stream.send(b"\x30" + _varint(len(var)) + var)
                time.sleep(0.25)

    broker = TrickleBroker([])
    c = MqttWireClient("127.0.0.1", broker.port)
    c.subscribe("t/#")
    t0 = time.monotonic()
    got = list(c.messages(100, timeout_s=1.0))
    took = time.monotonic() - t0
    c.close()
    assert took < 2.5, took  # hard deadline, not 100 * 0.25s
    assert 1 <= len(got) <= 8


def test_resp_from_url_query_and_ipv6():
    """redis URLs with query params, trailing paths, or bracketed IPv6
    hosts parse instead of crashing int() (found in the r11 review)."""
    from urllib.parse import urlsplit

    from intake_spark.wire import RespClient

    srv = FakeRedis({b"k": b"v"})
    c = RespClient.from_url(f"redis://127.0.0.1:{srv.port}/2?socket_timeout=5")
    assert c.get(b"k") == b"v"
    c.close()
    assert srv.commands[0] == [b"SELECT", b"2"]
    # IPv6 parse (no listener needed — just check the split)
    u = urlsplit("redis://[::1]:7000/1")
    assert (u.hostname, u.port) == ("::1", 7000)


# --------------------------------------------------------------------------
# one socket-stream layer: wire.Stream reads, loopback._Listener accepts
# --------------------------------------------------------------------------


def _new_threads(before: set, wait_s: float) -> set:
    import time

    deadline = time.monotonic() + wait_s
    while (left := set(threading.enumerate()) - before) and (
            time.monotonic() < deadline):
        time.sleep(0.02)
    return left


@pytest.mark.parametrize("make, cut", [
    pytest.param(lambda: FakeMongo([]),
                 struct.pack("<i", 100) + bytes(10), id="mongo-body"),
    pytest.param(lambda: FakeMqttBroker([]), b"\x10\xff",
                 id="mqtt-remaining-length"),
    pytest.param(lambda: FakeMqttBroker([]), b"\x10\x64" + bytes(10),
                 id="mqtt-body"),
    pytest.param(lambda: FakeRedis({}), b"*2\r\n$3\r\nGE",
                 id="redis-bulk-string"),
])
def test_loopback_server_ends_quietly_on_a_cut_request(make, cut,
                                                       monkeypatch):
    """A client that sends part of a request and hangs up ends the
    server's conversation: no thread keeps spinning on a closed socket,
    and none dies with an exception."""
    raised: list = []
    monkeypatch.setattr(threading, "excepthook", raised.append)
    before = set(threading.enumerate())
    srv = make()
    with socket.create_connection(("127.0.0.1", srv.port), timeout=5) as c:
        c.sendall(cut)
    assert not _new_threads(before, 2.0)
    assert not raised


def test_unbounded_listener_stops_on_close():
    """``max_conns=None`` serves until ``close()``, and ``close()`` ends
    the accept loop and frees the port."""
    from intake_spark.loopback import LoopbackKafka

    before = set(threading.enumerate())
    srv = LoopbackKafka({"t": [[]]}, max_conns=None)
    srv.close()
    assert not _new_threads(before, 2.0)
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", srv.port), timeout=5)


def test_stream_read_is_exact_and_names_the_protocol():
    from intake_spark.wire import Stream

    a, b = socket.socketpair()
    s = Stream(a, "demo")
    b.sendall(b"abc\r\nxy")
    b.close()
    assert s.readline() == b"abc\r\n"
    with pytest.raises(ConnectionError, match="demo: connection closed"):
        s.read(3)
    s.close()


# (module, outermost class or function) that may touch a raw socket
_SOCKET_READS = {"recv", "recv_into", "makefile", "create_connection"}
_SOCKET_ACCEPTS = {"socket", "accept"}
_SOCKET_OWNERS = {
    ("wire.py", "Stream"): _SOCKET_READS,
    ("loopback.py", "_Listener"): _SOCKET_ACCEPTS,
    # deadline-driven frame loop over an injectable sendall/recv object
    ("services.py", "WebSocketReader"): _SOCKET_READS,
}


def stray_socket_sites(sources) -> set:
    """(module, outermost class or function, call) of every raw socket
    read, connect, listen or accept (a call of one of those names, as a
    method or bare) outside its owner."""
    import ast

    hits = set()
    for rel, tree in sources:
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            allowed = _SOCKET_OWNERS.get((rel, owner), set())
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                f = n.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None)
                if name in (_SOCKET_READS | _SOCKET_ACCEPTS) - allowed:
                    hits.add((rel, owner, name))
    return hits


def test_one_socket_stream_and_one_accept_loop():
    """Only ``wire.Stream`` reads or connects a socket and only
    ``loopback._Listener`` listens and accepts; the WebSocket reader's
    frame loop is the named exception."""
    from tests.test_codecs import _engine_sources

    assert not stray_socket_sites(_engine_sources())


def test_socket_guard_catches_a_hand_rolled_reader():
    """The guard sees a copied client, a copied server, and a class that
    borrows the owner's name in another module."""
    import ast

    mutant = ast.parse('''
import socket
class CopiedClient:
    def __init__(self, host, port):
        self._sock = socket.create_connection((host, port))
    def _recv_exact(self, n):
        out = b""
        while len(out) < n:
            out += self._sock.recv(n - len(out))
        return out
class CopiedServer:
    def __init__(self):
        self._srv = socket.socket()
    def _serve(self):
        conn, _ = self._srv.accept()
        return conn.makefile("rb")
class Stream:
    def read(self, n):
        return self.sock.recv(n)
''')
    assert stray_socket_sites([("mutant.py", mutant)]) == {
        ("mutant.py", "CopiedClient", "create_connection"),
        ("mutant.py", "CopiedClient", "recv"),
        ("mutant.py", "CopiedServer", "socket"),
        ("mutant.py", "CopiedServer", "accept"),
        ("mutant.py", "CopiedServer", "makefile"),
        ("mutant.py", "Stream", "recv"),
    }


# --------------------------------------------------------------------------
# Arrow Flight (REAL gRPC via pyarrow.flight's own server) + ES REST scroll
# --------------------------------------------------------------------------


def test_arrow_flight_reader_live(spark):
    """ArrowFlightReader against an actual pyarrow FlightServer — real
    gRPC over a loopback port, no mocks anywhere."""
    import pyarrow as pa
    import pyarrow.flight as fl

    table = pa.table({"i": list(range(10)), "v": [x * 2.5 for x in range(10)]})

    class Server(fl.FlightServerBase):
        def do_get(self, context, ticket):
            assert ticket.ticket == b"things"
            return fl.RecordBatchStream(table)

    from intake_spark.services import ArrowFlightReader, ArrowFlightService

    with Server("grpc://127.0.0.1:0") as server:
        rdr = ArrowFlightReader(data=ArrowFlightService(
            f"grpc://127.0.0.1:{server.port}", path="things"
        ))
        df = rdr.read(spark=spark)
        rows = sorted((r.i, r.v) for r in df.collect())
        assert rows == [(x, x * 2.5) for x in range(10)]


class FakeElasticsearch:
    """HTTP server speaking the _search?scroll / _search/scroll REST
    protocol: pages of 2 hits, scroll_id round-trip enforced."""

    def __init__(self, docs: list[dict]):
        import http.server
        import json as _json

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = _json.loads(self.rfile.read(n) or b"{}")
                outer.requests.append((self.path, body))
                if self.path.startswith("/idx/_search"):
                    outer.pos = min(2, len(docs))
                    outer.last_q = body.get("query")
                    hits = docs[: outer.pos]
                elif self.path == "/_search/scroll":
                    assert body.get("scroll_id") == "SCROLL-1", body
                    nxt = docs[outer.pos : outer.pos + 2]
                    outer.pos += len(nxt)
                    hits = nxt
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                payload = _json.dumps({
                    "_scroll_id": "SCROLL-1",
                    "hits": {"hits": [
                        {"_id": str(d["i"]), "_source": d} for d in hits
                    ]},
                }).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):
                pass

        self.requests: list = []
        self.pos = 0
        self.last_q = None
        self._httpd = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        threading.Thread(target=self._httpd.serve_forever,
                         daemon=True).start()

    def close(self):
        self._httpd.shutdown()


def test_elasticsearch_rest_scroll_fallback(spark):
    from intake_spark.services import ElasticsearchReader, ElasticsearchService

    docs = [{"i": i, "name": f"n{i}"} for i in range(5)]
    srv = FakeElasticsearch(docs)
    try:
        rdr = ElasticsearchReader(data=ElasticsearchService(
            f"http://127.0.0.1:{srv.port}", index="idx"
        ))
        df = rdr.read(spark=spark)
        rows = sorted((int(r._id), r.i, r.name) for r in df.collect())
        assert rows == [(i, i, f"n{i}") for i in range(5)]
        # three pages: initial search + two scroll continuations + the
        # empty terminator
        assert sum(p == "/_search/scroll" for p, _ in srv.requests) >= 2
    finally:
        srv.close()


def test_elasticsearch_rest_query_and_guard(spark):
    from intake_spark.services import ElasticsearchReader, ElasticsearchService

    docs = [{"i": i} for i in range(6)]
    srv = FakeElasticsearch(docs)
    try:
        rdr = ElasticsearchReader(data=ElasticsearchService(
            f"http://127.0.0.1:{srv.port}", index="idx",
            query='{"query": {"term": {"i": 1}}}',
        ))
        rdr.read(spark=spark).collect()
        assert srv.last_q == {"term": {"i": 1}}  # DSL passed through
    finally:
        srv.close()
    srv2 = FakeElasticsearch(docs)
    try:
        rdr = ElasticsearchReader(data=ElasticsearchService(
            f"http://127.0.0.1:{srv2.port}", index="idx"
        ))
        with pytest.raises(ValueError, match="elasticsearch-hadoop"):
            rdr.read(spark=spark, max_rows=3)
    finally:
        srv2.close()


# --------------------------------------------------------------------------
# REST connectors over a live loopback HTTP server (their wire protocol
# IS HTTP+JSON, so these are protocol tests, not mocks)
# --------------------------------------------------------------------------


class JsonHttp:
    """Loopback HTTP server mapping path-prefixes to handler callables
    returning JSON-able payloads; records every request path."""

    def __init__(self, routes):
        import http.server
        import json as _json
        from urllib.parse import urlsplit

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                outer.requests.append(self.path)
                u = urlsplit(self.path)
                for prefix, fn in routes.items():
                    if u.path.startswith(prefix):
                        payload = _json.dumps(fn(u)).encode()
                        self.send_response(200)
                        self.send_header("Content-Type", "application/json")
                        self.send_header("Content-Length", str(len(payload)))
                        self.end_headers()
                        self.wfile.write(payload)
                        return
                self.send_response(404)
                self.end_headers()

            def log_message(self, *a):
                pass

        self.requests: list = []
        self._httpd = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        threading.Thread(target=self._httpd.serve_forever,
                         daemon=True).start()

    def close(self):
        self._httpd.shutdown()


def test_prometheus_reader_over_http(spark):
    from urllib.parse import parse_qs

    from intake_spark.services import Prometheus, PrometheusMetricReader

    def query_range(u):
        qs = parse_qs(u.query)
        assert qs["query"] == ["up"]
        assert int(qs["end"][0]) - int(qs["start"][0]) == 3600
        return {"data": {"result": [
            {"metric": {"job": "api"}, "values": [[1000.0, "1"],
                                                  [1060.0, "0"]]},
            {"metric": {"job": "db"}, "values": [[1000.0, "1"]]},
        ]}}

    srv = JsonHttp({"/api/v1/query_range": query_range})
    try:
        rdr = PrometheusMetricReader(data=Prometheus(
            f"http://127.0.0.1:{srv.port}", query="up"))
        rows = rdr.read(spark=spark).collect()
        assert len(rows) == 3
        assert {r.value for r in rows} == {0.0, 1.0}
        assert any('"job": "api"' in r.metric for r in rows)
    finally:
        srv.close()


def test_socrata_reader_over_http(spark):
    from urllib.parse import parse_qs

    from intake_spark.services import SocrataReader, SocrataService

    def resource(u):
        qs = parse_qs(u.query)
        offset = int(qs["$offset"][0])
        limit = int(qs["$limit"][0])
        all_rows = [{"id": str(i), "val": i * 3} for i in range(5)]
        return all_rows[offset : offset + limit]

    srv = JsonHttp({"/resource/abcd-1234.json": resource})
    try:
        rdr = SocrataReader(data=SocrataService(
            f"http://127.0.0.1:{srv.port}", dataset_id="abcd-1234"))
        rows = sorted(
            (int(r.id), int(r.val))
            for r in rdr.read(spark=spark, page_size=2).collect()
        )
        assert rows == [(i, i * 3) for i in range(5)]
        # 2+2+1 rows at page_size=2 -> three pages requested
        assert sum("$offset" in p for p in srv.requests) == 3
    finally:
        srv.close()


def test_ogc_features_reader_over_http(spark):
    import json as _json

    from intake_spark.services import OGCAPIFeatures, OGCAPIFeaturesReader

    state = {}

    def items(u):
        page = int(dict(
            kv.split("=") for kv in u.query.split("&") if "=" in kv
        ).get("page", 0))
        feats = [{
            "id": f"f{page}-{i}",
            "geometry": {"type": "Point", "coordinates": [page, i]},
            "properties": {"p": page},
        } for i in range(2)]
        links = []
        if page < 1:
            links = [{"rel": "next",
                      "href": f"http://127.0.0.1:{state['port']}"
                              f"/collections/roads/items?f=json&page=1"}]
        return {"features": feats, "links": links}

    srv = JsonHttp({"/collections/roads/items": items})
    state["port"] = srv.port
    try:
        rdr = OGCAPIFeaturesReader(data=OGCAPIFeatures(
            f"http://127.0.0.1:{srv.port}", collection="roads"))
        rows = rdr.read(spark=spark).collect()
        assert len(rows) == 4  # two pages, next-link followed
        geo = _json.loads(rows[0].geometry)
        assert geo["type"] == "Point"
        assert {r.id for r in rows} == {"f0-0", "f0-1", "f1-0", "f1-1"}
    finally:
        srv.close()


def test_influxdb_reader_over_http(spark):
    """InfluxDB v2 Flux-over-HTTP: the reader POSTs application/vnd.flux
    and parses the annotated-CSV reply — driven over a live loopback
    HTTP server (the v2 API's real wire format)."""
    import http.server

    got = {}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            got["flux"] = self.rfile.read(n).decode()
            got["auth"] = self.headers.get("Authorization")
            got["path"] = self.path
            body = (",result,table,_time,_value,_measurement\n"
                    ",_r,0,2026-01-01T00:00:00Z,1.5,cpu\n"
                    ",_r,0,2026-01-01T00:01:00Z,2.5,cpu\n").encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/csv")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        from intake_spark.services import InfluxDBReader, InfluxDBService

        rdr = InfluxDBReader(data=InfluxDBService(
            f"http://127.0.0.1:{httpd.server_address[1]}",
            org="o1", bucket="b1", token="tok",
        ))
        rows = sorted(
            (r._time, float(r._value))
            for r in rdr.read(spark=spark, measurement="cpu").collect()
        )
        assert rows == [("2026-01-01T00:00:00Z", 1.5),
                        ("2026-01-01T00:01:00Z", 2.5)]
        assert got["auth"] == "Token tok" and "org=o1" in got["path"]
        assert 'from(bucket: "b1")' in got["flux"]
        assert '_measurement == "cpu"' in got["flux"]
    finally:
        httpd.shutdown()


def test_tiled_reader_over_http(spark):
    """TiledReader's Arrow-over-HTTP path against a live loopback
    server returning a REAL Arrow feather file (the wire format the
    tiled data service speaks)."""
    import http.server
    import io

    import pyarrow as pa
    import pyarrow.feather as feather

    buf = io.BytesIO()
    feather.write_feather(
        pa.table({"x": [1, 2, 3], "y": ["a", "b", "c"]}), buf
    )
    blob = buf.getvalue()
    got = {}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            got["path"] = self.path
            got["accept"] = self.headers.get("Accept")
            self.send_response(200)
            self.send_header("Content-Type",
                             "application/vnd.apache.arrow.file")
            self.send_header("Content-Length", str(len(blob)))
            self.end_headers()
            self.wfile.write(blob)

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        from intake_spark.services import TiledReader, TiledService

        rdr = TiledReader(data=TiledService(
            f"http://127.0.0.1:{httpd.server_address[1]}",
            path="runs/scan1",
        ))
        rows = sorted((r.x, r.y) for r in rdr.read(spark=spark).collect())
        assert rows == [(1, "a"), (2, "b"), (3, "c")]
        assert got["path"] == "/api/v1/table/full/runs/scan1"
        assert got["accept"] == "application/vnd.apache.arrow.file"
    finally:
        httpd.shutdown()
