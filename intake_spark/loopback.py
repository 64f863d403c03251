"""In-process loopback protocol servers (fixture-grade, deterministic):
Redis RESP2, MongoDB OP_MSG, MQTT 3.1.1, Kafka, PostgreSQL v3 and MySQL
over real 127.0.0.1 sockets.

These play the same role for the SERVICE connectors that
``sci.encode_grib2_complex`` / ``sci.dicom_bytes`` play for the format
readers: a conformant counterpart written in this repo so the REAL
client/reader network paths (intake_spark/wire.py, services.py) can be
driven end-to-end by registered queries (q142-q145) and by the test
suite — actual protocol bytes over a socket, not injected mocks. Every
server records the commands it saw so tests can assert on the wire
conversation.

One accept loop, :class:`_Listener`, serves them all: each connection
gets its own thread and a ``wire.Stream``, the same byte stream the
clients read through. The Redis, Mongo and MQTT servers accept ONE
connection (their readers open exactly one); Kafka, Postgres and MySQL
accept up to ``max_conns`` (one per executor task), Kafka without limit
when ``max_conns=None``.

NOT a production server of any kind: in-memory, fixture auth only — a
prover/fixture, loudly so.
"""

from __future__ import annotations

import fnmatch
import socket
import struct
import threading
import weakref

from intake_spark.compress import uvarint
from intake_spark.wire import (
    BsonInt64,
    Stream,
    bson_decode,
    bson_encode,
    mysql_packet,
    pg_message,
    read_mqtt_packet,
    read_mysql_packet,
    read_pg_message,
)


class _Listener:
    """The one accept loop: binds 127.0.0.1:0 and serves each connection
    on its own thread through ``_serve_conn(stream)``. A peer that hangs
    up mid-conversation (``ConnectionError``/``OSError``) ends that
    conversation quietly. The listening socket closes once ``max_conns``
    connections are accepted, so repeated runs of a query never
    accumulate live listeners; ``None`` serves until ``close()``."""

    proto = "loopback"

    def __init__(self, max_conns: "int | None"):
        self._srv = socket.socket()
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(max_conns or 128)
        self.port = self._srv.getsockname()[1]
        threading.Thread(target=self._accept_loop, args=(max_conns,),
                         daemon=True).start()

    def close(self) -> None:
        """Stop accepting (live connections finish on their own)."""
        try:
            self._srv.shutdown(socket.SHUT_RDWR)  # wakes a blocked accept()
        except OSError:
            pass  # the budget is spent: already closed
        self._srv.close()

    def _accept_loop(self, budget: "int | None"):
        try:
            while budget is None or budget > 0:
                try:
                    conn, _ = self._srv.accept()
                except OSError:
                    return
                if budget is not None:
                    budget -= 1
                threading.Thread(target=self._serve, args=(conn,),
                                 daemon=True).start()
        finally:
            self._srv.close()

    def _serve(self, conn: socket.socket):
        stream = Stream(conn, self.proto)
        try:
            self._serve_conn(stream)
        except (ConnectionError, OSError):
            pass
        finally:
            stream.close()

    def _serve_conn(self, stream: Stream):  # pragma: no cover - overridden
        raise NotImplementedError


class LoopbackRedis(_Listener):
    """RESP2 server: SELECT/SCAN/GET/TYPE. SCAN pages with a nonzero
    intermediate cursor so a client's cursor walk is really exercised."""

    proto = "RESP"

    def __init__(self, data: "dict[bytes, bytes]"):
        self.data = data
        self.commands: list = []
        super().__init__(max_conns=1)

    def _serve_conn(self, stream: Stream):
        while True:
            line = stream.readline()
            if line[:1] != b"*":
                stream.send(b"-ERR protocol\r\n")
                return
            args = []
            for _ in range(int(line[1:-2])):
                n = int(stream.readline()[1:-2])
                args.append(stream.read(n + 2)[:-2])
            self.commands.append(args)
            stream.send(self._dispatch(args))

    def _dispatch(self, args: "list[bytes]") -> bytes:
        cmd = args[0].upper()
        if cmd == b"SELECT":
            return b"+OK\r\n"
        if cmd == b"SCAN":
            cursor = int(args[1])
            pattern = args[args.index(b"MATCH") + 1].decode()
            keys = sorted(self.data)
            half = len(keys) // 2
            page = keys[:half] if cursor == 0 else keys[half:]
            nxt = b"3" if cursor == 0 else b"0"
            page = [k for k in page if fnmatch.fnmatch(k.decode(), pattern)]
            out = b"*2\r\n$%d\r\n%s\r\n*%d\r\n" % (len(nxt), nxt, len(page))
            for k in page:
                out += b"$%d\r\n%s\r\n" % (len(k), k)
            return out
        if cmd == b"GET":
            v = self.data.get(args[1])
            if v is None:
                return b"$-1\r\n"
            return b"$%d\r\n%s\r\n" % (len(v), v)
        if cmd == b"TYPE":
            return b"+string\r\n" if args[1] in self.data else b"+none\r\n"
        return b"-ERR unknown command '%s'\r\n" % args[0]


class LoopbackMongo(_Listener):
    """OP_MSG server: find returns a first batch and a live (>int32)
    cursor when more documents remain; getMore validates the cursor id
    arrived as int64 and returns the rest."""

    CURSOR_ID = 7_777_777_777
    proto = "OP_MSG"

    def __init__(self, docs: "list[dict]", batch: int = 2):
        self.docs = docs
        self.batch = batch
        self.commands: list = []
        self._served = 0
        super().__init__(max_conns=1)

    def _reply(self, stream: Stream, req_id: int, body: dict):
        payload = struct.pack("<I", 0) + b"\x00" + bson_encode(body)
        stream.send(
            struct.pack("<iiii", 16 + len(payload), 1, req_id, 2013)
            + payload
        )

    def _serve_conn(self, stream: Stream):
        while True:
            (n,) = struct.unpack("<i", stream.read(4))
            rest = stream.read(n - 4)
            req_id, _, opcode = struct.unpack_from("<iii", rest, 0)
            if opcode != 2013 or rest[16] != 0:
                return
            cmd, _ = bson_decode(rest, 17)
            self.commands.append(cmd)
            ns = f"{cmd.get('$db')}.{cmd.get('find', cmd.get('collection'))}"
            if "find" in cmd:
                docs = self.docs
                flt = cmd.get("filter")
                if flt:
                    docs = [
                        d for d in docs
                        if all(d.get(k) == v for k, v in flt.items())
                    ]
                self._filtered = docs
                self._served = min(self.batch, len(docs))
                cid = (0 if self._served == len(docs)
                       else self.CURSOR_ID)
                self._reply(stream, req_id, {
                    "cursor": {"firstBatch": docs[: self._served],
                               "id": BsonInt64(cid), "ns": ns},
                    "ok": 1.0,
                })
            elif "getMore" in cmd:
                if not isinstance(cmd["getMore"], BsonInt64) or (
                    int(cmd["getMore"]) != self.CURSOR_ID
                ):
                    self._reply(stream, req_id,
                                {"ok": 0.0, "errmsg": "cursor id"})
                    continue
                nxt = self._filtered[self._served :]
                self._served = len(self._filtered)
                self._reply(stream, req_id, {
                    "cursor": {"nextBatch": nxt,
                               "id": BsonInt64(0), "ns": ns},
                    "ok": 1.0,
                })
            else:
                self._reply(stream, req_id, {"ok": 0.0, "errmsg": "bad"})


class LoopbackMqtt(_Listener):
    """MQTT 3.1.1 broker: validates CONNECT (protocol name/level),
    CONNACKs, SUBACKs the subscription, then pushes the configured
    (topic, payload) messages — index-1 at QoS 1, whose PUBACK is
    recorded in ``events``."""

    proto = "MQTT"

    def __init__(self, messages: "list[tuple[str, bytes]]"):
        self.messages = messages
        self.events: list = []
        super().__init__(max_conns=1)

    def _serve_conn(self, stream: Stream):
        ptype, body = read_mqtt_packet(stream)
        if ptype != 0x10 or body[:6] != b"\x00\x04MQTT" or body[6:7] != b"\x04":
            return
        self.events.append(("connect", body[6]))
        stream.send(b"\x20\x02\x00\x00")
        ptype, body = read_mqtt_packet(stream)
        if ptype != 0x82:
            return
        pid = struct.unpack(">H", body[:2])[0]
        (tlen,) = struct.unpack(">H", body[2:4])
        self.events.append(("subscribe", body[4 : 4 + tlen].decode()))
        stream.send(b"\x90\x03" + struct.pack(">H", pid) + b"\x00")
        for i, (t, payload) in enumerate(self.messages):
            qos = 1 if i == 1 else 0
            tb = t.encode()
            var = struct.pack(">H", len(tb)) + tb
            if qos:
                var += struct.pack(">H", 42)
            var += payload
            stream.send(bytes([0x30 | (qos << 1)]) + uvarint(len(var)) + var)
            if qos:
                ptype, ack = read_mqtt_packet(stream)
                if ptype == 0x40 and ack == struct.pack(">H", 42):
                    self.events.append(("puback", 42))
        ptype, _ = read_mqtt_packet(stream)  # hold for DISCONNECT
        if ptype == 0xE0:
            self.events.append(("disconnect",))


class LoopbackKafka(_Listener):
    """Kafka broker fixture: ApiVersions v0 / Metadata v1 / ListOffsets
    v1 / Fetch v4 over real record-batch-v2 logs (encoded by
    ``wire.encode_record_batch``, any of the five codecs). Unlike the
    single-connection servers above it accepts up to ``max_conns``
    sockets — the distributed read path opens one per EXECUTOR task.
    ``requests`` records (api_key, detail) per call so tests
    can assert on the wire conversation. Fetch honors partition
    max_bytes but always returns at least the first eligible batch
    (Kafka's guarantee of progress), so size-capped paging is really
    exercised."""

    proto = "kafka"

    def __init__(self, topics: "dict[str, list[list[list[dict]]]]",
                 compression: "str | list[str]" = "none",
                 max_conns: "int | None" = 64):
        # topics: {name: [partition][batch] -> list of record dicts};
        # compression: one codec name, or one per partition (so a single
        # fixture topic can prove every codec end-to-end);
        # max_conns=None serves until close() — streaming tests poll
        # offsets every microbatch, so their connection count is unknown
        self.logs: dict[str, list[list[tuple[int, int, bytes]]]] = {}
        self.requests: list = []
        self._lock = threading.Lock()
        for name, parts in topics.items():
            self.logs[name] = [[] for _ in parts]
            for p_idx, batches in enumerate(parts):
                codec = (compression[p_idx % len(compression)]
                         if isinstance(compression, list) else compression)
                for batch in batches:
                    self.append(name, p_idx, batch, compression=codec)
        super().__init__(max_conns)

    def append(self, topic: str, partition: int, records: "list[dict]",
               compression: str = "none", magic: int = 2) -> None:
        """Produce a batch into a partition's log (base offset continues
        from the log end) — lets streaming tests add data between
        microbatches to prove incremental offset tracking. ``magic`` 0/1
        writes a legacy MessageSet instead of a v2 batch, so a fetch can
        page through a pre-0.11 (or mixed-format, mid-upgrade) log."""
        from intake_spark.wire import encode_message_set, encode_record_batch

        if not records:
            return
        with self._lock:
            log = self.logs[topic][partition]
            base = log[-1][1] if log else 0
            if magic < 2:
                blob = encode_message_set(
                    records, magic=magic, base_offset=base,
                    base_timestamp=1_700_000_000_000,
                    compression=compression,
                )
            else:
                blob = encode_record_batch(
                    records, base_offset=base,
                    base_timestamp=1_700_000_000_000,
                    compression=compression,
                )
            log.append((base, base + len(records), blob))

    def _serve_conn(self, stream: Stream):
        while True:
            (n,) = struct.unpack(">i", stream.read(4))
            req = stream.read(n)
            api_key, api_ver, corr = struct.unpack_from(">hhi", req, 0)
            (cid_len,) = struct.unpack_from(">h", req, 8)
            body = req[10 + max(cid_len, 0):]
            resp = self._dispatch(api_key, api_ver, body)
            stream.send(
                struct.pack(">i", 4 + len(resp))
                + struct.pack(">i", corr) + resp
            )

    @staticmethod
    def _kstr(s: str) -> bytes:
        b = s.encode()
        return struct.pack(">h", len(b)) + b

    @staticmethod
    def _read_kstr(buf: bytes, pos: int):
        (n,) = struct.unpack_from(">h", buf, pos)
        pos += 2
        return buf[pos : pos + n].decode(), pos + n

    def _dispatch(self, api_key: int, api_ver: int, body: bytes) -> bytes:
        if api_key == 18:  # ApiVersions v0
            with self._lock:
                self.requests.append(("api_versions",))
            out = struct.pack(">hi", 0, 4)
            for k, lo, hi in ((18, 0, 0), (3, 0, 1), (2, 0, 1), (1, 0, 4)):
                out += struct.pack(">hhh", k, lo, hi)
            return out
        if api_key == 3:  # Metadata v1
            (n,) = struct.unpack_from(">i", body, 0)
            pos, names = 4, []
            for _ in range(n):
                name, pos = self._read_kstr(body, pos)
                names.append(name)
            if n < 0:
                names = sorted(self.logs)
            with self._lock:
                self.requests.append(("metadata", tuple(names)))
            out = struct.pack(">i", 1)  # one broker
            out += (struct.pack(">i", 0) + self._kstr("127.0.0.1")
                    + struct.pack(">i", self.port) + struct.pack(">h", -1))
            out += struct.pack(">i", 0)  # controller id
            out += struct.pack(">i", len(names))
            for name in names:
                parts = self.logs.get(name)
                out += struct.pack(">h", 0 if parts else 3)  # 3 = unknown
                out += self._kstr(name) + b"\x00"  # is_internal
                out += struct.pack(">i", len(parts or []))
                for pid in range(len(parts or [])):
                    out += struct.pack(">hii", 0, pid, 0)
                    out += struct.pack(">ii", 1, 0)  # replicas [0]
                    out += struct.pack(">ii", 1, 0)  # isr [0]
            return out
        if api_key == 2:  # ListOffsets v1
            pos = 4 + 4  # replica_id + topic count (1)
            name, pos = self._read_kstr(body, pos)
            pos += 4  # partition count (1)
            pid, ts = struct.unpack_from(">iq", body, pos)
            with self._lock:
                self.requests.append(("list_offsets", name, pid, ts))
                log = list(self.logs[name][pid])
            off = (log[0][0] if log else 0) if ts == -2 else (
                log[-1][1] if log else 0
            )
            return (struct.pack(">i", 1) + self._kstr(name)
                    + struct.pack(">i", 1)
                    + struct.pack(">ihqq", pid, 0, -1, off))
        if api_key == 1:  # Fetch v4
            pos = 4 + 4 + 4 + 4 + 1 + 4  # replica/wait/min/max/isolation/n
            name, pos = self._read_kstr(body, pos)
            pos += 4  # partition count (1)
            pid, offset, pmax = struct.unpack_from(">iqi", body, pos)
            with self._lock:
                self.requests.append(("fetch", name, pid, offset, pmax))
                log = list(self.logs[name][pid])
            hw = log[-1][1] if log else 0
            recset = bytearray()
            for base, nxt, blob in log:
                if nxt <= offset:
                    continue
                if recset and len(recset) + len(blob) > pmax:
                    break
                recset += blob
            out = struct.pack(">i", 0)  # throttle
            out += struct.pack(">i", 1) + self._kstr(name)
            out += struct.pack(">i", 1)
            out += struct.pack(">ihqq", pid, 0, hw, hw)
            out += struct.pack(">i", 0)  # aborted txns
            out += struct.pack(">i", len(recset)) + bytes(recset)
            return out
        return struct.pack(">h", 35)  # UNSUPPORTED_VERSION


class _LoopbackDBBase(_Listener):
    """Shared infrastructure for the SQL wire fixtures (Postgres/MySQL):
    in-memory DuckDB delegation behind ``max_conns`` connections (the
    range-partitioned reads open one per executor task). Subclasses
    implement _serve_conn."""

    def __init__(self, setup_sql: "list[str]", max_conns: int = 16):
        import duckdb

        self._db = duckdb.connect()
        for stmt in setup_sql:
            self._db.sql(stmt)
        self._db_lock = threading.Lock()
        self.queries: list[str] = []
        super().__init__(max_conns)

    def _duck_run(self, sql: str):
        """(cols [(name, duck_type_str)], rows) or raises duckdb.Error;
        None cols for DDL/DML."""
        with self._db_lock:
            rel = self._db.sql(sql)
            if rel is None:
                return None, []
            return (list(zip(rel.columns, [str(t) for t in rel.types])),
                    rel.fetchall())


class LoopbackPostgres(_LoopbackDBBase):
    """PostgreSQL v3 wire server: startup, SCRAM-SHA-256 (RFC 7677) /
    MD5 / trust auth, simple-query protocol — with query evaluation
    delegated to an in-memory DuckDB, so arbitrary SQL (the JDBC
    fallback's schema probe + stride-range predicates) really executes.
    Speaks genuine protocol bytes; rows go out in PG text format with
    real pg_type oids. ``max_conns`` connections served (the
    range-partitioned read opens one per executor task)."""

    _DUCK_OID = {
        "BOOLEAN": 16, "BIGINT": 20, "SMALLINT": 21, "INTEGER": 23,
        "FLOAT": 700, "DOUBLE": 701, "VARCHAR": 25, "BLOB": 17,
        "DATE": 1082, "TIMESTAMP": 1114, "HUGEINT": 1700,
    }

    proto = "postgres"

    def __init__(self, setup_sql: "list[str]", user: str = "postgres",
                 password: str = "", auth: str = "scram",
                 max_conns: int = 16):
        self.user, self.password, self.auth = user, password, auth
        super().__init__(setup_sql, max_conns)

    def _serve_conn(self, stream: Stream):
        # startup message: length + payload, NO type byte
        (n,) = struct.unpack(">i", stream.read(4))
        stream.read(n - 4)  # protocol + params
        if not self._authenticate(stream):
            return
        stream.send(
            pg_message(b"R", struct.pack(">i", 0))
            + pg_message(b"S", b"server_version\x00loopback-16\x00")
            + pg_message(b"Z", b"I")
        )
        while True:
            t, body = read_pg_message(stream)
            if t == b"X":
                return
            if t != b"Q":
                stream.send(pg_message(
                    b"E", b"SERROR\x00Munsupported message\x00\x00"
                ) + pg_message(b"Z", b"I"))
                continue
            sql = body.rstrip(b"\x00").decode()
            self.queries.append(sql)
            stream.send(self._run_query(sql))

    def _authenticate(self, stream: Stream) -> bool:
        import base64
        import hashlib
        import hmac as _hmac
        import secrets

        if self.auth == "trust":
            return True
        if self.auth == "md5":
            salt = b"\x01\x02\x03\x04"
            stream.send(pg_message(b"R", struct.pack(">i", 5) + salt))
            t, got = read_pg_message(stream)
            got = got.rstrip(b"\x00")
            inner = hashlib.md5(
                self.password.encode() + self.user.encode()
            ).hexdigest().encode()
            want = b"md5" + hashlib.md5(inner + salt).hexdigest().encode()
            if t != b"p" or got != want:
                stream.send(pg_message(
                    b"E", b"SFATAL\x00Mpassword authentication failed\x00\x00"
                ))
                return False
            return True
        # SCRAM-SHA-256 (RFC 5802/7677), server side
        stream.send(pg_message(
            b"R", struct.pack(">i", 10) + b"SCRAM-SHA-256\x00\x00"
        ))
        _t, body = read_pg_message(stream)
        zero = body.index(b"\x00")
        (flen,) = struct.unpack_from(">i", body, zero + 1)
        client_first = body[zero + 5 : zero + 5 + flen].decode()
        bare = client_first.split(",", 2)[2]
        client_nonce = dict(
            kv.split("=", 1) for kv in bare.split(",")
        )["r"]
        salt = b"loopback-salt-16"
        iters = 4096
        combined = client_nonce + secrets.token_urlsafe(12)
        server_first = (
            f"r={combined},s={base64.b64encode(salt).decode()},i={iters}"
        )
        stream.send(pg_message(
            b"R", struct.pack(">i", 11) + server_first.encode()
        ))
        client_final = read_pg_message(stream)[1].decode()
        no_proof, proof_b64 = client_final.rsplit(",p=", 1)
        salted = hashlib.pbkdf2_hmac(
            "sha256", self.password.encode(), salt, iters
        )
        client_key = _hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored = hashlib.sha256(client_key).digest()
        auth_msg = ",".join((bare, server_first, no_proof)).encode()
        sig = _hmac.new(stored, auth_msg, hashlib.sha256).digest()
        want_proof = bytes(a ^ b for a, b in zip(client_key, sig))
        if base64.b64decode(proof_b64) != want_proof:
            stream.send(pg_message(
                b"E", b"SFATAL\x00Mpassword authentication failed\x00\x00"
            ))
            return False
        server_key = _hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        server_sig = base64.b64encode(
            _hmac.new(server_key, auth_msg, hashlib.sha256).digest()
        ).decode()
        stream.send(pg_message(
            b"R", struct.pack(">i", 12) + f"v={server_sig}".encode()
        ))
        return True

    def _pg_text(self, v) -> "bytes | None":
        import datetime as _dt

        if v is None:
            return None
        if isinstance(v, bool):
            return b"t" if v else b"f"
        if isinstance(v, (bytes, bytearray)):
            return b"\\x" + bytes(v).hex().encode()
        if isinstance(v, _dt.datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f").encode()
        return str(v).encode()

    def _run_query(self, sql: str) -> bytes:
        import duckdb

        try:
            cols, rows = self._duck_run(sql)
            if cols is None:  # DDL/DML
                return (pg_message(b"C", b"OK\x00")
                        + pg_message(b"Z", b"I"))
        except duckdb.Error as exc:
            return (pg_message(
                b"E", b"SERROR\x00M" + str(exc).encode() + b"\x00\x00"
            ) + pg_message(b"Z", b"I"))
        desc = struct.pack(">h", len(cols))
        for name, duck_t in cols:
            oid = self._DUCK_OID.get(
                duck_t.split("(")[0], 25  # DECIMAL(p,s) etc -> base name
            )
            if duck_t.startswith("DECIMAL"):
                oid = 1700
            desc += (name.encode() + b"\x00"
                     + struct.pack(">ihihih", 0, 0, oid, -1, -1, 0))
        out = pg_message(b"T", desc)
        for row in rows:
            body = struct.pack(">h", len(row))
            for v in row:
                tv = self._pg_text(v)
                if tv is None:
                    body += struct.pack(">i", -1)
                else:
                    body += struct.pack(">i", len(tv)) + tv
            out += pg_message(b"D", body)
        out += pg_message(b"C", f"SELECT {len(rows)}\x00".encode())
        out += pg_message(b"Z", b"I")
        return out


class LoopbackMySQL(_LoopbackDBBase):
    """MySQL wire server: HandshakeV10 + HandshakeResponse41 with
    mysql_native_password verification, COM_QUERY text resultsets —
    query evaluation delegated to an in-memory DuckDB (independent SQL
    engine), mirroring LoopbackPostgres. ``max_conns`` sequential-accept
    budget; genuine protocol bytes throughout."""

    _DUCK_MYSQL = {
        "BOOLEAN": (0x01, 33), "SMALLINT": (0x02, 33), "INTEGER": (0x03, 33),
        "BIGINT": (0x08, 33), "FLOAT": (0x04, 33), "DOUBLE": (0x05, 33),
        "VARCHAR": (0xFD, 33), "BLOB": (0xFC, 63), "DATE": (0x0A, 33),
        "TIMESTAMP": (0x0C, 33), "HUGEINT": (0xF6, 33),
    }
    _SCRAMBLE = bytes(range(1, 21))  # deterministic 20-byte nonce
    proto = "mysql"

    def __init__(self, setup_sql: "list[str]", user: str = "root",
                 password: str = "", max_conns: int = 16,
                 auth_plugin: str = "mysql_native_password",
                 full_auth: bool = False):
        self.user, self.password = user, password
        self.auth_plugin = auth_plugin  # or "caching_sha2_password"
        # full_auth simulates a caching_sha2 cache MISS: the server
        # demands the RSA public-key exchange. Decryption is delegated
        # to the openssl CLI — an INDEPENDENT OAEP implementation, so
        # the client's stdlib RSA-OAEP is interop-tested, not
        # self-agreed.
        self.full_auth = full_auth
        if full_auth:
            import shutil
            import subprocess
            import tempfile

            if auth_plugin != "caching_sha2_password":
                raise ValueError("full_auth needs caching_sha2_password")
            if not shutil.which("openssl"):
                raise RuntimeError(
                    "LoopbackMySQL full_auth needs the openssl CLI to "
                    "decrypt (keeps the fixture independent of the "
                    "client's own OAEP code)"
                )
            self._keydir = tempfile.mkdtemp(prefix="loopback_mysql_rsa_")
            # the private key must not outlive the server, closed or not
            self._rm_keydir = weakref.finalize(
                self, shutil.rmtree, self._keydir, ignore_errors=True
            )
            self._priv = f"{self._keydir}/key.pem"
            subprocess.run(
                ["openssl", "genpkey", "-algorithm", "RSA", "-pkeyopt",
                 "rsa_keygen_bits:2048", "-out", self._priv],
                check=True, capture_output=True,
            )
            self.pub_pem = subprocess.run(
                ["openssl", "pkey", "-in", self._priv, "-pubout"],
                check=True, capture_output=True,
            ).stdout
        super().__init__(setup_sql, max_conns)

    def close(self) -> None:
        """Stop accepting and delete the RSA key directory."""
        super().close()
        if self.full_auth:
            self._rm_keydir()

    def _rsa_decrypt(self, blob: bytes) -> bytes:
        import subprocess

        return subprocess.run(
            ["openssl", "pkeyutl", "-decrypt", "-inkey", self._priv,
             "-pkeyopt", "rsa_padding_mode:oaep"],
            input=blob, check=True, capture_output=True,
        ).stdout

    @staticmethod
    def _lenenc(n: int) -> bytes:
        if n < 0xFB:
            return bytes([n])
        if n < 1 << 16:
            return b"\xfc" + struct.pack("<H", n)
        if n < 1 << 24:
            return b"\xfd" + n.to_bytes(3, "little")
        return b"\xfe" + struct.pack("<Q", n)

    def _err(self, seq: int, msg: str) -> bytes:
        return mysql_packet(seq, b"\xff" + struct.pack("<H", 1064)
                            + b"#42000" + msg.encode())

    def _serve_conn(self, stream: Stream):
        from intake_spark.wire import _mysql_native_token, _mysql_sha2_token

        greet = (
            b"\x0a" + b"8.0.0-loopback\x00"
            + struct.pack("<I", 1)
            + self._SCRAMBLE[:8] + b"\x00"
            + struct.pack("<H", 0xF7FF)  # caps lower
            + b"\x21" + struct.pack("<H", 2)
            + struct.pack("<H", 0x0008 | 0x0001)  # caps upper: PLUGIN_AUTH
            + bytes([21])
            + bytes(10)
            + self._SCRAMBLE[8:] + b"\x00"
            + self.auth_plugin.encode() + b"\x00"
        )
        stream.send(mysql_packet(0, greet))
        resp = read_mysql_packet(stream)[1]
        pos = 4 + 4 + 1 + 23
        zero = resp.index(b"\x00", pos)
        user = resp[pos:zero].decode()
        pos = zero + 1
        tlen = resp[pos]
        token = resp[pos + 1 : pos + 1 + tlen]
        sha2 = self.auth_plugin == "caching_sha2_password"
        if self.full_auth:
            # cache miss: the fast token is unverifiable — demand
            # the RSA exchange instead
            if user != self.user:
                stream.send(mysql_packet(
                    2, b"\xff" + struct.pack("<H", 1045)
                    + b"#28000Access denied"
                ))
                return
            stream.send(mysql_packet(2, b"\x01\x04"))
            req = read_mysql_packet(stream)[1]
            if req != b"\x02":  # public-key request
                stream.send(self._err(4, "expected pubkey request"))
                return
            stream.send(mysql_packet(4, b"\x01" + self.pub_pem))
            blob = read_mysql_packet(stream)[1]
            xored = self._rsa_decrypt(blob)
            sc = self._SCRAMBLE
            plain = bytes(
                b ^ sc[i % len(sc)] for i, b in enumerate(xored)
            )
            if plain != self.password.encode() + b"\x00":
                stream.send(mysql_packet(
                    6, b"\xff" + struct.pack("<H", 1045)
                    + b"#28000Access denied"
                ))
                return
            stream.send(mysql_packet(6, b"\x00\x00\x00\x02\x00\x00\x00"))
        else:
            want = (_mysql_sha2_token if sha2 else _mysql_native_token)(
                self.password, self._SCRAMBLE
            )
            if user != self.user or token != want:
                stream.send(mysql_packet(
                    2, b"\xff" + struct.pack("<H", 1045)
                    + b"#28000Access denied"
                ))
                return
            if sha2:  # AuthMoreData: fast-auth success (cache hit)
                stream.send(mysql_packet(2, b"\x01\x03"))
                stream.send(mysql_packet(3, b"\x00\x00\x00\x02\x00\x00\x00"))
            else:
                stream.send(mysql_packet(2, b"\x00\x00\x00\x02\x00\x00\x00"))
        while True:
            pkt = read_mysql_packet(stream)[1]
            if pkt[0] == 0x01:  # COM_QUIT
                return
            if pkt[0] != 0x03:  # only COM_QUERY
                stream.send(self._err(1, "unsupported command"))
                continue
            sql = pkt[1:].decode()
            self.queries.append(sql)
            stream.send(self._run_query(sql))

    def _value_text(self, v) -> "bytes | None":
        import datetime as _dt

        if v is None:
            return None
        if isinstance(v, bool):
            return b"1" if v else b"0"
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if isinstance(v, _dt.datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f").encode()
        return str(v).encode()

    def _run_query(self, sql: str) -> bytes:
        import duckdb

        try:
            cols, rows = self._duck_run(sql)
            if cols is None:
                return mysql_packet(1, b"\x00\x00\x00\x02\x00\x00\x00")
        except duckdb.Error as exc:
            return self._err(1, str(exc))
        seq = 1
        out = mysql_packet(seq, self._lenenc(len(cols)))
        for name, duck_t in cols:
            tb, cs = self._DUCK_MYSQL.get(duck_t.split("(")[0], (0xFD, 33))
            if duck_t.startswith("DECIMAL"):
                tb = 0xF6
            nb = name.encode()
            col = (b"\x03def" + b"\x00" * 3  # schema/table/org_table empty
                   + self._lenenc(len(nb)) + nb
                   + self._lenenc(len(nb)) + nb
                   + b"\x0c" + struct.pack("<H", cs)
                   + struct.pack("<I", 255) + bytes([tb])
                   + struct.pack("<H", 0) + b"\x00" + b"\x00\x00")
            seq += 1
            out += mysql_packet(seq, col)
        seq += 1
        out += mysql_packet(seq, b"\xfe\x00\x00\x02\x00")  # EOF
        for row in rows:
            body = b""
            for v in row:
                tv = self._value_text(v)
                if tv is None:
                    body += b"\xfb"
                else:
                    body += self._lenenc(len(tv)) + tv
            seq += 1
            out += mysql_packet(seq, body)
        seq += 1
        out += mysql_packet(seq, b"\xfe\x00\x00\x02\x00")
        return out
