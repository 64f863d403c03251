"""Stdlib lakehouse readers vs spec-built fixtures: Avro OCF (hand-encoded
from the Avro 1.11 binary spec), Delta Lake (_delta_log JSON exactly as the
delta writers emit it), Iceberg (metadata JSON + Avro manifests)."""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys
import zlib

import pytest

from intake_spark import datatypes as dt
from intake_spark.lakehouse import (
    AvroOCFReader,
    DeltaLakeReader,
    IcebergTableReader,
    decode_avro_file,
)

# ---- test-side Avro binary encoder (independent of the reader) -----------


def _zz(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc(value, schema, names: dict) -> bytes:
    if isinstance(schema, str):
        if schema in names:
            return _enc(value, names[schema], names)
        if schema == "null":
            return b""
        if schema == "boolean":
            return b"\x01" if value else b"\x00"
        if schema in ("int", "long"):
            return _zz(int(value))
        if schema == "float":
            return struct.pack("<f", value)
        if schema == "double":
            return struct.pack("<d", value)
        if schema == "bytes":
            return _zz(len(value)) + bytes(value)
        if schema == "string":
            b = value.encode("utf-8")
            return _zz(len(b)) + b
        raise ValueError(schema)
    if isinstance(schema, list):
        idx = 0 if value is None and schema[0] == "null" else (1 if schema[0] == "null" else 0)
        if value is None:
            idx = schema.index("null")
        return _zz(idx) + _enc(value, schema[idx], names)
    t = schema["type"]
    if t == "record":
        if schema.get("name"):
            names[schema["name"]] = schema
        return b"".join(_enc(value[f["name"]], f["type"], names) for f in schema["fields"])
    if t == "enum":
        return _zz(schema["symbols"].index(value))
    if t == "fixed":
        return bytes(value)
    if t == "array":
        if not value:
            return _zz(0)
        return _zz(len(value)) + b"".join(_enc(v, schema["items"], names) for v in value) + _zz(0)
    if t == "map":
        if not value:
            return _zz(0)
        body = b"".join(
            _zz(len(k.encode())) + k.encode() + _enc(v, schema["values"], names)
            for k, v in value.items()
        )
        return _zz(len(value)) + body + _zz(0)
    return _enc(value, t, names)


def write_avro(path: str, schema: dict, records: list[dict], codec: str = "null",
               block_size: int = 3) -> None:
    sync = bytes(range(16))
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    out = bytearray(b"Obj\x01")
    out += _zz(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zz(len(kb)) + kb + _zz(len(v)) + v
    out += _zz(0)
    out += sync
    for i in range(0, len(records), block_size):
        blk = records[i : i + block_size]
        body = b"".join(_enc(r, schema, {}) for r in blk)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = co.compress(body) + co.flush()
        elif codec == "snappy":
            from intake_spark.compress import snappy_compress

            crc = zlib.crc32(body) & 0xFFFFFFFF
            body = snappy_compress(body) + crc.to_bytes(4, "big")
        out += _zz(len(blk)) + _zz(len(body)) + body + sync
    with open(path, "wb") as f:
        f.write(out)


SCHEMA = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "tag", "type": ["null", "string"]},
        {"name": "vals", "type": {"type": "array", "items": "int"}},
    ],
}
RECORDS = [
    {"id": i, "name": f"n{i}", "score": i * 0.5, "tag": None if i % 3 == 0 else f"t{i}",
     "vals": list(range(i % 4))}
    for i in range(10)
]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_avro_ocf_roundtrip(spark, tmp_path, codec):
    p = str(tmp_path / f"e_{codec}.avro")
    write_avro(p, SCHEMA, RECORDS, codec=codec)
    df = AvroOCFReader(data=dt.AVRO(url=p)).read(spark=spark, blocks_per_task=2)
    rows = sorted(df.collect(), key=lambda r: r.id)
    assert len(rows) == 10
    for i, r in enumerate(rows):
        assert (r.id, r.name, r.score) == (i, f"n{i}", i * 0.5)
        assert r.tag == (None if i % 3 == 0 else f"t{i}")
        assert list(r.vals) == list(range(i % 4))
    assert df.schema["tag"].dataType.typeName() == "string"


def test_avro_glob_multiple_files(spark, tmp_path):
    for j in range(3):
        write_avro(str(tmp_path / f"p{j}.avro"), SCHEMA,
                   [dict(r, id=r["id"] + 100 * j) for r in RECORDS])
    df = AvroOCFReader(data=dt.AVRO(url=f"{tmp_path}/*.avro")).read(spark=spark)
    assert df.count() == 30
    assert df.agg({"id": "max"}).collect()[0][0] == 209


def test_avro_driver_decode_helper(tmp_path):
    p = str(tmp_path / "m.avro")
    write_avro(p, SCHEMA, RECORDS[:4])
    out = decode_avro_file(p)
    assert [r["id"] for r in out] == [0, 1, 2, 3]


# ---- Delta Lake ----------------------------------------------------------


def _delta_add(path, pvals=None):
    return json.dumps(
        {"add": {"path": path, "partitionValues": pvals or {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}
    )


def _delta_meta(schema_json, part_cols=()):
    return json.dumps(
        {"metaData": {"id": "m1", "schemaString": json.dumps(schema_json),
                      "partitionColumns": list(part_cols), "configuration": {},
                      "format": {"provider": "parquet", "options": {}}}}
    )


_DELTA_SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": "k", "type": "string", "nullable": True, "metadata": {}},
        {"name": "v", "type": "long", "nullable": True, "metadata": {}},
    ],
}


def test_delta_log_replay_with_remove(spark, tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(f"{root}/_delta_log")
    spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long").coalesce(1) \
        .write.parquet(f"{root}/f0")
    spark.createDataFrame([("c", 3)], "k string, v long").coalesce(1) \
        .write.parquet(f"{root}/f1")
    f0 = [f for f in os.listdir(f"{root}/f0") if f.endswith(".parquet")][0]
    f1 = [f for f in os.listdir(f"{root}/f1") if f.endswith(".parquet")][0]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        f.write(_delta_meta(_DELTA_SCHEMA) + "\n")
        f.write(_delta_add(f"f0/{f0}") + "\n")
    with open(f"{root}/_delta_log/{1:020d}.json", "w") as f:
        f.write(_delta_add(f"f1/{f1}") + "\n")
        f.write(json.dumps({"remove": {"path": f"f0/{f0}", "dataChange": True}}) + "\n")
    rdr = DeltaLakeReader(data=dt.DeltalakeTable(url=root))
    assert {(r.k, r.v) for r in rdr.read(spark=spark).collect()} == {("c", 3)}
    # time travel to version 0: the removed file is still live
    v0 = rdr.read(spark=spark, version=0)
    assert {(r.k, r.v) for r in v0.collect()} == {("a", 1), ("b", 2)}


def test_delta_partitioned_hive_layout(spark, tmp_path):
    root = str(tmp_path / "ptbl")
    os.makedirs(f"{root}/_delta_log")
    schema = {
        "type": "struct",
        "fields": [
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "ds", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    adds = []
    for ds, vals in [("2024-01-01", [1, 2]), ("2024-01-02", [3])]:
        spark.createDataFrame([(v,) for v in vals], "v long").coalesce(1) \
            .write.parquet(f"{root}/ds={ds}")
        fn = [f for f in os.listdir(f"{root}/ds={ds}") if f.endswith(".parquet")][0]
        adds.append(_delta_add(f"ds={ds}/{fn}", {"ds": ds}))
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(_delta_meta(schema, ["ds"]) + "\n")
        for a in adds:
            f.write(a + "\n")
    df = DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(spark=spark)
    got = {(r.v, r.ds) for r in df.collect()}
    assert got == {(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")}
    # partition pruning reaches the scan: the filter lands in
    # PartitionFilters uncast (a cast would force runtime evaluation)
    plan = df.filter("ds = '2024-01-02'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ds" in plan
    assert "cast(ds" not in plan


def test_delta_unsupported_features_raise(spark, tmp_path):
    root = str(tmp_path / "dv")
    os.makedirs(f"{root}/_delta_log")
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                         "readerFeatures": ["v2Checkpoint"]}}) + "\n")
        f.write(_delta_meta(_DELTA_SCHEMA) + "\n")
    with pytest.raises(ValueError, match="v2Checkpoint"):
        DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(spark=spark)


# ---- Iceberg -------------------------------------------------------------

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [{"name": "manifest_path", "type": "string"},
               {"name": "manifest_length", "type": "long"}],
}
_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2",
            "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
            ]}},
    ],
}


def test_iceberg_snapshot_scan(spark, tmp_path):
    root = str(tmp_path / "ice")
    os.makedirs(f"{root}/metadata")
    os.makedirs(f"{root}/data", exist_ok=True)
    spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string").coalesce(1) \
        .write.parquet(f"{root}/data/d0")
    spark.createDataFrame([(3, "z")], "id long, s string").coalesce(1) \
        .write.parquet(f"{root}/data/d1")
    files = []
    for d in ("d0", "d1"):
        fn = [f for f in os.listdir(f"{root}/data/{d}") if f.endswith(".parquet")][0]
        files.append(f"{root}/data/{d}/{fn}")
    # manifest with one live and one DELETED entry; deleted points at d1
    write_avro(f"{root}/metadata/man0.avro", _MANIFEST_ENTRY_SCHEMA, [
        {"status": 1, "data_file": {"content": 0, "file_path": files[0],
                                    "file_format": "PARQUET", "record_count": 2}},
    ])
    write_avro(f"{root}/metadata/man1.avro", _MANIFEST_ENTRY_SCHEMA, [
        {"status": 2, "data_file": {"content": 0, "file_path": files[1],
                                    "file_format": "PARQUET", "record_count": 1}},
    ])
    write_avro(f"{root}/metadata/mlist.avro", _MANIFEST_FILE_SCHEMA, [
        {"manifest_path": f"{root}/metadata/man0.avro", "manifest_length": 1},
        {"manifest_path": f"{root}/metadata/man1.avro", "manifest_length": 1},
    ])
    meta = {
        "format-version": 2,
        "location": root,
        "current-snapshot-id": 77,
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "s", "required": False, "type": "string"},
        ]}],
        "snapshots": [{"snapshot-id": 77,
                       "manifest-list": f"{root}/metadata/mlist.avro"}],
    }
    with open(f"{root}/metadata/v1.metadata.json", "w") as f:
        json.dump(meta, f)
    with open(f"{root}/metadata/version-hint.text", "w") as f:
        f.write("1")
    df = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(spark=spark)
    assert {(r.id, r.s) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_iceberg_relocated_table(spark, tmp_path):
    """Manifest paths recorded under the writer's location must resolve
    after the table directory is copied elsewhere."""
    import shutil

    # build under 'orig', then move to 'moved'
    orig = str(tmp_path / "orig")
    os.makedirs(f"{orig}/metadata")
    spark.createDataFrame([(9, "q")], "id long, s string").coalesce(1) \
        .write.parquet(f"{orig}/data/d0")
    fn = [f for f in os.listdir(f"{orig}/data/d0") if f.endswith(".parquet")][0]
    write_avro(f"{orig}/metadata/man0.avro", _MANIFEST_ENTRY_SCHEMA, [
        {"status": 1, "data_file": {"content": 0, "file_path": f"{orig}/data/d0/{fn}",
                                    "file_format": "PARQUET", "record_count": 1}},
    ])
    write_avro(f"{orig}/metadata/mlist.avro", _MANIFEST_FILE_SCHEMA, [
        {"manifest_path": f"{orig}/metadata/man0.avro", "manifest_length": 1},
    ])
    meta = {
        "format-version": 1,
        "location": orig,
        "current-snapshot-id": 5,
        "schema": {"type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "s", "required": False, "type": "string"},
        ]},
        "snapshots": [{"snapshot-id": 5, "manifest-list": f"{orig}/metadata/mlist.avro"}],
    }
    with open(f"{orig}/metadata/v1.metadata.json", "w") as f:
        json.dump(meta, f)
    with open(f"{orig}/metadata/version-hint.text", "w") as f:
        f.write("1")
    moved = str(tmp_path / "moved")
    shutil.move(orig, moved)
    df = IcebergTableReader(data=dt.IcebergDataset(url=moved)).read(spark=spark)
    assert [(r.id, r.s) for r in df.collect()] == [(9, "q")]


def test_recommend_routes_lakehouse(tmp_path):
    from intake_spark.datatypes import register_all
    from intake_spark.readers import readers_for

    register_all()
    names = {c.__name__ for c in readers_for(dt.AVRO)}
    assert "AvroOCFReader" in names
    # stdlib readers outrank the jar-gated Spark formats by priority
    first = readers_for(dt.DeltalakeTable)[0].__name__
    assert first == "DeltaLakeReader"


def test_fresh_process_sees_the_whole_reader_registry(spark, tmp_path):
    """readers_for answers the same in a fresh process as after
    recommend(): an Avro file written by to_avro gets the stdlib OCF
    reader (no spark-avro jar needed), and Parquet lists every reader
    that claims it."""
    from intake_spark.output import to_avro

    url = str(tmp_path / "t.avro")
    to_avro(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), url)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import json
from intake_spark import datatypes as dt
from intake_spark.readers import readers_for
reader = dt.AVRO(url={url!r}).to_reader()
parquet = [c.__name__ for c in readers_for(dt.Parquet)]
from intake_spark.session import get_session
spark = get_session("registry_probe", cpus=1)
rows = sorted(tuple(r) for r in reader.read(spark=spark).collect())
print("RESULT " + json.dumps(
    {{"reader": type(reader).__name__, "parquet": parquet, "rows": rows}}))
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": root, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, proc.stdout[-2000:] + proc.stderr[-2000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got["reader"] == "AvroOCFReader"
    assert {"SparkParquet", "AwkwardParquet", "FileStream"} <= set(got["parquet"])
    assert got["rows"] == [[1, "a"], [2, "b"]]


def test_avro_directory_of_part_files(spark, tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    for j in range(2):
        write_avro(str(d / f"part-{j}.avro"), SCHEMA, RECORDS[j * 5 : (j + 1) * 5])
    df = AvroOCFReader(data=dt.AVRO(url=str(d))).read(spark=spark)
    assert df.count() == 10


def test_avro_incompatible_evolved_schema_raises(spark, tmp_path):
    d = tmp_path / "mix"
    d.mkdir()
    write_avro(str(d / "a.avro"), SCHEMA, RECORDS[:2])
    s2 = {"type": "record", "name": "Event",
          "fields": [{"name": "id", "type": "string"}]}
    write_avro(str(d / "b.avro"), s2, [{"id": "x"}])
    with pytest.raises(ValueError, match="incompatible writer schema"):
        AvroOCFReader(data=dt.AVRO(url=str(d))).read(spark=spark)


def test_delta_uri_encoded_paths_and_nonhive_layout(spark, tmp_path):
    """add.path is URI-encoded per the protocol, and partitionValues are
    authoritative even when the layout is not hive-style."""
    root = str(tmp_path / "enc")
    os.makedirs(f"{root}/_delta_log")
    schema = {
        "type": "struct",
        "fields": [
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "ds", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    # non-hive data dir carrying a space in its name
    spark.createDataFrame([(7,)], "v long").coalesce(1).write.parquet(f"{root}/x y")
    fn = [f for f in os.listdir(f"{root}/x y") if f.endswith(".parquet")][0]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(_delta_meta(schema, ["ds"]) + "\n")
        f.write(_delta_add(f"x%20y/{fn}", {"ds": "a b"}) + "\n")
    df = DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(spark=spark)
    assert [(r.v, r.ds) for r in df.collect()] == [(7, "a b")]


def test_delta_checkpoint_with_vacuumed_commits(spark, tmp_path):
    """State comes from the checkpoint when pre-checkpoint JSON commits are
    gone (log retention), including under version= time travel."""
    root = str(tmp_path / "ck")
    os.makedirs(f"{root}/_delta_log")
    spark.createDataFrame([("a", 1)], "k string, v long").coalesce(1) \
        .write.parquet(f"{root}/f0")
    f0 = [f for f in os.listdir(f"{root}/f0") if f.endswith(".parquet")][0]
    # checkpoint at v5 holds the whole state; commits 0-5 vacuumed
    ck = spark.createDataFrame(
        [(
            {"path": f"f0/{f0}", "partitionValues": {}},
            None,
            {"id": "m", "schemaString": json.dumps(_DELTA_SCHEMA),
             "partitionColumns": [], "configuration": {}},
            {"minReaderVersion": 1},
        )],
        "add struct<path:string,partitionValues:map<string,string>>, "
        "remove struct<path:string>, "
        "metaData struct<id:string,schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>>, "
        "protocol struct<minReaderVersion:int>",
    )
    ck.coalesce(1).write.parquet(f"{root}/_ck_tmp")
    ckf = [f for f in os.listdir(f"{root}/_ck_tmp") if f.endswith(".parquet")][0]
    os.rename(f"{root}/_ck_tmp/{ckf}",
              f"{root}/_delta_log/{5:020d}.checkpoint.parquet")
    with open(f"{root}/_delta_log/_last_checkpoint", "w") as f:
        json.dump({"version": 5, "size": 1}, f)
    # one later commit adds nothing (e.g. a metadata-only commit)
    with open(f"{root}/_delta_log/{6:020d}.json", "w") as f:
        f.write(json.dumps({"commitInfo": {"operation": "OPTIMIZE"}}) + "\n")
    rdr = DeltaLakeReader(data=dt.DeltalakeTable(url=root))
    assert [(r.k, r.v) for r in rdr.read(spark=spark).collect()] == [("a", 1)]
    # time travel at/above the checkpoint version also uses it
    assert [(r.k, r.v) for r in rdr.read(spark=spark, version=6).collect()] == [("a", 1)]


def test_delta_log_compaction_files_ignored(spark, tmp_path):
    """Log-compaction files (<start>.<end>.compacted.json) must not be
    replayed: their constituent commits are listed individually, and a
    compaction spanning past a version= target would smuggle in later
    actions (here: replaying 0.1.compacted.json at version=0 would apply
    v1's add/remove and flip the snapshot)."""
    root = str(tmp_path / "cmp")
    os.makedirs(f"{root}/_delta_log")
    spark.createDataFrame([("a", 1)], "k string, v long").coalesce(1) \
        .write.parquet(f"{root}/f0")
    spark.createDataFrame([("b", 2)], "k string, v long").coalesce(1) \
        .write.parquet(f"{root}/f1")
    f0 = [f for f in os.listdir(f"{root}/f0") if f.endswith(".parquet")][0]
    f1 = [f for f in os.listdir(f"{root}/f1") if f.endswith(".parquet")][0]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        f.write(_delta_meta(_DELTA_SCHEMA) + "\n")
        f.write(_delta_add(f"f0/{f0}") + "\n")
    with open(f"{root}/_delta_log/{1:020d}.json", "w") as f:
        f.write(_delta_add(f"f1/{f1}") + "\n")
        f.write(json.dumps({"remove": {"path": f"f0/{f0}", "dataChange": True}}) + "\n")
    with open(f"{root}/_delta_log/{0:020d}.{1:020d}.compacted.json", "w") as f:
        f.write(_delta_meta(_DELTA_SCHEMA) + "\n")
        f.write(_delta_add(f"f1/{f1}") + "\n")
        f.write(json.dumps({"remove": {"path": f"f0/{f0}", "dataChange": True}}) + "\n")
    rdr = DeltaLakeReader(data=dt.DeltalakeTable(url=root))
    # latest snapshot unaffected by double-replaying the compaction
    assert {(r.k, r.v) for r in rdr.read(spark=spark).collect()} == {("b", 2)}
    # version 0 must NOT see v1's actions through the compaction file
    assert {(r.k, r.v) for r in rdr.read(spark=spark, version=0).collect()} == {("a", 1)}


def test_iceberg_v10_numeric_sort_and_file_uri_location(spark, tmp_path):
    """v10 must beat v9 (numeric, not lexicographic) and file:// locations
    rewrite after relocation."""
    import shutil

    orig = str(tmp_path / "orig")
    os.makedirs(f"{orig}/metadata")
    spark.createDataFrame([(5, "new")], "id long, s string").coalesce(1) \
        .write.parquet(f"{orig}/data/d0")
    fn = [f for f in os.listdir(f"{orig}/data/d0") if f.endswith(".parquet")][0]
    write_avro(f"{orig}/metadata/man0.avro", _MANIFEST_ENTRY_SCHEMA, [
        {"status": 1, "data_file": {"content": 0,
                                    "file_path": f"file://{orig}/data/d0/{fn}",
                                    "file_format": "PARQUET", "record_count": 1}},
    ])
    write_avro(f"{orig}/metadata/mlist.avro", _MANIFEST_FILE_SCHEMA, [
        {"manifest_path": f"file://{orig}/metadata/man0.avro", "manifest_length": 1},
    ])
    sch = {"type": "struct", "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "s", "required": False, "type": "string"},
    ]}
    stale = {"format-version": 1, "location": f"file://{orig}",
             "current-snapshot-id": -1, "schema": sch, "snapshots": []}
    live = {"format-version": 1, "location": f"file://{orig}",
            "current-snapshot-id": 9, "schema": sch,
            "snapshots": [{"snapshot-id": 9,
                           "manifest-list": f"file://{orig}/metadata/mlist.avro"}]}
    for v in range(1, 10):
        with open(f"{orig}/metadata/v{v}.metadata.json", "w") as f:
            json.dump(stale, f)
    with open(f"{orig}/metadata/v10.metadata.json", "w") as f:
        json.dump(live, f)
    moved = str(tmp_path / "moved")
    import shutil as _sh
    _sh.move(orig, moved)
    df = IcebergTableReader(data=dt.IcebergDataset(url=moved)).read(spark=spark)
    assert [(r.id, r.s) for r in df.collect()] == [(5, "new")]


def test_to_delta_roundtrip_append_timetravel(spark, tmp_path):
    """Jar-free Delta writer round-trips with the stdlib log-replay
    reader: create (v0) -> append (v1) -> overwrite (v2), with version=
    time travel at every step and a schema guard on append."""
    import pytest as _pytest

    from intake_spark.datatypes import DeltalakeTable
    from intake_spark.lakehouse import DeltaLakeReader
    from intake_spark.output import to_delta

    root = str(tmp_path / "dtab")
    d1 = spark.range(5).selectExpr("id", "id * 2 AS v")
    to_delta(d1, root)
    rd = lambda **kw: DeltaLakeReader(data=DeltalakeTable(url=root)).read(spark=spark, **kw)
    assert sorted(r.id for r in rd().collect()) == [0, 1, 2, 3, 4]

    d2 = spark.range(5, 8).selectExpr("id", "id * 2 AS v")
    to_delta(d2, root, mode="append")
    assert rd().count() == 8
    assert rd(version=0).count() == 5  # time travel to the create

    with _pytest.raises(ValueError, match="schema"):
        to_delta(spark.range(3).selectExpr("id AS other"), root, mode="append")

    d3 = spark.range(100, 102).selectExpr("id", "id * 2 AS v")
    to_delta(d3, root, mode="overwrite")
    assert sorted(r.id for r in rd().collect()) == [100, 101]
    assert rd(version=1).count() == 8  # pre-overwrite snapshot intact


def test_to_delta_partitioned_prunes(spark, tmp_path):
    """Partitioned jar-free Delta write: hive-layout paths, partition
    values in the add actions, and Catalyst partition pruning on read."""
    from intake_spark.datatypes import DeltalakeTable
    from intake_spark.lakehouse import DeltaLakeReader
    from intake_spark.output import to_delta

    root = str(tmp_path / "ptab")
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "id int, grp string"
    )
    to_delta(df, root, partition_by=["grp"])
    out = DeltaLakeReader(data=DeltalakeTable(url=root)).read(spark=spark)
    assert sorted((r.id, r.grp) for r in out.collect()) == [(1, "a"), (2, "a"), (3, "b"), (4, "c")]
    q = out.filter(out.grp == "a")
    assert sorted(r.id for r in q.collect()) == [1, 2]
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(grp" in plan or "grp#" in plan

    # appends inherit the table's partition columns
    to_delta(spark.createDataFrame([(9, "b")], "id int, grp string"), root, mode="append")
    out2 = DeltaLakeReader(data=DeltalakeTable(url=root)).read(spark=spark)
    assert out2.filter(out2.grp == "b").count() == 2


def test_delta_checkpoint_and_timestamp_travel(spark, tmp_path):
    """delta_checkpoint compacts the log into the parquet checkpoint the
    reader already consumes (replay skips all JSON <= ckpt version), and
    timestamp= resolves a version via commitInfo timestamps."""
    import json
    import os

    from intake_spark.datatypes import DeltalakeTable
    from intake_spark.lakehouse import DeltaLakeReader, delta_checkpoint
    from intake_spark.output import to_delta

    root = str(tmp_path / "ck")
    to_delta(spark.range(4).selectExpr("id"), root)
    to_delta(spark.range(4, 6).selectExpr("id"), root, mode="append")
    ver = delta_checkpoint(root, spark=spark)
    assert ver == 1
    assert os.path.exists(f"{root}/_delta_log/{ver:020d}.checkpoint.parquet")

    rd = lambda **kw: DeltaLakeReader(data=DeltalakeTable(url=root)).read(spark=spark, **kw)
    assert rd().count() == 6
    # append after the checkpoint: replay = checkpoint + 1 commit
    to_delta(spark.range(6, 9).selectExpr("id"), root, mode="append")
    assert rd().count() == 9

    # timestamp travel: doctor the commitInfo timestamps to known values
    log = f"{root}/_delta_log"
    for i, ts in enumerate([1000_000, 2000_000, 3000_000]):
        p = f"{log}/{i:020d}.json"
        lines = [json.loads(ln) for ln in open(p) if ln.strip()]
        for act in lines:
            if "commitInfo" in act:
                act["commitInfo"]["timestamp"] = ts
        with open(p, "w") as f:
            f.write("\n".join(json.dumps(a) for a in lines) + "\n")
    # 1970-01-01 00:40 UTC = 2400s = between commit 1 (2000s) and 2 (3000s)
    assert rd(timestamp="1970-01-01 00:40:00").count() == 6
    assert rd(timestamp="1970-01-01 00:20:00").count() == 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no Delta commit"):
        rd(timestamp="1970-01-01 00:00:10")
    with _pytest.raises(ValueError, match="not both"):
        rd(version=1, timestamp="1970-01-01")


def test_iceberg_timestamp_travel(spark, tmp_path):
    """timestamp= resolves the newest snapshot with timestamp-ms <= the
    UTC target (Iceberg's timestampAsOf)."""
    root = str(tmp_path / "icets")
    os.makedirs(f"{root}/metadata")
    os.makedirs(f"{root}/data")
    spark.createDataFrame([(1, "x")], "id long, s string").coalesce(1) \
        .write.parquet(f"{root}/data/d0")
    spark.createDataFrame([(2, "y")], "id long, s string").coalesce(1) \
        .write.parquet(f"{root}/data/d1")
    files = {}
    for d in ("d0", "d1"):
        fn = [f for f in os.listdir(f"{root}/data/{d}") if f.endswith(".parquet")][0]
        files[d] = f"{root}/data/{d}/{fn}"
    for i, d in enumerate(("d0", "d1")):
        write_avro(f"{root}/metadata/m{i}.avro", _MANIFEST_ENTRY_SCHEMA, [
            {"status": 1, "data_file": {"content": 0, "file_path": files[d],
                                        "file_format": "PARQUET", "record_count": 1}},
        ])
    write_avro(f"{root}/metadata/ml0.avro", _MANIFEST_FILE_SCHEMA,
               [{"manifest_path": f"{root}/metadata/m0.avro", "manifest_length": 1}])
    write_avro(f"{root}/metadata/ml1.avro", _MANIFEST_FILE_SCHEMA,
               [{"manifest_path": f"{root}/metadata/m0.avro", "manifest_length": 1},
                {"manifest_path": f"{root}/metadata/m1.avro", "manifest_length": 1}])
    meta = {
        "format-version": 2, "location": root,
        "current-snapshot-id": 2, "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "s", "required": False, "type": "string"}]}],
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1_000_000,
             "manifest-list": f"{root}/metadata/ml0.avro"},
            {"snapshot-id": 2, "timestamp-ms": 3_000_000,
             "manifest-list": f"{root}/metadata/ml1.avro"},
        ],
    }
    with open(f"{root}/metadata/v1.metadata.json", "w") as f:
        json.dump(meta, f)
    with open(f"{root}/metadata/version-hint.text", "w") as f:
        f.write("1")

    rd = lambda **kw: IcebergTableReader(data=dt.IcebergDataset(url=root)).read(spark=spark, **kw)
    assert rd().count() == 2  # current
    # 00:40 UTC = 2400s: only snapshot 1 (1000s) qualifies
    assert {r.s for r in rd(timestamp="1970-01-01 00:40:00").collect()} == {"x"}
    assert rd(timestamp="1970-01-01 01:00:00").count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no Iceberg snapshot"):
        rd(timestamp="1970-01-01 00:00:05")
    with _pytest.raises(ValueError, match="not both"):
        rd(snapshot_id=1, timestamp="1970-01-01")


def test_delta_checkpoint_after_vacuum_keeps_old_adds(spark, tmp_path):
    """Re-checkpointing after log retention removed old JSON commits must
    seed from the existing checkpoint — replaying only surviving commits
    silently lost every older add."""
    import os

    from intake_spark import datatypes as dt
    from intake_spark.lakehouse import DeltaLakeReader, delta_checkpoint
    from intake_spark.output import to_delta

    url = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1,)], "a long")
    to_delta(df1, url)
    df2 = spark.createDataFrame([(2,)], "a long")
    to_delta(df2, url, mode="append")
    delta_checkpoint(url)
    # third commit, then vacuum the pre-checkpoint JSON commits
    to_delta(spark.createDataFrame([(3,)], "a long"), url, mode="append")
    log = os.path.join(url, "_delta_log")
    for f in sorted(os.listdir(log)):
        if f.endswith(".json") and int(f[:20]) <= 1:
            os.remove(os.path.join(log, f))
    v = delta_checkpoint(url)
    assert v == 2
    got = sorted(
        r.a for r in DeltaLakeReader(data=dt.DeltalakeTable(url=url)).read(spark=spark).collect()
    )
    assert got == [1, 2, 3]


def test_delta_checkpoint_seeds_from_multipart(spark, tmp_path):
    """Re-checkpointing a table whose existing checkpoint is MULTI-PART
    (standard Delta writers emit 'parts') must load all parts before
    skipping <=ckpt commits — otherwise every pre-checkpoint add is
    silently dropped from the new checkpoint."""
    import json
    import os

    from intake_spark import datatypes as dt
    from intake_spark.lakehouse import DeltaLakeReader, delta_checkpoint
    from intake_spark.output import to_delta

    url = str(tmp_path / "t")
    to_delta(spark.createDataFrame([(1,)], "a long"), url)
    to_delta(spark.createDataFrame([(2,)], "a long"), url, mode="append")
    delta_checkpoint(url)
    log = os.path.join(url, "_delta_log")
    # rewrite the single-file checkpoint as a 2-part one (reader naming)
    single = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    cdf = spark.read.parquet(single).collect()
    half = len(cdf) // 2 or 1
    schema = spark.read.parquet(single).schema
    spark.createDataFrame(cdf[:half], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(single + ".p1.tmp")
    spark.createDataFrame(cdf[half:], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(single + ".p2.tmp")
    for i, tmpdir in enumerate((single + ".p1.tmp", single + ".p2.tmp"), 1):
        part = [f for f in os.listdir(tmpdir) if f.endswith(".parquet")][0]
        os.replace(
            os.path.join(tmpdir, part),
            os.path.join(log, f"{1:020d}.checkpoint.{i:010d}.{2:010d}.parquet"),
        )
    os.remove(single)
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "parts": 2}, f)
    # append, then vacuum the pre-checkpoint commits, then re-checkpoint
    to_delta(spark.createDataFrame([(3,)], "a long"), url, mode="append")
    for f2 in sorted(os.listdir(log)):
        if f2.endswith(".json") and int(f2[:20]) <= 1:
            os.remove(os.path.join(log, f2))
    v = delta_checkpoint(url)
    assert v == 2
    got = sorted(
        r.a
        for r in DeltaLakeReader(data=dt.DeltalakeTable(url=url)).read(spark=spark).collect()
    )
    assert got == [1, 2, 3]


def test_delta_checkpoint_missing_file_raises(spark, tmp_path):
    """_last_checkpoint naming a checkpoint whose parquet is gone must
    raise — NOT write a new checkpoint missing the pre-checkpoint adds."""
    import os

    import pytest as _pytest

    from intake_spark.lakehouse import delta_checkpoint
    from intake_spark.output import to_delta

    url = str(tmp_path / "t")
    to_delta(spark.createDataFrame([(1,)], "a long"), url)
    to_delta(spark.createDataFrame([(2,)], "a long"), url, mode="append")
    delta_checkpoint(url)
    log = os.path.join(url, "_delta_log")
    os.remove(os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    with _pytest.raises(ValueError, match="missing"):
        delta_checkpoint(url)


def test_delta_version_beyond_head_raises(spark, tmp_path):
    import pytest as _pytest

    from intake_spark import datatypes as dt
    from intake_spark.lakehouse import DeltaLakeReader
    from intake_spark.output import to_delta

    url = str(tmp_path / "t2")
    to_delta(spark.createDataFrame([(1,)], "a long"), url)
    with _pytest.raises(ValueError, match="does not exist"):
        DeltaLakeReader(data=dt.DeltalakeTable(url=url)).read(spark=spark, version=50)


def test_to_delta_on_checkpointed_vacuumed_table(spark, tmp_path):
    """Regression (r6 review): writes must resolve previous state through
    the checkpoint. Overwriting a table whose pre-checkpoint commits were
    vacuumed must (a) remove the checkpoint's live files and (b) continue
    the version sequence past the checkpoint — the old JSON-only replay
    wrote version 0 (invisible to readers) and no removes (old rows
    merged into every read)."""
    import glob as _glob

    from intake_spark.lakehouse import delta_checkpoint
    from intake_spark.output import to_delta

    root = str(tmp_path / "ckw")
    to_delta(spark.range(4).selectExpr("id", "id * 2 AS v"), root)       # v0
    to_delta(spark.range(4, 6).selectExpr("id", "id * 2 AS v"), root,
             mode="append")                                               # v1
    assert delta_checkpoint(root, spark=spark) == 1
    for c in _glob.glob(f"{root}/_delta_log/*.json"):
        os.remove(c)  # log retention cleaned everything <= the checkpoint

    to_delta(spark.range(100, 103).selectExpr("id", "id * 2 AS v"), root,
             mode="overwrite")
    rdr = DeltaLakeReader(data=dt.DeltalakeTable(url=root))
    assert sorted(r.id for r in rdr.read(spark=spark).collect()) == [100, 101, 102]
    # the overwrite commit is version 2 (checkpoint was 1), not 0
    assert os.path.exists(f"{root}/_delta_log/{2:020d}.json")

    # append path resolves schema from the checkpoint's metaData too
    to_delta(spark.range(200, 201).selectExpr("id", "id * 2 AS v"), root,
             mode="append")
    assert rdr.read(spark=spark).count() == 4


def test_to_delta_partition_special_chars(spark, tmp_path):
    """Regression (r6 review): partition values with protocol-special
    characters ('%', ':') round-trip — add.path is URI-encoded, the
    logged partitionValues carry the LOGICAL value, and the reader
    resolves the on-disk escaped layout."""
    from intake_spark.output import to_delta

    root = str(tmp_path / "dspecial")
    df = spark.createDataFrame(
        [("100%", 1), ("a:b", 2), ("plain", 3)], "grp string, v long"
    )
    to_delta(df, root, partition_by=["grp"])
    rdr = DeltaLakeReader(data=dt.DeltalakeTable(url=root))
    out = rdr.read(spark=spark)
    assert sorted((r.grp, r.v) for r in out.collect()) == [
        ("100%", 1), ("a:b", 2), ("plain", 3)
    ]
    from pyspark.sql import functions as F_

    assert out.filter(F_.col("grp") == "100%").count() == 1


def test_to_delta_concurrent_commit_fails_loudly(spark, tmp_path):
    """Put-if-absent: a racing writer that computed the same version must
    fail with FileExistsError, not clobber the winner's commit."""
    import pytest as _pytest

    from intake_spark.output import to_delta

    root = str(tmp_path / "drace")
    to_delta(spark.range(3).selectExpr("id", "id AS v"), root)  # v0
    # simulate the race: the loser's log replay returns state one version
    # behind (the winner commits between replay and commit write), so the
    # loser computes an already-taken version number
    import intake_spark.lakehouse as lh

    orig = lh.delta_log_state

    def stale(log, spark_, version=None):
        st = orig(log, spark_, version)
        return {**st, "version": st["version"] - 1}

    lh.delta_log_state = stale
    try:
        with _pytest.raises(FileExistsError):
            to_delta(spark.range(3).selectExpr("id", "id AS v"), root,
                     mode="append")
    finally:
        lh.delta_log_state = orig


def test_delta_timestamp_travel_falls_back_to_checkpoint(spark, tmp_path):
    """Regression (r6 review): timestamp= before every surviving commit on
    a checkpointed+vacuumed table resolves to the checkpoint snapshot
    (the oldest reconstructable state) instead of raising."""
    import glob as _glob

    from intake_spark.lakehouse import delta_checkpoint
    from intake_spark.output import to_delta

    root = str(tmp_path / "dts")
    to_delta(spark.range(2).selectExpr("id", "id AS v"), root)  # v0
    assert delta_checkpoint(root, spark=spark) == 0
    for c in _glob.glob(f"{root}/_delta_log/*.json"):
        os.remove(c)
    to_delta(spark.range(5, 7).selectExpr("id", "id AS v"), root,
             mode="append")  # v1, commit timestamp = now
    rdr = DeltaLakeReader(data=dt.DeltalakeTable(url=root))
    out = rdr.read(spark=spark, timestamp="2000-01-01")
    assert sorted(r.id for r in out.collect()) == [0, 1]


def test_to_iceberg_roundtrip_append_timetravel(spark, tmp_path):
    """Jar-free Iceberg v1 write twin: distributed parquet + driver-side
    Avro manifest/manifest-list (spec field-ids) + vN.metadata.json.
    Round-trips with IcebergTableReader incl. append, snapshot time
    travel, overwrite, and whole-table relocation; per-file record
    counts come from the parquet footers."""
    import json as _json
    import os

    from intake_spark import output
    from intake_spark.lakehouse import IcebergTableReader, decode_avro_file

    root = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, x double"
    ).repartition(2)
    desc = output.to_iceberg(df1, root)
    snap1 = desc.metadata["snapshot_id"]
    back = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(spark=spark)
    assert sorted((r.id, r.s, r.x) for r in back.collect()) == [
        (1, "a", 1.5), (2, "b", 2.5)
    ]

    # manifest carries real footer record counts and ADDED status
    hintv = open(os.path.join(root, "metadata", "version-hint.text")).read()
    meta = _json.load(
        open(os.path.join(root, "metadata", f"v{hintv}.metadata.json"))
    )
    ml = meta["snapshots"][-1]["manifest-list"]
    man = decode_avro_file(decode_avro_file(ml)[0]["manifest_path"])
    assert sum(e["data_file"]["record_count"] for e in man) == 2
    assert all(e["status"] == 1 for e in man)

    df2 = spark.createDataFrame([(3, "c", 3.5)], "id long, s string, x double")
    output.to_iceberg(df2, root, mode="append")
    back2 = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(spark=spark)
    assert sorted(r.id for r in back2.collect()) == [1, 2, 3]

    tt = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(
        spark=spark, snapshot_id=snap1
    )
    assert sorted(r.id for r in tt.collect()) == [1, 2]

    output.to_iceberg(
        spark.createDataFrame([(9, "z", 9.0)], "id long, s string, x double"),
        root,
        mode="overwrite",
    )
    moved = str(tmp_path / "tbl_moved")
    os.rename(root, moved)
    back3 = IcebergTableReader(data=dt.IcebergDataset(url=moved)).read(spark=spark)
    assert [r.id for r in back3.collect()] == [9]

    import pytest as _pytest

    bad = spark.createDataFrame([(1, 2)], "id long, other long")
    with _pytest.raises(ValueError, match="append schema"):
        output.to_iceberg(bad, moved, mode="append")


def test_to_iceberg_relocated_append_and_schema_history(spark, tmp_path):
    """Review regressions: (a) appending to a RELOCATED table must
    rebase the prior snapshots' metadata chains, keeping historical time
    travel readable at the new location; (b) a schema-changing overwrite
    retains prior schemas with distinct schema-ids and time travel reads
    old files through their own schema, not the current one; (c) the
    metadata carries a name mapping so id-less parquet resolves in
    spec readers; (d) field ids are never reused across schemas."""
    import json as _json
    import os

    from intake_spark import output
    from intake_spark.lakehouse import IcebergTableReader

    root = str(tmp_path / "tbl")
    desc1 = output.to_iceberg(
        spark.createDataFrame([(1, "a")], "id long, s string"), root
    )
    snap1 = desc1.metadata["snapshot_id"]
    moved = str(tmp_path / "moved")
    os.rename(root, moved)

    output.to_iceberg(
        spark.createDataFrame([(2, "b")], "id long, s string"),
        moved,
        mode="append",
    )
    rd = lambda **kw: IcebergTableReader(  # noqa: E731
        data=dt.IcebergDataset(url=moved)
    ).read(spark=spark, **kw)
    assert sorted(r.id for r in rd().collect()) == [1, 2]
    assert [r.id for r in rd(snapshot_id=snap1).collect()] == [1]

    output.to_iceberg(
        spark.createDataFrame([(7.5, True)], "x double, ok boolean"),
        moved,
        mode="overwrite",
    )
    assert sorted(rd().columns) == ["ok", "x"]
    assert [(r.id, r.s) for r in rd(snapshot_id=snap1).collect()] == [(1, "a")]

    hint = open(os.path.join(moved, "metadata", "version-hint.text")).read()
    meta = _json.load(
        open(os.path.join(moved, "metadata", f"v{hint}.metadata.json"))
    )
    assert len(meta["schemas"]) == 2 and meta["current-schema-id"] == 1
    assert "schema.name-mapping.default" in meta["properties"]
    ids = [f["id"] for s in meta["schemas"] for f in s["fields"]]
    assert len(ids) == len(set(ids))


def test_avro_logical_types_roundtrip(spark, tmp_path):
    """Avro logical types both directions: to_avro writes date /
    timestamp-micros / local-timestamp-micros / decimal annotations
    (temporal columns projected to epoch ints ENGINE-side — tz-proof);
    AvroOCFReader maps them back to date/timestamp/timestamp_ntz/decimal
    Spark types with exact values, nulls preserved."""
    import datetime
    import decimal

    from intake_spark import output
    from intake_spark.lakehouse import AvroOCFReader

    rows = [
        (1, datetime.date(2021, 3, 14),
         datetime.datetime(2021, 3, 14, 6, 30, 0, 123456),
         datetime.datetime(2021, 3, 14, 2, 30, 0),
         decimal.Decimal("12345.6789")),
        (2, None, None, None, None),
        (3, datetime.date(1969, 7, 20),          # pre-1970
         datetime.datetime(1969, 7, 20, 20, 17, 40),
         datetime.datetime(1969, 7, 20, 20, 17, 40),
         decimal.Decimal("-0.0001")),
    ]
    df = spark.createDataFrame(
        rows, "id long, d date, ts timestamp, tn timestamp_ntz, dec decimal(18,4)"
    )
    url = str(tmp_path / "av_logical")
    out = output.to_avro(df, url, codec="snappy")
    back = AvroOCFReader(data=out).read(spark=spark)
    assert dict(back.dtypes) == {
        "id": "bigint", "d": "date", "ts": "timestamp",
        "tn": "timestamp_ntz", "dec": "decimal(18,4)",
    }
    got = {r.id: r for r in back.collect()}
    src = {r.id: r for r in df.collect()}
    for i in (1, 2, 3):
        for c in ("d", "ts", "tn", "dec"):
            assert got[i][c] == src[i][c], (i, c, got[i][c], src[i][c])


def test_avro_foreign_logical_annotations_decode(tmp_path):
    """A file whose schema carries logicalType annotations with RAW base
    values (what fastavro/Java emit) decodes to typed values: date,
    local timestamps, decimal; UTC timestamp-micros stays an epoch long
    by design (converted JVM-side by the reader, tz-proof)."""
    import datetime
    import decimal

    schema = {
        "type": "record", "name": "E",
        "fields": [
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "t", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "l", "type": {"type": "long",
                                   "logicalType": "local-timestamp-millis"}},
            {"name": "x", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 10, "scale": 2}},
        ],
    }
    recs = [{"d": 18700, "t": 1615703400123456, "l": 86400000 + 1500,
             "x": (-12345).to_bytes(2, "big", signed=True)}]
    p = str(tmp_path / "foreign.avro")
    write_avro(p, schema, recs)
    out = decode_avro_file(p)[0]
    assert out["d"] == datetime.date(1970, 1, 1) + datetime.timedelta(days=18700)
    assert out["t"] == 1615703400123456  # UTC instant: raw long by design
    assert out["l"] == datetime.datetime(1970, 1, 2, 0, 0, 1, 500000)
    assert out["x"] == decimal.Decimal("-123.45")


def test_avro_decimal_38_digits_exact(spark, tmp_path):
    """Regression: Decimal.scaleb rounds to the 28-digit context default,
    silently corrupting decimals with more significant digits; the digit-
    arithmetic conversion keeps all 38 advertised digits exact, both
    directions."""
    import decimal

    from intake_spark import output
    from intake_spark.lakehouse import AvroOCFReader, _dec_to_unscaled, _unscaled_to_dec

    big = decimal.Decimal("123456789012345678901234567890.12345678")
    assert _dec_to_unscaled(big, 8) == 12345678901234567890123456789012345678
    assert _unscaled_to_dec(10**37 + 1, 2) == decimal.Decimal(10**37 + 1).scaleb(
        -2, decimal.Context(prec=60)
    )

    df = spark.createDataFrame([(1, big)], "id long, x decimal(38,8)")
    out = output.to_avro(df, str(tmp_path / "bigdec"), codec="null")
    back = AvroOCFReader(data=out).read(spark=spark).collect()
    assert back[0].x == big


def test_avro_named_fixed_decimal_reference(tmp_path):
    """Regression: decoding a named fixed decimal registered the
    logicalType-STRIPPED copy, so a later by-name reference decoded as
    raw bytes instead of Decimal."""
    import decimal

    schema = {
        "type": "record", "name": "E",
        "fields": [
            {"name": "a", "type": {"type": "fixed", "name": "dec8", "size": 8,
                                   "logicalType": "decimal", "precision": 18,
                                   "scale": 2}},
            {"name": "b", "type": "dec8"},  # by-name reference
        ],
    }
    recs = [{"a": (12345).to_bytes(8, "big", signed=True),
             "b": (-777).to_bytes(8, "big", signed=True)}]
    p = str(tmp_path / "fixdec.avro")
    # product OCF writer (the test-side _enc helper doesn't register
    # named fixed types); the regression target is the DECODE side
    from intake_spark.lakehouse import write_avro_records

    write_avro_records(p, schema, recs)
    out = decode_avro_file(p)[0]
    assert out["a"] == decimal.Decimal("123.45")
    assert out["b"] == decimal.Decimal("-7.77")


def test_to_avro_dotted_column_and_nan_array(spark, tmp_path):
    """Regressions: (a) a column literally named 'user.id' must write
    (bare F.col parses it as struct access); (b) NaN inside a
    non-nullable double array stays NaN (None crashed struct.pack);
    nullable slots null it, matching the top-level convention."""
    import math

    from pyspark.sql import types as T

    from intake_spark import output
    from intake_spark.lakehouse import AvroOCFReader

    schema = T.StructType(
        [
            T.StructField("user.id", T.LongType()),
            T.StructField(
                "xs", T.ArrayType(T.DoubleType(), containsNull=False)
            ),
        ]
    )
    df = spark.createDataFrame([(7, [1.0, float("nan")])], schema)
    out = output.to_avro(df, str(tmp_path / "dotted"), codec="null")
    back = AvroOCFReader(data=out).read(spark=spark).collect()
    assert back[0]["user.id"] == 7
    # the FILE carries the NaN exactly (None would have crashed
    # struct.pack in the writer); the Spark read-back maps array-element
    # NaN to NULL in the pandas→Arrow hop — an engine-wide Arrow
    # behavior, asserted at the file level here
    import glob as _glob

    from intake_spark.lakehouse import decode_avro_file

    f = _glob.glob(str(tmp_path / "dotted") + "/*.avro")[0]
    xs = decode_avro_file(f)[0]["xs"]
    assert xs[0] == 1.0 and math.isnan(xs[1])


def test_write_avro_records_aware_datetime_utc(tmp_path):
    """Regression: aware datetimes dropped tzinfo (shifting the instant
    by the UTC offset); they now convert to UTC first."""
    import datetime

    from intake_spark.lakehouse import decode_avro_file, write_avro_records

    schema = {
        "type": "record", "name": "E",
        "fields": [{"name": "t",
                    "type": {"type": "long", "logicalType": "timestamp-micros"}}],
    }
    tz5 = datetime.timezone(datetime.timedelta(hours=5))
    aware = datetime.datetime(2021, 1, 1, 12, 0, tzinfo=tz5)  # 07:00 UTC
    p = str(tmp_path / "aware.avro")
    write_avro_records(p, schema, [{"t": aware}])
    out = decode_avro_file(p)[0]
    assert out["t"] == int(datetime.datetime(2021, 1, 1, 7, 0)
                           .timestamp() * 0 + 1609484400000000)


def test_to_iceberg_partitioned_roundtrip(spark, tmp_path):
    """Identity-partitioned Iceberg write: data files land one partition
    per file with the partition columns dropped (the spec's
    migrated-table convention), typed values in the manifest partition
    tuples; the reader fills them back as plan-time literals (partition
    filters prune whole groups). Append must keep the partitioning;
    relocated partitioned tables still read."""
    import datetime
    import os

    from intake_spark import output
    from intake_spark.lakehouse import IcebergTableReader

    rows = [
        (i, f"s{i % 3}", datetime.date(2021, 1, 1 + i % 4), float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, src string, d date, x double")
    root = str(tmp_path / "ptbl")
    output.to_iceberg(df, root, partition_by=["src", "d"])
    rd = lambda u: IcebergTableReader(  # noqa: E731
        data=dt.IcebergDataset(url=u)
    ).read(spark=spark)
    back = rd(root)
    got = {r.id: r for r in back.collect()}
    assert len(got) == 40
    for i in (0, 5, 17):
        assert got[i].src == f"s{i % 3}"
        assert got[i].d == datetime.date(2021, 1, 1 + i % 4)
    assert back.filter("src = 's1'").count() == sum(
        1 for i in range(40) if i % 3 == 1
    )

    df2 = spark.createDataFrame(
        [(100, "s9", datetime.date(2022, 2, 2), 1.0)],
        "id long, src string, d date, x double",
    )
    output.to_iceberg(df2, root, mode="append", partition_by=["src", "d"])
    g = {r.id: r for r in rd(root).collect()}
    assert len(g) == 41 and g[100].src == "s9"

    with pytest.raises(ValueError, match="partitioning"):
        output.to_iceberg(df2, root, mode="append")  # unpartitioned append

    moved = str(tmp_path / "pmoved")
    os.rename(root, moved)
    assert rd(moved).count() == 41


def test_iceberg_partitioned_single_scan_plan(spark, tmp_path):
    """Hive-laid-out partitioned Iceberg tables read through ONE FileScan
    node with native PartitionFilters (basePath fast path) — NOT the
    O(#partitions)-plan per-group union, which would be a Catalyst
    blowup on a 10k-partition table."""
    import datetime

    from intake_spark import output
    from intake_spark.lakehouse import IcebergTableReader

    rows = [
        (i, f"s{i % 3}", datetime.date(2021, 1, 1 + i % 4), float(i))
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "id long, src string, d date, x double")
    root = str(tmp_path / "ptbl")
    output.to_iceberg(df, root, partition_by=["src", "d"])
    back = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(spark=spark)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    fplan = (
        back.filter("src = 's1'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = [ln for ln in fplan.splitlines() if "PartitionFilters" in ln]
    assert pf and "s1" in pf[0]


def test_hive_base_path_validation():
    """_hive_base_path: manifest tuples are the source of truth — a dir
    layout that disagrees (renamed value, missing segment, differing
    bases) must return None so the reader falls back to manifest fill."""
    import datetime

    from pyspark.sql import types as T

    from intake_spark.lakehouse import _hive_base_path

    # built without fromDDL: this test must not depend on a live JVM
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("src", T.StringType()),
            T.StructField("d", T.DateType()),
        ]
    )
    idf = [{"name": "src"}, {"name": "d"}]
    pn = ["src", "d"]
    f1 = "/t/data/src=a/d=2021-01-02/p1.parquet"
    f2 = "/t/data/src=b/d=2021-01-03/p2.parquet"
    parts = {
        f1: {"src": "a", "d": datetime.date(2021, 1, 2)},
        f2: {"src": "b", "d": datetime.date(2021, 1, 3)},
    }
    assert _hive_base_path([f1, f2], parts, idf, pn, schema) == "/t/data"
    # epoch-day manifest values (un-annotated Avro) also agree
    parts_ed = {f1: {"src": "a", "d": 18629}, f2: {"src": "b", "d": 18630}}
    assert _hive_base_path([f1, f2], parts_ed, idf, pn, schema) == "/t/data"
    # dir value disagrees with the manifest -> None
    bad = dict(parts)
    bad[f2] = {"src": "ZZ", "d": datetime.date(2021, 1, 3)}
    assert _hive_base_path([f1, f2], bad, idf, pn, schema) is None
    # missing hive segment -> None
    f3 = "/t/data/flat-p3.parquet"
    assert (
        _hive_base_path([f1, f3], {**parts, f3: {"src": "a", "d": None}},
                        idf, pn, schema)
        is None
    )
    # differing base dirs -> None
    f4 = "/elsewhere/src=a/d=2021-01-02/p4.parquet"
    assert (
        _hive_base_path([f1, f4], {**parts, f4: parts[f1]}, idf, pn, schema)
        is None
    )
    # null partition: dir sentinel must pair with a null manifest value
    f5 = "/t/data/src=__HIVE_DEFAULT_PARTITION__/d=2021-01-02/p5.parquet"
    ok5 = {f5: {"src": None, "d": datetime.date(2021, 1, 2)}}
    assert _hive_base_path([f5], ok5, idf, pn, schema) == "/t/data"
    assert (
        _hive_base_path([f5], {f5: {"src": "a", "d": datetime.date(2021, 1, 2)}},
                        idf, pn, schema)
        is None
    )


def test_unescape_hive_segment_spark_semantics():
    """Hive dir decoding must match Spark's unescapePathName byte-wise
    %XX rule, NOT urllib unquote's UTF-8 reassembly — a multi-byte
    percent-encoded dir ('%C3%A9') decodes to 'Ã©' under Spark, so
    validating it against a manifest value 'é' must FAIL (fallback to
    manifest fill) rather than let the fast path read mojibake."""
    from pyspark.sql import types as T

    from intake_spark.lakehouse import _hive_base_path, unescape_hive_segment

    assert unescape_hive_segment("a%2Fb") == "a/b"
    assert unescape_hive_segment("100%25") == "100%"
    assert unescape_hive_segment("%C3%A9") == "Ã©"  # NOT 'é'
    assert unescape_hive_segment("%ZZ") == "%ZZ"  # invalid hex passes through
    assert unescape_hive_segment("%4") == "%4"
    assert unescape_hive_segment("__HIVE_DEFAULT_PARTITION__") is None

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("src", T.StringType())]
    )
    idf = [{"name": "src"}]
    f1 = "/t/data/src=%C3%A9/p1.parquet"
    assert (
        _hive_base_path([f1], {f1: {"src": "é"}}, idf, ["src"], schema)
        is None
    )
    # non-canonical numeric dir values Spark's cast would not parse the
    # same way as python int() -> fallback, never the fast path
    schema_i = T.StructType(
        [T.StructField("x", T.DoubleType()), T.StructField("k", T.LongType())]
    )
    f2 = "/t/data/k=+7/p.parquet"
    assert (
        _hive_base_path([f2], {f2: {"k": 7}}, [{"name": "k"}], ["k"], schema_i)
        is None
    )


def test_iceberg_mixed_partition_files(spark, tmp_path):
    """A migrated identity-partitioned table (partition cols absent from
    data files) appended to by a standard Iceberg writer (partition cols
    PRESENT in data files) must read both file populations correctly —
    the per-file footer probe splits them instead of trusting file[0]."""
    import datetime

    from intake_spark import output
    from intake_spark.lakehouse import IcebergTableReader, decode_avro_file

    rows = [
        (i, f"s{i % 2}", datetime.date(2021, 1, 1 + i % 2), float(i))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "id long, src string, d date, x double")
    root = str(tmp_path / "mixtbl")
    output.to_iceberg(df, root, partition_by=["src", "d"])

    # hand-append a data file that KEEPS the partition columns (the
    # standard-writer convention), with a matching manifest entry
    import glob as _glob
    import json as _json
    import os as _os
    import time as _time
    import uuid as _uuid

    from intake_spark.lakehouse import write_avro_records

    extra = spark.createDataFrame(
        [(100, "s0", datetime.date(2021, 1, 1), 5.0)],
        "id long, src string, d date, x double",
    )
    ddir = _os.path.join(root, "data", "src=s0", "d=2021-01-01")
    stage = str(tmp_path / "stage1")
    extra.coalesce(1).write.mode("overwrite").parquet(stage)
    pf = [f for f in _os.listdir(stage) if f.endswith(".parquet")][0]
    full_path = _os.path.join(ddir, f"full-{pf}")
    _os.replace(_os.path.join(stage, pf), full_path)

    # current metadata / snapshot
    mdir = _os.path.join(root, "metadata")
    with open(_os.path.join(mdir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(_os.path.join(mdir, f"v{v}.metadata.json")) as fh:
        meta = _json.load(fh)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    mlist = snap["manifest-list"]
    old_manifests = [
        m["manifest_path"] for m in decode_avro_file(mlist)
    ]
    # one more manifest holding the full-columns file, partition tuple set
    from intake_spark.output import _iceberg_manifest_schema

    by_name = {
        f["name"]: f for f in meta["schemas"][-1]["fields"]
    }
    msch = _iceberg_manifest_schema(["src", "d"], by_name)
    import pyarrow.parquet as _pq

    man2 = _os.path.join(mdir, f"{_uuid.uuid4().hex}-m9.avro")
    write_avro_records(
        man2,
        msch,
        [
            {
                "status": 1,
                "snapshot_id": snap["snapshot-id"],
                "data_file": {
                    "file_path": full_path,
                    "file_format": "PARQUET",
                    "partition": {
                        "src": "s0",
                        "d": datetime.date(2021, 1, 1),
                    },
                    "record_count": 1,
                    "file_size_in_bytes": _os.path.getsize(full_path),
                    "block_size_in_bytes": 1 << 26,
                },
            }
        ],
        meta={
            "schema": _json.dumps(meta["schemas"][-1]),
            "partition-spec": _json.dumps(
                meta["partition-specs"][0]["fields"]
            ),
        },
    )
    # rewrite the manifest list to include it
    ml_entries = decode_avro_file(mlist)
    tmpl = dict(ml_entries[0])
    tmpl["manifest_path"] = man2
    ml_entries.append(tmpl)
    from intake_spark.output import _ICEBERG_MANIFEST_FILE

    write_avro_records(mlist, _ICEBERG_MANIFEST_FILE, ml_entries)

    back = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(
        spark=spark
    )
    got = {r.id: r for r in back.collect()}
    assert len(got) == 9
    assert got[100].src == "s0" and got[100].d == datetime.date(2021, 1, 1)
    assert got[3].src == "s1"
    assert back.filter("src = 's0'").count() == 5


def test_iceberg_v2_position_and_equality_deletes(spark, tmp_path):
    """Hand-built Iceberg v2 merge-on-read table: position deletes drop
    (file, row_index) pairs for data files with seq <= delete seq;
    equality deletes drop matching rows only from STRICTLY older data
    files (a re-inserted row survives). Sequence numbers inherit from
    the manifest-list entry when the manifest entry's is null."""
    import json as _json
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "v2tbl")
    for d in ("metadata", "data", "deletes"):
        _os.makedirs(_os.path.join(root, d))

    fa = _os.path.join(root, "data", "a.parquet")
    fb = _os.path.join(root, "data", "b.parquet")
    pq.write_table(
        pa.table({"id": pa.array(range(5), pa.int64()),
                  "v": [f"a{i}" for i in range(5)]}), fa)
    pq.write_table(
        pa.table({"id": pa.array([10, 11, 12, 13, 14, 2], pa.int64()),
                  "v": [f"b{i}" for i in range(6)]}), fb)

    # position deletes (seq 2, via manifest-list inheritance): A pos 0+3
    # apply (A seq 1 <= 2); B pos 0 does NOT (B seq 3 > 2)
    fpd = _os.path.join(root, "deletes", "pos.parquet")
    pq.write_table(
        pa.table({"file_path": [f"file://{fa}", f"file://{fa}", fb],
                  "pos": pa.array([0, 3, 0], pa.int64())}), fpd)
    # equality deletes on id (seq 2): id 4 and 2 drop from A only; id 11
    # survives in B (strictly-older rule)
    fed = _os.path.join(root, "deletes", "eq.parquet")
    pq.write_table(pa.table({"id": pa.array([4, 2, 11], pa.int64())}), fed)

    part_rec = {"type": "record", "name": "r102", "fields": []}
    entry_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": part_rec},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}]},
                ]}},
        ]}
    mlist_schema = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "sequence_number", "type": "long"},
        ]}

    def dfile(path, content=0, eq_ids=None, rec="file://"):
        return {"content": content, "file_path": rec + path,
                "file_format": "PARQUET", "partition": {},
                "record_count": 1,
                "file_size_in_bytes": _os.path.getsize(path),
                "equality_ids": eq_ids}

    mdir = _os.path.join(root, "metadata")
    m_data = _os.path.join(mdir, "m-data.avro")
    write_avro(m_data, entry_schema, [
        {"status": 1, "sequence_number": 1, "data_file": dfile(fa)},
        {"status": 1, "sequence_number": 3,
         "data_file": dfile(fb, rec="")},  # plain path form
    ])
    m_del = _os.path.join(mdir, "m-del.avro")
    write_avro(m_del, entry_schema, [
        # null sequence_number -> inherits the manifest-list entry's (2)
        {"status": 1, "sequence_number": None,
         "data_file": dfile(fpd, content=1)},
        {"status": 1, "sequence_number": 2,
         "data_file": dfile(fed, content=2, eq_ids=[1])},
    ])
    mlist = _os.path.join(mdir, "snap-1.avro")
    write_avro(mlist, mlist_schema, [
        {"manifest_path": m_data, "sequence_number": 1},
        {"manifest_path": m_del, "sequence_number": 2},
    ])

    meta = {
        "format-version": 2, "table-uuid": "u1", "location": root,
        "last-sequence-number": 3, "last-updated-ms": 0,
        "last-column-id": 2,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "string"},
        ]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0, "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "current-snapshot-id": 99,
        "snapshots": [{"snapshot-id": 99, "timestamp-ms": 0,
                       "sequence-number": 3, "manifest-list": mlist,
                       "summary": {"operation": "overwrite"}}],
    }
    with open(_os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        _json.dump(meta, fh)
    with open(_os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")

    back = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(
        spark=spark
    )
    ids = sorted(r.id for r in back.collect())
    # A keeps only id 1 (pos deletes drop 0,3; eq deletes drop 4,2);
    # B keeps everything incl. the re-inserted 2 and the eq-targeted 11
    assert ids == [1, 2, 10, 11, 12, 13, 14]
    vs = {r.id: r.v for r in back.collect()}
    assert vs[1] == "a1" and vs[2] == "b5" and vs[11] == "b1"
    # anti-joins, not a driver-side filter: LeftAnti appears in the plan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan

    # a relocated table still applies deletes: manifest paths rebase via
    # the metadata location, delete CONTENTS (original recorded paths)
    # map through the recorded->local path map
    moved = str(tmp_path / "v2moved")
    _os.rename(root, moved)
    back2 = IcebergTableReader(data=dt.IcebergDataset(url=moved)).read(
        spark=spark
    )
    assert sorted(r.id for r in back2.collect()) == [1, 2, 10, 11, 12, 13, 14]


def test_delta_column_mapping_read(spark, tmp_path):
    """Column-mapped Delta tables (mode=name): parquet files carry
    physical col-<uuid> names (nested struct/array fields too); the
    reader scans physically and renames back to logical, preserving
    null structs. Partitioned variant: hive dirs + partitionValues are
    keyed by PHYSICAL names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def fmeta(i, phys):
        return {"delta.columnMapping.id": i,
                "delta.columnMapping.physicalName": phys}

    nested_t = {"type": "struct", "fields": [
        {"name": "a", "type": "integer", "nullable": True,
         "metadata": fmeta(3, "col-bb")},
        {"name": "b", "type": "string", "nullable": True,
         "metadata": fmeta(4, "col-cc")},
    ]}
    tags_t = {"type": "array", "containsNull": True,
              "elementType": {"type": "struct", "fields": [
                  {"name": "t", "type": "string", "nullable": True,
                   "metadata": fmeta(6, "col-ee")}]}}
    schema_json = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": fmeta(1, "col-aa")},
        {"name": "s", "type": nested_t, "nullable": True,
         "metadata": fmeta(2, "col-dd")},
        {"name": "tags", "type": tags_t, "nullable": True,
         "metadata": fmeta(5, "col-ff")},
    ]}

    root = str(tmp_path / "cmtbl")
    os.makedirs(f"{root}/_delta_log")
    inner = pa.struct([("col-bb", pa.int32()), ("col-cc", pa.string())])
    tbl = pa.table({
        "col-aa": pa.array([1, 2, 3], pa.int64()),
        "col-dd": pa.array([(10, "x"), None, (30, "z")], inner),
        "col-ff": pa.array([[("p",)], [], [("q",), ("r",)]],
                           pa.list_(pa.struct([("col-ee", pa.string())]))),
    })
    pq.write_table(tbl, f"{root}/part-0.parquet")
    conf_meta = json.dumps({"metaData": {
        "id": "m1", "schemaString": json.dumps(schema_json),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "6"},
        "format": {"provider": "parquet", "options": {}}}})
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"]}}) + "\n")
        f.write(conf_meta + "\n")
        f.write(_delta_add("part-0.parquet") + "\n")

    df = DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(spark=spark)
    assert df.columns == ["id", "s", "tags"]
    rows = {r.id: r for r in df.collect()}
    assert rows[1].s.a == 10 and rows[1].s.b == "x"
    assert rows[2].s is None  # null struct stays null
    assert [t.t for t in rows[3].tags] == ["q", "r"]

    # partitioned: dirs + partitionValues keyed by the PHYSICAL name
    proot = str(tmp_path / "cmpart")
    os.makedirs(f"{proot}/_delta_log")
    pschema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": fmeta(1, "col-aa")},
        {"name": "src", "type": "string", "nullable": True,
         "metadata": fmeta(2, "col-pp")},
    ]}
    for sv, ids in (("x", [1, 2]), ("y", [3])):
        os.makedirs(f"{proot}/col-pp={sv}", exist_ok=True)
        pq.write_table(
            pa.table({"col-aa": pa.array(ids, pa.int64())}),
            f"{proot}/col-pp={sv}/f.parquet")
    pmeta = json.dumps({"metaData": {
        "id": "m2", "schemaString": json.dumps(pschema),
        "partitionColumns": ["src"],
        "configuration": {"delta.columnMapping.mode": "name"},
        "format": {"provider": "parquet", "options": {}}}})
    with open(f"{proot}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 2,
                                         "minWriterVersion": 5}}) + "\n")
        f.write(pmeta + "\n")
        f.write(_delta_add("col-pp=x/f.parquet", {"col-pp": "x"}) + "\n")
        f.write(_delta_add("col-pp=y/f.parquet", {"col-pp": "y"}) + "\n")

    pdf = DeltaLakeReader(data=dt.DeltalakeTable(url=proot)).read(spark=spark)
    assert pdf.columns == ["id", "src"]
    assert {(r.id, r.src) for r in pdf.collect()} == {(1, "x"), (2, "x"), (3, "y")}
    assert pdf.filter("src = 'x'").count() == 2


# ---- Delta deletion vectors ---------------------------------------------


def _z85_encode(b: bytes) -> str:
    from intake_spark.lakehouse import _Z85_ALPHABET

    assert len(b) % 4 == 0
    out = []
    for i in range(0, len(b), 4):
        acc = int.from_bytes(b[i : i + 4], "big")
        grp = []
        for _ in range(5):
            grp.append(_Z85_ALPHABET[acc % 85])
            acc //= 85
        out.extend(reversed(grp))
    return "".join(out)


def _ser_roaring32(values, force_bitmap=False, use_runs=False) -> bytes:
    """Test-side standard-format roaring serializer (independent of the
    reader): array containers by default; run containers (cookie 12347)
    or bitmap containers on request."""
    by_hi = {}
    for v in sorted(values):
        by_hi.setdefault(v >> 16, []).append(v & 0xFFFF)
    size = len(by_hi)
    out = bytearray()
    if use_runs:
        out += struct.pack("<I", 12347 | ((size - 1) << 16))
        flags = bytearray((size + 7) // 8)
        for i in range(size):
            flags[i // 8] |= 1 << (i % 8)
        out += flags
        has_offsets = size >= 4
    else:
        out += struct.pack("<I", 12346)
        out += struct.pack("<I", size)
        has_offsets = True
    for k, vs in sorted(by_hi.items()):
        out += struct.pack("<HH", k, len(vs) - 1)
    if has_offsets:
        # sequential layout; compute real offsets from this position
        header_end = len(out) + 4 * size
        offs, pos = [], header_end
        for k, vs in sorted(by_hi.items()):
            offs.append(pos)
            if use_runs:
                runs = _to_runs(vs)
                pos += 2 + 4 * len(runs)
            elif force_bitmap or len(vs) > 4096:
                pos += 8192
            else:
                pos += 2 * len(vs)
        for o in offs:
            out += struct.pack("<I", o)
    for k, vs in sorted(by_hi.items()):
        if use_runs:
            runs = _to_runs(vs)
            out += struct.pack("<H", len(runs))
            for s0, ln in runs:
                out += struct.pack("<HH", s0, ln)
        elif force_bitmap or len(vs) > 4096:
            words = [0] * 1024
            for v in vs:
                words[v >> 6] |= 1 << (v & 63)
            out += struct.pack("<1024Q", *words)
        else:
            out += struct.pack(f"<{len(vs)}H", *vs)
    return bytes(out)


def _to_runs(vs):
    runs = []
    for v in sorted(vs):
        if runs and v == runs[-1][0] + runs[-1][1] + 1:
            runs[-1][1] += 1
        else:
            runs.append([v, 0])
    return [(s, length) for s, length in runs]


def _ser_roaring64(values, **kw) -> bytes:
    by_hi = {}
    for v in sorted(values):
        by_hi.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    out = bytearray(struct.pack("<I", 1681511377))
    out += struct.pack("<q", len(by_hi))
    for hi, vs in sorted(by_hi.items()):
        out += struct.pack("<I", hi)
        out += _ser_roaring32(vs, **kw)
    return bytes(out)


def test_roaring64_decode_all_container_kinds():
    from intake_spark.lakehouse import _roaring64_positions

    vals = [0, 3, 5, 6, 8, 70000, 70001]
    assert _roaring64_positions(_ser_roaring64(vals)) == sorted(vals)
    assert _roaring64_positions(_ser_roaring64(vals, use_runs=True)) == sorted(vals)
    big = list(range(0, 10000, 2))  # 5000 per container -> bitmap
    assert _roaring64_positions(_ser_roaring64(big)) == big
    hi = [5, (1 << 32) | 7]  # two 32-bit bitmaps in the 64-bit array
    assert _roaring64_positions(_ser_roaring64(hi)) == hi


def test_delta_deletion_vectors_read(spark, tmp_path):
    """Delta DV read: on-disk DV (storageType u, z85 UUID path, run
    containers) and inline DV (storageType i) both drop their row
    indexes; protocol readerFeatures=[deletionVectors] reads instead of
    raising; cardinality mismatch is a named error."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    import zlib as _zlib

    from intake_spark.lakehouse import DeltaLakeReader

    root = str(tmp_path / "dvtbl")
    os.makedirs(f"{root}/_delta_log")
    pq.write_table(
        pa.table({"id": pa.array(range(10), pa.int64())}), f"{root}/f0.parquet")
    pq.write_table(
        pa.table({"id": pa.array(range(100, 105), pa.int64())}),
        f"{root}/f1.parquet")

    # on-disk DV for f0: kill positions 0,3,5,6,8 (run-container form)
    u = _uuid.uuid4()
    bm0 = _ser_roaring64([0, 3, 5, 6, 8], use_runs=True)
    dvf = f"{root}/deletion_vector_{u}.bin"
    with open(dvf, "wb") as f:
        f.write(b"\x01" + struct.pack(">I", len(bm0)) + bm0
                + struct.pack(">I", _zlib.crc32(bm0)))
    dv0 = {"storageType": "u", "pathOrInlineDv": _z85_encode(u.bytes),
           "offset": 1, "sizeInBytes": len(bm0), "cardinality": 5}
    # inline DV for f1: kill position 2; z85 needs len%4==0 -> pad format
    bm1 = _ser_roaring64([2])
    pad = (-len(bm1)) % 4
    bm1p = bm1 + b"\x00" * pad  # trailing zeros beyond parsed containers
    dv1 = {"storageType": "i", "pathOrInlineDv": _z85_encode(bm1p),
           "sizeInBytes": len(bm1p), "cardinality": 1}

    schema_json = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(_delta_meta(schema_json) + "\n")
        f.write(json.dumps({"add": {
            "path": "f0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "deletionVector": dv0}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "f1.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "deletionVector": dv1}}) + "\n")

    df = DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(spark=spark)
    assert sorted(r.id for r in df.collect()) == [1, 2, 4, 7, 9,
                                                  100, 101, 103, 104]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan

    # cardinality mismatch -> named executor error
    with open(f"{root}/_delta_log/{1:020d}.json", "w") as f:
        bad = dict(dv0, cardinality=4)
        f.write(json.dumps({"add": {
            "path": "f0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "deletionVector": bad}}) + "\n")
    import pytest as _pytest

    with _pytest.raises(Exception, match="cardinality mismatch"):
        DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(
            spark=spark).collect()


def test_iceberg_bucket_spec_vectors():
    """Iceberg spec Appendix B published bucket-hash test vectors."""
    from intake_spark.utils import iceberg_bucket, murmur3_32

    def signed(h):
        return h - (1 << 32) if h >= (1 << 31) else h

    assert signed(murmur3_32((34).to_bytes(8, "little", signed=True))) == 2017239379
    assert signed(murmur3_32((17486).to_bytes(8, "little", signed=True))) == -653330422
    assert signed(murmur3_32(b"iceberg")) == 1210000089
    import datetime
    assert iceberg_bucket(datetime.date(2017, 11, 16), 16, "date") == \
        (-653330422 & 0x7FFFFFFF) % 16
    assert iceberg_bucket(None, 16, "long") is None


def test_to_iceberg_transform_partitions(spark, tmp_path):
    """Transform-partitioned Iceberg write: day()/bucket()/truncate()
    derive hive dirs while every source column stays in the data files;
    manifests carry the transformed tuple; metadata declares the
    transforms; appends must match names+transforms."""
    import datetime

    from intake_spark import output
    from intake_spark.lakehouse import IcebergTableReader, decode_avro_file
    from intake_spark.utils import iceberg_bucket

    rows = [
        (i, f"name{i:02d}", datetime.date(2021, 1, 1 + i % 3),
         datetime.datetime(2021, 6, 1 + i % 2, 10 + i % 5, 30))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "id long, nm string, d date, ts timestamp_ntz")
    root = str(tmp_path / "trtbl")
    output.to_iceberg(
        df, root,
        partition_by=["day(d)", "bucket(4, id)", "truncate(4, nm)"])

    # metadata declares the transforms with correct source ids
    with open(os.path.join(root, "metadata", "v1.metadata.json")) as fh:
        meta = json.load(fh)
    spec = meta["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [
        ("d_day", "day"), ("id_bucket", "bucket[4]"), ("nm_trunc", "truncate[4]")]
    ids = {f["name"]: f["id"] for f in meta["schemas"][-1]["fields"]}
    assert [f["source-id"] for f in spec] == [ids["d"], ids["id"], ids["nm"]]

    # data files KEEP the source columns (standard-writer convention)
    import glob as _glob

    import pyarrow.parquet as _pq

    one = _glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                     recursive=True)[0]
    assert {"id", "nm", "d", "ts"} <= set(_pq.ParquetFile(one).schema_arrow.names)
    assert "d_day" in one and "id_bucket" in one  # hive dirs, derived names

    # manifest tuples hold transformed values consistent with the data
    snap = meta["snapshots"][-1]
    mans = [m["manifest_path"] for m in decode_avro_file(snap["manifest-list"])]
    tuples = [e["data_file"]["partition"]
              for mp in mans for e in decode_avro_file(mp)]
    assert tuples and all(
        set(t) == {"d_day", "id_bucket", "nm_trunc"} for t in tuples)
    for t in tuples:
        assert t["nm_trunc"].startswith("name") and len(t["nm_trunc"]) == 4
        assert 0 <= t["id_bucket"] < 4
        dd = t["d_day"]
        day = (dd - datetime.date(1970, 1, 1)).days if hasattr(dd, "year") else dd
        assert day in {(datetime.date(2021, 1, 1 + k)
                        - datetime.date(1970, 1, 1)).days for k in range(3)}

    # round-trip read: all rows, all columns, no fill needed
    back = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(spark=spark)
    got = {r.id: r for r in back.collect()}
    assert len(got) == 20 and got[7].nm == "name07"
    assert got[7].d == datetime.date(2021, 1, 2)

    # bucket values in the dirs match the spec hash exactly
    for p in _glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                        recursive=True):
        seg = [s for s in p.split(os.sep) if s.startswith("id_bucket=")][0]
        b = int(seg.split("=")[1])
        pf = _pq.ParquetFile(p).read(columns=["id"])
        for v in pf.column("id").to_pylist():
            assert iceberg_bucket(v, 4, "long") == b

    # append with mismatched partitioning -> named error
    df2 = spark.createDataFrame(
        [(100, "zz", datetime.date(2022, 1, 1),
          datetime.datetime(2022, 1, 1, 0, 0))],
        "id long, nm string, d date, ts timestamp_ntz")
    with pytest.raises(ValueError, match="partitioning"):
        output.to_iceberg(df2, root, mode="append", partition_by=["day(d)"])
    output.to_iceberg(
        df2, root, mode="append",
        partition_by=["day(d)", "bucket(4, id)", "truncate(4, nm)"])
    assert IcebergTableReader(data=dt.IcebergDataset(url=root)).read(
        spark=spark).count() == 21


def test_iceberg_hour_month_year_transforms(spark, tmp_path):
    """hour() on NTZ + instant timestamps; month()/year() unit counts
    since epoch (pre-1970 negative)."""
    import datetime

    from intake_spark import output
    from intake_spark.lakehouse import decode_avro_file

    df = spark.createDataFrame(
        [(1, datetime.datetime(2021, 3, 5, 7, 45)),
         (2, datetime.datetime(1969, 12, 31, 23, 10))],
        "id long, ts timestamp_ntz")
    root = str(tmp_path / "hrtbl")
    output.to_iceberg(df, root, partition_by=["hour(ts)"])
    with open(os.path.join(root, "metadata", "v1.metadata.json")) as fh:
        meta = json.load(fh)
    snap = meta["snapshots"][-1]
    mans = [m["manifest_path"] for m in decode_avro_file(snap["manifest-list"])]
    hours = sorted(e["data_file"]["partition"]["ts_hour"]
                   for mp in mans for e in decode_avro_file(mp))
    h1 = (datetime.datetime(2021, 3, 5, 7)
          - datetime.datetime(1970, 1, 1)) // datetime.timedelta(hours=1)
    assert hours == [-1, h1]

    df2 = spark.createDataFrame(
        [(1, datetime.date(2021, 3, 5)), (2, datetime.date(1969, 6, 15))],
        "id long, d date")
    for tr, exp in (("month", [-7, (2021 - 1970) * 12 + 2]),
                    ("year", [-1, 51])):
        r2 = str(tmp_path / f"{tr}tbl")
        output.to_iceberg(df2, r2, partition_by=[f"{tr}(d)"])
        with open(os.path.join(r2, "metadata", "v1.metadata.json")) as fh:
            m2 = json.load(fh)
        sn = m2["snapshots"][-1]
        vals = sorted(
            e["data_file"]["partition"][f"d_{tr}"]
            for mp in [x["manifest_path"]
                       for x in decode_avro_file(sn["manifest-list"])]
            for e in decode_avro_file(mp))
        assert vals == exp, (tr, vals)


def test_spark_uri_path_encoding():
    """_spark_uri_path must mirror Hadoop/Spark's _metadata.file_path
    rendering exactly (pinned empirically): space/%/# encoded uppercase
    hex, + & , @ = and non-ASCII literal."""
    from intake_spark.lakehouse import _spark_uri_path

    assert _spark_uri_path("/t/enc test/a") == "/t/enc%20test/a"
    assert _spark_uri_path("/t/pc%t/a") == "/t/pc%25t/a"
    assert _spark_uri_path("/t/hash#x") == "/t/hash%23x"
    assert _spark_uri_path("/t/pl+us,a&b=c@d") == "/t/pl+us,a&b=c@d"
    assert _spark_uri_path("/t/uni_é") == "/t/uni_é"


def test_delta_dv_table_with_space_in_path(spark, tmp_path):
    """DV anti-join keys must match _metadata.file_path's percent
    encoding — a table rooted at a path with a space used to silently
    return the deleted rows."""
    import uuid as _uuid
    import zlib as _zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from intake_spark.lakehouse import DeltaLakeReader

    root = str(tmp_path / "dv tbl")  # space on purpose
    os.makedirs(f"{root}/_delta_log")
    pq.write_table(pa.table({"id": pa.array(range(6), pa.int64())}),
                   f"{root}/f0.parquet")
    u = _uuid.uuid4()
    bm = _ser_roaring64([1, 4])
    with open(f"{root}/deletion_vector_{u}.bin", "wb") as f:
        f.write(b"\x01" + struct.pack(">I", len(bm)) + bm
                + struct.pack(">I", _zlib.crc32(bm)))
    schema_json = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                         "minWriterVersion": 7,
                                         "readerFeatures": ["deletionVectors"],
                                         "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(_delta_meta(schema_json) + "\n")
        f.write(json.dumps({"add": {
            "path": "f0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "deletionVector": {
                "storageType": "u", "pathOrInlineDv": _z85_encode(u.bytes),
                "offset": 1, "sizeInBytes": len(bm), "cardinality": 2,
            }}}) + "\n")
    df = DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(spark=spark)
    assert sorted(r.id for r in df.collect()) == [0, 2, 3, 5]


def test_delta_checkpoint_preserves_deletion_vectors(spark, tmp_path):
    """delta_checkpoint must carry DV descriptors (and protocol
    features) into the checkpoint — dropping them silently resurrects
    the deleted rows after the next read seeds from the checkpoint."""
    import uuid as _uuid
    import zlib as _zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from intake_spark.lakehouse import DeltaLakeReader, delta_checkpoint

    root = str(tmp_path / "ckdv")
    os.makedirs(f"{root}/_delta_log")
    pq.write_table(pa.table({"id": pa.array(range(5), pa.int64())}),
                   f"{root}/f0.parquet")
    u = _uuid.uuid4()
    bm = _ser_roaring64([0, 2])
    with open(f"{root}/deletion_vector_{u}.bin", "wb") as f:
        f.write(b"\x01" + struct.pack(">I", len(bm)) + bm
                + struct.pack(">I", _zlib.crc32(bm)))
    schema_json = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                         "minWriterVersion": 7,
                                         "readerFeatures": ["deletionVectors"],
                                         "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(_delta_meta(schema_json) + "\n")
        f.write(json.dumps({"add": {
            "path": "f0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "deletionVector": {
                "storageType": "u", "pathOrInlineDv": _z85_encode(u.bytes),
                "offset": 1, "sizeInBytes": len(bm), "cardinality": 2,
            }}}) + "\n")
    rd = lambda: DeltaLakeReader(  # noqa: E731
        data=dt.DeltalakeTable(url=root)).read(spark=spark)
    assert sorted(r.id for r in rd().collect()) == [1, 3, 4]
    delta_checkpoint(root, spark=spark)
    # delete the JSON commit: state must now come entirely from the
    # checkpoint, DV included
    os.remove(f"{root}/_delta_log/{0:020d}.json")
    assert sorted(r.id for r in rd().collect()) == [1, 3, 4]


def test_delta_null_partition_values(spark, tmp_path):
    """Null partition values (__HIVE_DEFAULT_PARTITION__ dirs, null in
    partitionValues) read through the hive basePath branch; the group
    fallback no longer TypeErrors sorting None keys."""
    root = str(tmp_path / "nulpart")
    os.makedirs(f"{root}/_delta_log")
    spark.createDataFrame([(1, "x"), (2, None)], "v long, c string") \
        .coalesce(1).write.partitionBy("c").parquet(f"{root}/stage")
    import shutil as _sh

    for d in os.listdir(f"{root}/stage"):
        if d.startswith("c="):
            _sh.move(f"{root}/stage/{d}", f"{root}/{d}")
    _sh.rmtree(f"{root}/stage")
    files = {}
    for d in os.listdir(root):
        if d.startswith("c="):
            pf = [f for f in os.listdir(f"{root}/{d}") if f.endswith(".parquet")][0]
            files[d] = f"{d}/{pf}"
    schema_json = {"type": "struct", "fields": [
        {"name": "v", "type": "long", "nullable": True, "metadata": {}},
        {"name": "c", "type": "string", "nullable": True, "metadata": {}}]}
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 2}}) + "\n")
        f.write(_delta_meta(schema_json, ["c"]) + "\n")
        f.write(_delta_add(files["c=x"], {"c": "x"}) + "\n")
        f.write(_delta_add(files["c=__HIVE_DEFAULT_PARTITION__"],
                           {"c": None}) + "\n")
    df = DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(spark=spark)
    got = {r.v: r.c for r in df.collect()}
    assert got == {1: "x", 2: None}


def test_iceberg_bucket_nulls_and_write(spark, tmp_path):
    """bucket() partition write with null values: nulls land in the
    null partition instead of crashing the pandas_udf on NaN."""
    from intake_spark import output
    from intake_spark.lakehouse import IcebergTableReader, decode_avro_file
    from intake_spark.utils import iceberg_bucket

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 34)], "k long, id long")
    root = str(tmp_path / "bnull")
    output.to_iceberg(df, root, partition_by=["bucket(16, id)"])
    back = IcebergTableReader(data=dt.IcebergDataset(url=root)).read(
        spark=spark)
    got = {r.k: r.id for r in back.collect()}
    assert got == {1: 10, 2: None, 3: 34}
    with open(os.path.join(root, "metadata", "v1.metadata.json")) as fh:
        meta = json.load(fh)
    sn = meta["snapshots"][-1]
    tuples = {e["data_file"]["partition"]["id_bucket"]
              for mp in [m["manifest_path"]
                         for m in decode_avro_file(sn["manifest-list"])]
              for e in decode_avro_file(mp)}
    assert None in tuples
    assert iceberg_bucket(34, 16, "long") in tuples


def test_delta_cm_map_struct_keys(spark, tmp_path):
    """Column-mapped maps rename struct fields in KEYS too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from intake_spark.lakehouse import DeltaLakeReader

    def fmeta(i, phys):
        return {"delta.columnMapping.id": i,
                "delta.columnMapping.physicalName": phys}

    key_t = {"type": "struct", "fields": [
        {"name": "a", "type": "integer", "nullable": True,
         "metadata": fmeta(3, "col-kk")}]}
    m_t = {"type": "map", "keyType": key_t, "valueType": "long",
           "valueContainsNull": True}
    schema_json = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": fmeta(1, "col-aa")},
        {"name": "m", "type": m_t, "nullable": True,
         "metadata": fmeta(2, "col-mm")},
    ]}
    root = str(tmp_path / "cmkey")
    os.makedirs(f"{root}/_delta_log")
    mtype = pa.map_(pa.struct([("col-kk", pa.int32())]), pa.int64())
    tbl = pa.table({
        "col-aa": pa.array([1], pa.int64()),
        "col-mm": pa.array([[((7,), 99)]], mtype),
    })
    pq.write_table(tbl, f"{root}/p0.parquet")
    cm = json.dumps({"metaData": {
        "id": "m1", "schemaString": json.dumps(schema_json),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"},
        "format": {"provider": "parquet", "options": {}}}})
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 2,
                                         "minWriterVersion": 5}}) + "\n")
        f.write(cm + "\n")
        f.write(_delta_add("p0.parquet") + "\n")
    df = DeltaLakeReader(data=dt.DeltalakeTable(url=root)).read(spark=spark)
    row = df.collect()[0]
    (k, v), = row.m.items()
    assert k.a == 7 and v == 99


def test_iceberg_manifest_filter_pruning(spark, tmp_path):
    """filters= prunes data files driver-side from the manifest
    partition tuples (identity + day + bucket + truncate transforms)
    BEFORE Spark lists a path, and still filters rows exactly."""
    import datetime

    from intake_spark import output
    from intake_spark.lakehouse import IcebergTableReader
    from intake_spark.utils import iceberg_bucket

    rows = [
        (i, f"s{i % 4}", datetime.date(2021, 1, 1 + i % 5), float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, src string, d date, x double")

    # identity-partitioned (migrated convention)
    r1 = str(tmp_path / "idt")
    output.to_iceberg(df, r1, partition_by=["src"])
    rdr = IcebergTableReader(data=dt.IcebergDataset(url=r1))
    got = rdr.read(spark=spark, filters=[("src", "==", "s1")])
    pruned = rdr.data.metadata["n_files_pruned"]
    kept = rdr.data.metadata["n_files"]
    # only the s1 files survive: ~3/4 of the files are pruned
    assert pruned > 0 and pruned >= 2 * kept
    assert {r.src for r in got.collect()} == {"s1"}
    assert got.count() == 10

    # day + bucket + truncate transforms
    r2 = str(tmp_path / "trt")
    output.to_iceberg(
        df, r2, partition_by=["day(d)", "bucket(4, id)", "truncate(2, src)"])
    rdr2 = IcebergTableReader(data=dt.IcebergDataset(url=r2))
    total = IcebergTableReader(data=dt.IcebergDataset(url=r2)).read(
        spark=spark).count()
    assert total == 40
    # day range prune
    cut = datetime.date(2021, 1, 4)
    got2 = rdr2.read(spark=spark, filters=[("d", ">=", cut)])
    assert rdr2.data.metadata["n_files_pruned"] > 0
    assert got2.count() == sum(1 for r in rows if r[2] >= cut)
    assert all(r.d >= cut for r in got2.collect())
    # bucket equality prune
    rdr3 = IcebergTableReader(data=dt.IcebergDataset(url=r2))
    got3 = rdr3.read(spark=spark, filters=[("id", "==", 7)])
    assert rdr3.data.metadata["n_files_pruned"] > 0
    assert [r.id for r in got3.collect()] == [7]
    # truncate equality prune (src = 's2' -> trunc 's2')
    rdr4 = IcebergTableReader(data=dt.IcebergDataset(url=r2))
    got4 = rdr4.read(spark=spark, filters=[("src", "==", "s2")])
    assert got4.count() == 10
    # row-exactness: filter on a NON-partition column prunes nothing
    # but still filters rows
    rdr5 = IcebergTableReader(data=dt.IcebergDataset(url=r2))
    got5 = rdr5.read(spark=spark, filters=[("x", "<", 5.0)])
    assert rdr5.data.metadata.get("n_files_pruned") == 0
    assert got5.count() == 5
