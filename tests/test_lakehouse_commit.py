"""The jar-free lakehouse sinks share one staged write and one
put-if-absent commit per format: a writer that loses the commit race
raises ConcurrentWriteError, removes what it staged and leaves the
winner's table as it was. Plus the shared Avro OCF writer, the shared
Iceberg metadata load, and an AST guard that keeps each of these jobs in
its one owner."""

from __future__ import annotations

import ast
import os

import pytest

import intake_spark
import intake_spark.lakehouse as lh
from intake_spark import datatypes as dt
from intake_spark.maintenance import ConcurrentWriteError
from tests.conftest import method_calls


def _tree_files(root):
    return {
        os.path.relpath(os.path.join(dp, f), root)
        for dp, _d, fs in os.walk(root)
        for f in fs
    }


def _delta_rows(spark, root):
    return sorted(
        tuple(r) for r in lh.DeltaLakeReader(
            data=dt.DeltalakeTable(url=root)).read(spark=spark).collect()
    )


def _iceberg_rows(spark, root):
    return sorted(
        tuple(r) for r in lh.IcebergTableReader(
            data=dt.IcebergDataset(url=root)).read(spark=spark).collect()
    )


def test_to_delta_append_lost_race_raises_and_leaves_winner(spark, tmp_path, monkeypatch):
    """A concurrent append claims the next log version between this
    append's state read and its commit: the loser raises
    ConcurrentWriteError and deletes the data files it moved in, so the
    table's files and rows are exactly what the winner left."""
    from intake_spark.output import to_delta

    schema = "id long, s string"
    root = str(tmp_path / "race")
    to_delta(spark.createDataFrame([(1, "base")], schema), root)
    real_state = lh.delta_log_state
    winner = {}

    def racing_state(log, *a, **kw):
        state = real_state(log, *a, **kw)
        monkeypatch.setattr(lh, "delta_log_state", real_state)
        to_delta(spark.createDataFrame([(2, "winner")], schema), root, mode="append")
        winner["files"] = _tree_files(root)
        winner["rows"] = _delta_rows(spark, root)
        return state

    monkeypatch.setattr(lh, "delta_log_state", racing_state)
    loser = spark.createDataFrame([(3, "loser"), (4, "loser")], schema).repartition(2)
    with pytest.raises(ConcurrentWriteError, match="commit race"):
        to_delta(loser, root, mode="append")
    assert _tree_files(root) == winner["files"]
    assert _delta_rows(spark, root) == winner["rows"] == [(1, "base"), (2, "winner")]


def test_to_iceberg_append_lost_race_keeps_winner_metadata(spark, tmp_path, monkeypatch):
    """A concurrent append commits v2 while this append is writing its
    manifests: the loser raises instead of overwriting the winner's
    v2.metadata.json, which stays byte-identical, and removes its own
    data files, manifests and manifest list."""
    from intake_spark.output import to_iceberg

    schema = "id long, s string"
    root = str(tmp_path / "race")
    to_iceberg(spark.createDataFrame([(1, "base")], schema), root)
    base_files = _tree_files(root)
    v2 = os.path.join(root, "metadata", "v2.metadata.json")
    real_write = lh.write_avro_records
    winner = {}

    def racing_write(path, *a, **kw):
        if not winner:
            monkeypatch.setattr(lh, "write_avro_records", real_write)
            loser_data = _tree_files(root) - base_files
            assert len(loser_data) == 2
            to_iceberg(spark.createDataFrame([(2, "winner")], schema), root, mode="append")
            with open(v2, "rb") as f:
                winner["meta"] = f.read()
            winner["files"] = _tree_files(root) - loser_data
        return real_write(path, *a, **kw)

    monkeypatch.setattr(lh, "write_avro_records", racing_write)
    loser = spark.createDataFrame([(3, "loser"), (4, "loser")], schema).repartition(2)
    with pytest.raises(ConcurrentWriteError, match="commit race"):
        to_iceberg(loser, root, mode="append")
    with open(v2, "rb") as f:
        assert f.read() == winner["meta"]
    assert _tree_files(root) == winner["files"]
    assert _iceberg_rows(spark, root) == [(1, "base"), (2, "winner")]


def test_to_iceberg_append_without_version_hint(spark, tmp_path):
    """A table whose version-hint.text is missing is still a table: an
    append loads its newest metadata (the reader's rule) and commits the
    next version, instead of writing v1.metadata.json over it."""
    from intake_spark.output import to_iceberg

    schema = "id long, s string"
    root = str(tmp_path / "nohint")
    to_iceberg(spark.createDataFrame([(1, "a")], schema), root)
    mdir = os.path.join(root, "metadata")
    os.remove(os.path.join(mdir, "version-hint.text"))
    with open(os.path.join(mdir, "v1.metadata.json"), "rb") as f:
        v1 = f.read()
    out = to_iceberg(spark.createDataFrame([(2, "b")], schema), root, mode="append")
    assert out.metadata["version"] == 2
    with open(os.path.join(mdir, "v1.metadata.json"), "rb") as f:
        assert f.read() == v1
    assert _iceberg_rows(spark, root) == [(1, "a"), (2, "b")]


def test_iceberg_lagging_hint_advances_to_newest_metadata(spark, tmp_path):
    """A hint left behind by a writer that stopped between its commit and
    the hint update does not hide the newer metadata from readers, nor
    make every later commit lose the race."""
    from intake_spark.output import to_iceberg

    schema = "id long"
    root = str(tmp_path / "lag")
    to_iceberg(spark.createDataFrame([(1,)], schema), root)
    to_iceberg(spark.createDataFrame([(2,)], schema), root, mode="append")
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    assert lh.iceberg_metadata(root)[0] == 2
    assert _iceberg_rows(spark, root) == [(1,), (2,)]
    out = to_iceberg(spark.createDataFrame([(3,)], schema), root, mode="append")
    assert out.metadata["version"] == 3
    assert _iceberg_rows(spark, root) == [(1,), (2,), (3,)]


def test_iceberg_expire_lost_race_deletes_nothing(spark, tmp_path, monkeypatch):
    """Expiry commits before it deletes: when a concurrent writer claims
    the next metadata version while expiry walks the manifests, expiry
    raises ConcurrentWriteError, every file is still there, and the
    winner's metadata is untouched."""
    from intake_spark.maintenance import iceberg_expire_snapshots
    from intake_spark.output import to_iceberg

    root = str(tmp_path / "exp")
    for i in range(3):
        to_iceberg(spark.createDataFrame([(i,)], "id long"), root, mode="overwrite")
    files_before = _tree_files(root)
    v4 = os.path.join(root, "metadata", "v4.metadata.json")
    winner = b'{"winner": true}'
    real_decode = lh.decode_avro_file

    def racing_decode(path):
        if not os.path.exists(v4):
            with open(v4, "wb") as f:
                f.write(winner)
        return real_decode(path)

    monkeypatch.setattr(lh, "decode_avro_file", racing_decode)
    with pytest.raises(ConcurrentWriteError, match="commit race"):
        iceberg_expire_snapshots(root, keep_last=1)
    assert _tree_files(root) == files_before | {"metadata/v4.metadata.json"}
    with open(v4, "rb") as f:
        assert f.read() == winner


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_avro_ocf_writer_roundtrips_every_codec(tmp_path, codec):
    """write_avro_ocf is the one OCF writer (Iceberg manifests and
    to_avro parts); every codec it writes decodes through the reader,
    snappy's CRC32 suffix included."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}, {"name": "s", "type": "string"},
    ]}
    recs = [{"a": i - 3, "s": "x" * i} for i in range(7)]
    body = bytearray()
    for r in recs:
        lh._avro_encode_datum(schema, r, body, {})
    p = str(tmp_path / f"t.{codec}.avro")
    lh.write_avro_ocf(p, schema, len(recs), bytes(body), b"s" * 16, codec,
                      meta={"k": "v"})
    assert lh.decode_avro_file(p) == recs
    with open(p, "rb") as f:
        assert lh._avro_header(f)[1] == codec
    with pytest.raises(ValueError, match="codec"):
        lh.write_avro_ocf(p, schema, 0, b"", b"s" * 16, "zstd")


# --------------------------------------------------------------------------
# AST guard: one owner per lakehouse write job
# --------------------------------------------------------------------------

STAGED_WRITE = ("lakehouse.py", "stage_parquet")
DELTA_COMMIT = ("lakehouse.py", "delta_commit")
ICEBERG_COMMIT = ("lakehouse.py", "iceberg_commit")
ICEBERG_LOAD = ("lakehouse.py", "iceberg_metadata")
DELTA_SCAN = ("lakehouse.py", "delta_scan")
OCF_READ = ("lakehouse.py", "_avro_header")
OCF_WRITE = ("lakehouse.py", "write_avro_ocf")

# os.replace sites that do not move data into a table
RENAME_ALLOWED = {
    ("lakehouse.py", "delta_checkpoint"): (
        "moves the checkpoint part and swaps the _last_checkpoint pointer "
        "inside _delta_log; no data file moves"
    ),
    ("readers.py", "fetch"): (
        "renames a finished HTTP download into the local cache directory, "
        "which is not a table"
    ),
}


def _sources():
    pkg = os.path.dirname(intake_spark.__file__)
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    yield os.path.relpath(path, pkg), ast.parse(f.read())


def _scopes(tree):
    """{function name: [nodes directly in it, nested functions excluded]}
    (module level is None), with docstrings left out."""
    out: dict = {}

    def walk(node, fn):
        body = getattr(node, "body", None)
        doc = (
            body[0].value
            if isinstance(body, list) and body and isinstance(body[0], ast.Expr)
            else None
        )
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if child is not doc:
                out.setdefault(fn, []).append(child)
                walk(child, fn)

    walk(tree, None)
    return out


def _strings(nodes):
    return {
        n.value for n in nodes
        if isinstance(n, ast.Constant) and isinstance(n.value, (str, bytes))
    }


def _names_delta_commit(nodes):
    """An f-string ``{...:020d}.json``: a Delta log commit file name."""
    for n in nodes:
        if isinstance(n, ast.JoinedStr):
            for fv, nxt in zip(n.values, n.values[1:]):
                if (isinstance(fv, ast.FormattedValue) and fv.format_spec is not None
                        and "020d" in ast.unparse(fv.format_spec)
                        and isinstance(nxt, ast.Constant)
                        and str(nxt.value).startswith(".json")):
                    return True
    return False


def _writes_file(nodes):
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        and n.func.id == "open" and len(n.args) > 1
        and isinstance(n.args[1], ast.Constant)
        and any(m in str(n.args[1].value) for m in "wxa")
        for n in nodes
    )


def lakehouse_write_sites(sources):
    """Each lakehouse write job -> the set of (module, function) doing it."""
    jobs: dict[str, set] = {
        "os.replace": set(), "staging dir": set(), "delta commit": set(),
        "iceberg metadata write": set(), "iceberg hint": set(),
        "delta file-set scan": set(), "avro ocf header": set(),
    }
    for rel, tree in sources:
        for fn, call in method_calls(tree, "replace"):
            if isinstance(call.func.value, ast.Name) and call.func.value.id in ("os", "_os"):
                jobs["os.replace"].add((rel, fn))
        for fn, nodes in _scopes(tree).items():
            strings = _strings(nodes)
            if any(isinstance(s, str) and "_staging_" in s for s in strings):
                jobs["staging dir"].add((rel, fn))
            if _writes_file(nodes) and _names_delta_commit(nodes):
                jobs["delta commit"].add((rel, fn))
            if _writes_file(nodes) and any(
                isinstance(s, str) and s.endswith(".metadata.json") for s in strings
            ):
                jobs["iceberg metadata write"].add((rel, fn))
            if "version-hint.text" in strings:
                jobs["iceberg hint"].add((rel, fn))
            if {"basePath", "partitionValues"} <= strings:
                jobs["delta file-set scan"].add((rel, fn))
            if fn is not None and b"Obj\x01" in strings:  # not a class's sniff magic
                jobs["avro ocf header"].add((rel, fn))
    return jobs


def test_lakehouse_write_jobs_have_one_owner():
    jobs = lakehouse_write_sites(_sources())
    assert jobs["os.replace"] == {STAGED_WRITE} | set(RENAME_ALLOWED)
    assert jobs["staging dir"] == {STAGED_WRITE}
    assert jobs["delta commit"] == {DELTA_COMMIT}
    assert jobs["iceberg metadata write"] == {ICEBERG_COMMIT}
    assert jobs["iceberg hint"] == {ICEBERG_LOAD, ICEBERG_COMMIT}
    assert jobs["delta file-set scan"] == {DELTA_SCAN}
    assert jobs["avro ocf header"] == {OCF_READ, OCF_WRITE}
    assert lh.ConcurrentWriteError is ConcurrentWriteError


def test_lakehouse_guard_catches_a_hand_copied_commit():
    """The guard sees a second Delta commit, a second Iceberg metadata
    write, a second staged move-in and a second OCF header writer."""
    mutant = ast.parse('''
import os, json
def copied(root, v, meta, stage, dst):
    with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "x") as f:
        f.write("")
    with open(os.path.join(root, "metadata", f"v{v}.metadata.json"), "w") as f:
        json.dump(meta, f)
    os.replace(os.path.join(root, f"_staging_{v}", "a.parquet"), dst)
    return bytearray(b"Obj\\x01")
''')
    jobs = lakehouse_write_sites(list(_sources()) + [("mutant.py", mutant)])
    for job in ("os.replace", "staging dir", "delta commit",
                "iceberg metadata write", "avro ocf header"):
        assert ("mutant.py", "copied") in jobs[job], job
