"""One fan-out of a driver-built manifest, one binaryFile listing.

``session.manifest_rows`` is the only code that turns a manifest (byte
ranges, blocks, frames, rowid windows) into rows on executors, and
``readers.binary_files`` the only ``format("binaryFile")`` listing. The
guard below keeps both rules over the package; the other tests pin what
the primitive does and the two listing faults the one rule mended."""

from __future__ import annotations

import ast
import pathlib
import uuid

import pytest

from intake_spark import datatypes as dt
from tests.conftest import method_calls
from tests.test_flatgeobuf import fgb_file  # noqa: F401 (fixture)
from tests.test_py_deps import _scopes
from tests.test_video import GRAYS, _gray_frame, make_avi

PKG = pathlib.Path(__file__).resolve().parent.parent / "intake_spark"

# (module, qualified function, job) sites allowed outside session.py
ALLOWLIST = {
    ("readers.py", "SparkJDBC._read_db_wire", "repartition"):
        "one task per range predicate, as num_partitions promises; a "
        "LocalTableScan alone caps the task count at defaultParallelism",
    ("readers.py", "SparkJDBC._read_db_wire", "map_in_pandas"):
        "the same predicate frame, after its repartition",
    ("datatypes.py", "distributed_walk", "repartition"):
        "hashes top-level directories into 2x defaultParallelism tasks so "
        "subtrees of skewed size even out; contiguous slices would not",
    ("datatypes.py", "distributed_walk", "map_in_pandas"):
        "the same directory frame, after its repartition",
    ("readers.py", "binary_files", "binaryFile"): "the one listing rule",
    ("stats.py", "_PandasFileReader._read", "binaryFile"):
        "loads the driver-resolved path list its schema probe sampled; "
        "binary_files takes one URL",
}


def _outermost(functions, node):
    """Qualified name of the outermost function around ``node``."""
    around = [(fn.lineno, name) for name, fn in functions
              if fn.lineno <= node.lineno <= fn.end_lineno]
    return min(around)[1] if around else None


def _is_call(node, name):
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == name)


def _from_local_frame(node, names):
    """Whether ``node`` is a ``local_frame(...)`` call, a method chain on
    one, or a name bound to either."""
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        node = node.func.value
    return _is_call(node, "local_frame") or (
        isinstance(node, ast.Name) and node.id in names)


def fanout_sites(sources):
    """{(module, outermost function, job)} of every manifest fan-out
    written by hand (a local_frame result reaching ``.repartition(`` or
    ``map_in_pandas(``) and every ``format("binaryFile")`` call."""
    sites = set()
    for rel, tree in sources:
        functions = _scopes(tree)
        bound = {}  # outermost function -> names bound to a local_frame
        for node in ast.walk(tree):
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)
                    and _from_local_frame(node.value, ())):
                bound.setdefault(_outermost(functions, node), set()).add(
                    node.targets[0].id)

        def names(node):
            return bound.get(_outermost(functions, node), set())

        for _fn, call in method_calls(tree, "repartition"):
            if _from_local_frame(call.func.value, names(call)):
                sites.add((rel, _outermost(functions, call), "repartition"))
        for node in ast.walk(tree):
            if (_is_call(node, "map_in_pandas") and node.args
                    and _from_local_frame(node.args[0], names(node))):
                sites.add((rel, _outermost(functions, node), "map_in_pandas"))
        for _fn, call in method_calls(tree, "format"):
            if [getattr(a, "value", None) for a in call.args] == ["binaryFile"]:
                sites.add((rel, _outermost(functions, call), "binaryFile"))
    return sites


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel != "session.py":
            yield rel, ast.parse(path.read_text())


def test_manifest_fanout_and_binary_listing_have_one_owner():
    assert fanout_sites(_sources()) == set(ALLOWLIST)
    # session.py holds the one fan-out the guard exempts
    session = ast.parse((PKG / "session.py").read_text())
    assert fanout_sites([("session.py", session)]) == {
        ("session.py", "manifest_rows", "map_in_pandas")}


def test_guard_catches_hand_written_fanouts():
    mutant = ast.parse('''
def spread(spark, manifest, fn):
    mdf = local_frame(spark, manifest, "off long")
    mdf = mdf.repartition(4)
    return map_in_pandas(mdf, fn, "x long")

def chained(spark, manifest, fn):
    return map_in_pandas(local_frame(spark, manifest, "off long"), fn, "x long")

def listing(spark, url):
    return spark.read.format("binaryFile").load(url)
''')
    assert fanout_sites([("mutant.py", mutant)]) == {
        ("mutant.py", "spread", "repartition"),
        ("mutant.py", "spread", "map_in_pandas"),
        ("mutant.py", "chained", "map_in_pandas"),
        ("mutant.py", "listing", "binaryFile"),
    }


def test_manifest_rows_frames_every_item_kind(spark, tmp_path):
    """Typed unit fields, one handle per task, and the three item kinds
    (row tuples, dicts, column arrays) framed by the schema's names."""
    from intake_spark.session import manifest_rows

    p = tmp_path / "blob.bin"
    p.write_bytes(bytes(range(16)))

    def decode(task, fh):
        assert isinstance(task.off, int) and isinstance(task.tag, str)
        fh.seek(task.off)
        b = fh.read(1)[0]
        yield [(task.tag, b)]
        yield [{"v": b + 100, "tag": task.tag}]
        yield {"tag": [task.tag], "v": [b + 200]}

    df = manifest_rows(spark, [(3, "a"), (9, "b")], "off long, tag string",
                       "tag string, v long", decode, str(p))
    assert sorted(tuple(r) for r in df.collect()) == [
        ("a", 3), ("a", 103), ("a", 203), ("b", 9), ("b", 109), ("b", 209)]


def _tasks_of(spark, df):
    """The rows of ``df`` and the task count of every stage its
    collect ran (a fresh job group, read from the status tracker once
    the listener bus has delivered every event)."""
    sc = spark.sparkContext
    group = f"manifest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    return rows, [tracker.getStageInfo(s).numTasks for s in stages]


def test_manifest_reader_plans_no_exchange(spark, fgb_file):  # noqa: F811
    """A 3-unit FlatGeobuf manifest plans a LocalTableScan under one
    MapInPandas, with no exchange, and runs min(n, defaultParallelism)
    tasks in one stage."""
    from intake_spark.geo import FlatGeobuf, FlatGeobufReader

    df = FlatGeobufReader(data=FlatGeobuf(url=fgb_file)).read(
        spark=spark, features_per_task=1
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "LocalTableScan" in plan
    rows, tasks = _tasks_of(spark, df)
    assert sorted(r.id for r in rows) == [0, 1, 2]
    assert tasks == [min(3, spark.sparkContext.defaultParallelism)]


def test_avi_reader_lists_only_avi_files(spark, tmp_path):
    """A directory read lists the datatype's glob: a README beside the
    clip is not fed to the AVI parser."""
    from intake_spark.readers import AVIFrameReader

    (tmp_path / "clip.avi").write_bytes(make_avi([_gray_frame(g) for g in GRAYS], 8, 8))
    (tmp_path / "README.txt").write_text("not a video\n")
    df = AVIFrameReader(data=dt.AVI(url=str(tmp_path))).read(spark=spark, every_n=2)
    assert sorted(r.frame_idx for r in df.collect()) == [0, 2, 4]


def test_spark_binary_glob_keeps_a_named_file(spark, tmp_path):
    """pathGlobFilter narrows a directory listing, not a file the URL
    names: an upper-case CLIP2.AVI is read under ``*.avi``."""
    from intake_spark.readers import SparkBinary

    p = tmp_path / "CLIP2.AVI"
    p.write_bytes(make_avi([_gray_frame(GRAYS[0])], 8, 8))
    rows = SparkBinary(data=dt.AVI(url=str(p))).read(
        spark=spark, pathGlobFilter="*.avi"
    ).collect()
    assert [r.length for r in rows] == [p.stat().st_size]


@pytest.mark.parametrize("glob", [None, "*.bin"])
def test_binary_files_glob_none_lists_everything(spark, tmp_path, glob):
    from intake_spark.readers import binary_files

    (tmp_path / "a.bin").write_bytes(b"a")
    (tmp_path / "b.txt").write_bytes(b"b")
    names = sorted(r.path.rsplit("/", 1)[1]
                   for r in binary_files(spark, str(tmp_path), glob).collect())
    assert names == (["a.bin", "b.txt"] if glob is None else ["a.bin"])


def test_avi_reader_lists_upper_case_clips(spark, tmp_path):
    """The AVI glob matches the extension in any case: a directory that
    holds only CLIP2.AVI still yields its frames."""
    from intake_spark.readers import AVIFrameReader

    (tmp_path / "CLIP2.AVI").write_bytes(make_avi([_gray_frame(g) for g in GRAYS], 8, 8))
    df = AVIFrameReader(data=dt.AVI(url=str(tmp_path))).read(spark=spark, every_n=2)
    assert sorted(r.frame_idx for r in df.collect()) == [0, 2, 4]


def test_every_reader_glob_lists_either_case(spark):
    """Every datatype glob handed to binary_files (read from the source:
    binary_files literals, ``glob`` defaults and ``glob`` class
    attributes) still parses as a Hadoop glob after its case is folded,
    and matches its file names in lower and upper case alike."""
    import ast
    import pathlib

    import intake_spark
    from intake_spark.readers import _either_case

    samples = {
        "*": "notes.txt", "*.avi": "clip.avi", "*.docx": "memo.docx",
        "*.epub": "book.epub", "*.gpx": "track.gpx", "*.kml": "places.kml",
        "*.md": "readme.md", "*.msgpack": "rows.msgpack", "*.pdf": "paper.pdf",
        "*.py": "setup.py", "*.rst": "index.rst", "*.sdf": "mols.sdf",
        "*.svg": "logo.svg", "*.tar": "shard-0.tar",
        "*.tfrecord*": "train.tfrecord.gz", "*.{fa,fasta,fna,faa}": "chr1.fasta",
        "*.{fq,fastq}": "reads.fq", "*.{yaml,yml}": "cat.yml",
    }
    found = set()
    for path in pathlib.Path(intake_spark.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call) and getattr(node.func, "id", None) == "binary_files"
                    and len(node.args) > 2 and isinstance(node.args[2], ast.Constant)):
                found.add(node.args[2].value)
            elif isinstance(node, ast.arguments):
                pos = node.posonlyargs + node.args
                for a, d in zip(pos[len(pos) - len(node.defaults):], node.defaults):
                    if a.arg == "glob" and isinstance(d, ast.Constant):
                        found.add(d.value)
            elif isinstance(node, ast.Assign) and isinstance(node.value, ast.Constant):
                if any(getattr(t, "id", None) == "glob" for t in node.targets):
                    found.add(node.value.value)
    found.discard(None)  # binary_files' own default: no filter
    assert found and found <= set(samples), found - set(samples)
    glob_pattern = spark._jvm.org.apache.hadoop.fs.GlobPattern
    for glob in found:
        pat = glob_pattern(_either_case(glob))
        name = samples[glob]
        assert pat.matches(name) and pat.matches(name.upper()), glob
        assert not pat.matches("zz.unrelated-ext") or glob == "*", glob


def test_caller_glob_narrows_a_wildcard_url(spark, tmp_path):
    """A glob the caller passes narrows even a wildcard URL, and as
    given (case-sensitive, as Spark's pathGlobFilter is)."""
    from intake_spark.llm.multimodal import read_binary_dir
    from intake_spark.readers import SparkBinary

    for name in ("2024-a.png", "2024-b.txt", "2024-C.PNG", "2023-d.png"):
        (tmp_path / name).write_bytes(b"x")

    def names(df):
        return sorted(r.path.rsplit("/", 1)[1] for r in df.collect())

    assert names(read_binary_dir(spark, str(tmp_path / "2024-*"), glob="*.png")) == ["2024-a.png"]
    assert names(SparkBinary(data=dt.PNG(url=str(tmp_path / "*"))).read(
        spark=spark, pathGlobFilter="*.png")) == ["2023-d.png", "2024-a.png"]


def test_spark_binary_forwards_reader_options(spark, tmp_path):
    from intake_spark.readers import SparkBinary

    (tmp_path / "a.png").write_bytes(b"x")
    reader = SparkBinary(data=dt.PNG(url=str(tmp_path)))
    assert reader.read(spark=spark).count() == 1
    assert reader.read(spark=spark, modifiedAfter="2999-01-01T00:00:00").count() == 0
