"""The worker daemon's import path: lazy zip invalidation, pyspark from
its installed package when the versions match, and a package import
that leaves pyspark unimported (the daemon runs as
``python -m intake_spark.daemon_prewarm``)."""

from __future__ import annotations

import inspect
import json
import os
import pathlib
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pytest

from intake_spark.daemon_prewarm import drop_pyspark_zip

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _run(script: str, *args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), *args],
        capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    return json.loads(proc.stdout.splitlines()[-1])


ZIP_PROBE = """
    import importlib, json, sys, zipfile, zipimport
    archive, lazy = sys.argv[1], sys.argv[2] == "lazy"
    if lazy:
        from intake_spark.daemon_prewarm import lazy_zip_invalidation
        lazy_zip_invalidation()
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zprobe_a.py", "A = 1\\n")
    sys.path.insert(0, archive)
    import zprobe_a
    reads = []
    real = zipimport._read_directory
    def counting(path):
        reads.append(path)
        return real(path)
    zipimport._read_directory = counting
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    invalidate_reads = len(reads)
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zprobe_b.py", "B = 2\\n")
    importlib.invalidate_caches()
    import zprobe_b
    print(json.dumps({"invalidate_reads": invalidate_reads, "b": zprobe_b.B}))
"""


def test_lazy_zip_invalidation_reads_no_directory(tmp_path):
    """Two invalidations after the first read re-read no zip directory,
    and a module added to the zip in place imports after one."""
    got = _run(ZIP_PROBE, str(tmp_path / "lazy.zip"), "lazy")
    assert got == {"invalidate_reads": 0, "b": 2}


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 is lazy already")
def test_stock_zip_invalidation_rereads_each_directory(tmp_path):
    """The probe above sees the cost it removes: a stock importer
    re-reads its directory on every invalidation."""
    got = _run(ZIP_PROBE, str(tmp_path / "stock.zip"), "stock")
    assert got == {"invalidate_reads": 2, "b": 2}


def _fake_pyspark_zip(tmp_path, version: str) -> str:
    path = tmp_path / version / "pyspark.zip"
    path.parent.mkdir()
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
    return str(path)


def test_drop_pyspark_zip_keeps_a_zip_of_another_version(tmp_path):
    path = [_fake_pyspark_zip(tmp_path, "0.0.1"), *sys.path]
    assert drop_pyspark_zip(path) == path


def test_drop_pyspark_zip_drops_a_zip_of_the_installed_version(tmp_path):
    import pyspark

    z = _fake_pyspark_zip(tmp_path, pyspark.__version__)
    assert drop_pyspark_zip([z, *sys.path]) == sys.path
    # no pyspark anywhere else on the path: the zip stays
    assert drop_pyspark_zip([z, str(tmp_path)]) == [z, str(tmp_path)]


def test_package_import_leaves_pyspark_unimported():
    got = _run("""
        import json, sys
        import intake_spark
        unimported = "pyspark" not in sys.modules
        from intake_spark import get_session
        from intake_spark.session import get_session as defined
        print(json.dumps({
            "unimported": unimported,
            "from_import": get_session is defined,
            "attribute": intake_spark.get_session is defined,
        }))
    """)
    assert got == {"unimported": True, "from_import": True, "attribute": True}


def test_pyspark_still_invalidates_import_caches_per_task():
    """Pin: lazy_zip_invalidation exists because every task runs
    ``importlib.invalidate_caches()`` here. When a pyspark upgrade drops
    the call, the lazy invalidation can go."""
    from pyspark import worker_util

    src = inspect.getsource(worker_util.setup_spark_files)
    assert "importlib.invalidate_caches()" in src


def test_daemon_worker_imports_installed_pyspark_and_new_py_files(spark, tmp_path):
    """In a worker forked from the daemon, pyspark is not loaded from a
    zip, a task's cache invalidation reads no zip directory, and a zip
    added with addPyFile after the first task imports in the next."""
    from intake_spark.session import local_frame, map_in_pandas

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == (
        "intake_spark.daemon_prewarm"
    ), "the test session must come from get_session on a fresh JVM"

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({
            "installed": [os.path.isfile(pyspark.__file__)],
            "reads": [len(reads)],
        })

    first = map_in_pandas(
        local_frame(spark, [(1,)], "x long"), probe, "installed boolean, reads long"
    ).collect()
    assert [tuple(r) for r in first] == [(True, 0)]

    mod = f"late_py_file_{uuid.uuid4().hex}"
    late = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(late, "w") as zf:
        zf.writestr(f"{mod}.py", "VALUE = 42\n")
    sc.addPyFile(str(late))

    def use_late(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [importlib.import_module(mod).VALUE]})

    second = map_in_pandas(
        local_frame(spark, [(1,)], "x long"), use_late, "v long"
    ).collect()
    assert [r.v for r in second] == [42]
