"""Pre-warmed pyspark worker daemon (``spark.python.daemon.module``).

Python workers fork from the daemon process, so anything imported HERE
is inherited by every worker copy-on-write — one import, any number of
workers, forever. Without this, each fresh worker pays ~1 s importing
numpy/pandas/pyarrow plus this package's codec stack on its first task;
that cost normally amortizes over a session (workers are reused), but
stateful STREAMING stages (applyInPandasWithState / the phash and
minhash ingestion guards) destroy and respawn the whole pool on every
run — measured: a 145-query bench pass re-paid the 32-worker import
storm after every streaming query, inflating unrelated Python-stage
queries 2-5x (q136 1.1 s warm -> 4-7 s post-churn).

One daemon per session. Spark keys its worker daemons by the Python
executable, the worker and daemon modules and the worker environment,
and its SQL Python runners (``mapInPandas`` and the pandas UDFs) add
``SPARK_SIMPLIFIED_TRACEBACK=1`` to that environment where the runner
of a pickled Python RDD does not. A session that runs both kinds of
task therefore starts two daemons, and each pays these imports (~1 s,
on the first task that needs it). The engine builds its driver-local
frames through ``session.local_frame``, as Arrow local relations that
no Python worker touches, so the SQL runners' daemon is the only one
and stderr shows one ``engaged`` line per session. (The readers that
infer a schema from dict rows still plan a pickled Python RDD, and a
session that uses one starts the second daemon.)

``intake_spark.session.get_session`` sets this module as the daemon
only when the package is plainly filesystem-importable by a fresh
``python -m`` (local mode with PYTHONPATH exported) — on a cluster
where workers get the package via addPyFile, the stock daemon is kept,
because a daemon module that fails to import kills every task. So the
two import-system changes below hold for local sessions only.

Before anything imports pyspark, the daemon removes two costs that
pyspark itself puts on every Python task, and its forked workers
inherit both changes:

- **Lazy zip invalidation** (:func:`lazy_zip_invalidation`). pyspark's
  ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
  at the start of every task. Before Python 3.13 a ``zipimporter``
  answers that by re-reading its archive's whole central directory, and
  a worker holds one importer per zip package directory it imported
  from: 12 on ``pyspark.zip`` (1,328 entries each) and 2 on the
  spark-core jar (5,359 entries each), 112-249 ms per task, the floor of
  every Python task (a stock pyspark session shows it too). Python 3.13
  (``zipimport.zipimporter._get_files`` / ``invalidate_caches``) only
  drops the archive's ``_zip_directory_cache`` entry and re-reads the
  table the next time something looks inside that archive; on older
  interpreters the daemon gives ``zipimporter`` exactly that behaviour.
  A worker's ``invalidate_caches()`` went to 0.1-0.2 ms.
- **Installed pyspark over the zip** (:func:`drop_pyspark_zip`). Spark
  puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on the workers'
  ``PYTHONPATH``. A zip holds no bytecode cache, so importing pyspark
  from it compiles every module (0.9-1.0 s against 0.2 s from an
  installed package). When the pyspark found on the interpreter's own
  path has the same ``__version__`` as the zip, the daemon drops the
  zip from its ``sys.path``; when the versions differ, or no other
  pyspark is found, the zip stays, since the JVM speaks the zip's
  version.

Together, at local[4] on a 4-core host: the daemon's imports 1.55-1.79 s
-> 0.70-0.82 s, the first Python job of a session 4.29-4.44 s ->
2.96-3.22 s, and a warm 8-partition identity ``mapInPandas`` job
0.54-0.75 s -> 0.19-0.26 s (PERF.md "The Python-task floor").

All imports are best-effort: a missing optional dependency must not
take down the daemon (the worker will surface the real ImportError on
the task that actually needs it) — but a failure is LOGGED to the
daemon's stderr (which lands in the executor/JVM log), never swallowed
silently: the r11 verdict's finding was that zero observability here
made "did the prewarm engage?" unanswerable from the driver's artifacts.

After the imports the daemon calls ``gc.freeze()``: every forked worker
runs ``gc.collect()`` after EACH completed task (pyspark daemon.py), and
without freezing, that collection traverses the ~10^6 objects of the
inherited module graph — touching every refcount and COW-unsharing the
daemon's shared pages in all 32 workers at once. Freezing moves the
inherited heap to the permanent generation: per-task collections see
only task-created objects, and the prewarmed pages stay shared
(CPython documents exactly this POSIX-fork-server pattern).
"""

from __future__ import annotations

import os
import re
import sys

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def lazy_zip_invalidation() -> None:
    """Give ``zipimport.zipimporter`` Python 3.13's lazy cache
    invalidation on older interpreters: ``invalidate_caches`` only pops
    the archive's ``_zip_directory_cache`` entry, and the file table is
    read again the next time an importer looks inside the archive. The
    table lives only in that cache; the property replaces the
    ``_files`` attribute that 3.11/3.12 keep per importer (their
    ``__init__`` has already cached the table when it sets it)."""
    import zipimport

    if sys.version_info >= (3, 13):
        return

    def files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                table = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                table = {}
            return table

    def invalidate_caches(self):
        """Invalidates the cache of file data of the archive path."""
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport.zipimporter._files = property(files, lambda self, table: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def drop_pyspark_zip(path: list[str]) -> list[str]:
    """``path`` without its ``pyspark.zip`` entries when the pyspark that
    the rest of ``path`` imports has the zip's ``__version__``;
    otherwise ``path`` unchanged."""
    import importlib.machinery
    import zipfile

    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    rest = [p for p in path if p not in zips]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return path
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            installed = _version(f.read())
        zipped = set()
        for z in zips:
            with zipfile.ZipFile(z) as zf:
                zipped.add(_version(zf.read("pyspark/version.py").decode()))
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if installed is not None and zipped == {installed} else path


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


if __name__ == "__main__":
    import importlib

    lazy_zip_invalidation()
    sys.path[:] = drop_pyspark_zip(sys.path)

    _failed: list[str] = []
    for _mod in (
        "numpy",
        "pandas",
        "pyarrow",
        # the repo's hot executor-side modules: codec stack + operators
        "intake_spark.compress",
        "intake_spark.llm.audiofp",
        "intake_spark.llm.dedup",
        "intake_spark.llm.flac",
        "intake_spark.llm.imagehash",
        "intake_spark.llm.jpeg2000",
        "intake_spark.llm.jpegls",
        "intake_spark.llm.multimodal",
        "intake_spark.llm.similarity",
        "intake_spark.llm.text",
        "intake_spark.llm.video",
        "intake_spark.llm.vorbis",
        "intake_spark.llm.webp",
        "intake_spark.output",
        "intake_spark.sci",
        "intake_spark.wire",
    ):
        try:
            importlib.import_module(_mod)
        except Exception as _exc:  # noqa: BLE001 — optional at daemon time
            _failed.append(f"{_mod}: {type(_exc).__name__}: {_exc}")
    if _failed:
        print(
            "intake_spark.daemon_prewarm: %d prewarm import(s) failed "
            "(workers will re-import on first use): %s"
            % (len(_failed), "; ".join(_failed)),
            file=sys.stderr,
            flush=True,
        )
    else:
        print(
            "intake_spark.daemon_prewarm: engaged (all prewarm imports ok)",
            file=sys.stderr,
            flush=True,
        )

    import gc as _gc

    _gc.freeze()

    from pyspark.daemon import manager

    manager()
