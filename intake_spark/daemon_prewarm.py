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
because a daemon module that fails to import kills every task.

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

if __name__ == "__main__":
    import importlib
    import sys as _sys

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
            file=_sys.stderr,
            flush=True,
        )
    else:
        print(
            "intake_spark.daemon_prewarm: engaged (all prewarm imports ok)",
            file=_sys.stderr,
            flush=True,
        )

    import gc as _gc

    _gc.freeze()

    from pyspark.daemon import manager

    manager()
