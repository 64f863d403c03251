"""Dataset inspection: structured schema/size report for a URL or DataFrame.

Parity with intake/readers/inspect.py:778-1162 — but the reference's
"laziness tiers" collapse: Spark is always tier 1 (lazy schema from file
footers; no data read). The report shape (columns, dtypes, npartitions,
size) follows inspect.py:216-510's per-container extraction; the
per-candidate timeout + fallback-to-next-reader loop mirrors
inspect.py:743-776 (timeout runner) and :1092-1162 (candidate retry), and
the byte-size guard mirrors the full-read tier guard at :653-737.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame

from intake_spark.datatypes import recommend
from intake_spark.session import get_session, local_frame


def schema_report(df: DataFrame) -> dict[str, Any]:
    return {
        "columns": df.columns,
        "dtypes": dict(df.dtypes),
        "schema_json": df.schema.jsonValue(),
        "schema_tree": "\n".join(f"{c}: {t}" for c, t in df.dtypes),
        "npartitions": df.rdd.getNumPartitions(),
    }


def _dir_size(path: str) -> tuple[int, int]:
    total, files = 0, 0
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


def _with_timeout(fn, seconds: float | None):
    """Run ``fn`` with a per-candidate wall-clock budget (reference timeout
    runner, inspect.py:743-776). The worker is a genuine daemon thread —
    unlike ThreadPoolExecutor workers (non-daemon since 3.9, joined at
    interpreter exit) a hung candidate can neither stall the inspection
    loop nor block process shutdown."""
    if not seconds:
        return fn()
    import threading

    result: list = []
    error: list = []

    def run():
        try:
            result.append(fn())
        except BaseException as exc:  # propagated to the caller below
            error.append(exc)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=seconds)
    if t.is_alive():
        raise TimeoutError(f"candidate exceeded {seconds}s")
    if error:
        raise error[0]
    return result[0]


def sample_report(df: DataFrame, n: int = 5) -> dict[str, Any]:
    """Small sampled repr (reference per-container repr extraction,
    inspect.py:216-510): first ``n`` rows with binary columns dropped —
    ``sample_rows`` as dicts plus a rendered text ``repr``. This is the one
    deliberate (tiny) data action in an otherwise metadata-only report."""
    from pyspark.sql import types as T

    cols = [f.name for f in df.schema.fields if not isinstance(f.dataType, T.BinaryType)]
    if not cols:
        return {"sample_rows": [], "repr": "<binary-only columns>"}
    pdf = df.select(*cols).limit(n).toPandas()
    return {"sample_rows": pdf.to_dict("records"), "repr": pdf.to_string()}


def thumbnail(df: DataFrame, size: int = 8) -> list[list[float]] | None:
    """Optional image thumbnail for array/media entries (reference
    thumbnail hooks, inspect.py:216-510): chunk-row arrays render their
    first chunk, binary media columns decode the first file (PNG/TIFF via
    the stdlib decoders); anything else → None. Grayscale, nearest-neighbor
    downsampled to at most ``size``×``size``."""
    import numpy as np
    from pyspark.sql import types as T

    from intake_spark.llm.multimodal import decode_image, resize_nearest

    cols = set(df.columns)
    try:
        if {"shape", "values", "offset0"} <= cols:
            row = df.select("shape", "values").first()
            if row is None:
                return None
            shape = [int(s) for s in row["shape"]]
            vals = np.asarray(row["values"], dtype=float)
            if len(shape) >= 2:
                arr = vals.reshape([-1] + shape[1:])
                if arr.ndim > 2:
                    arr = arr.reshape(arr.shape[0], arr.shape[1], -1).mean(axis=2)
            else:
                arr = vals.reshape(1, -1)
        elif "content" in cols and isinstance(
            df.schema["content"].dataType, T.BinaryType
        ):
            row = df.select("content").first()
            if row is None:
                return None
            img = decode_image(bytes(row["content"]))
            arr = img.mean(axis=2) if img.ndim == 3 else np.asarray(img, dtype=float)
        else:
            return None
        out = resize_nearest(
            arr, min(size, arr.shape[0]), min(size, arr.shape[1])
        )
        return [[float(v) for v in r] for r in out]
    except (ValueError, NotImplementedError, OSError):
        # bytes that are not a decodable image (the codec gates raise
        # NotImplementedError, malformed images ValueError/OSError) or a
        # chunk whose values do not fit its shape: no thumbnail
        return None


def inspect_dataset(
    url: str,
    spark=None,
    timeout: float | None = 60.0,
    max_bytes: int | None = None,
    exclude: tuple[str, ...] = (),
    sample: bool = True,
    thumb_size: int = 8,
) -> dict[str, Any]:
    """Detect datatype, build the lazy reader, report schema + file stats.

    Candidates are tried best-score-first; a candidate that raises *or
    exceeds ``timeout`` seconds* is recorded under ``errors`` and the next
    candidate is tried (reference fallback loop, inspect.py:1092-1162).
    ``max_bytes`` skips non-lazy (driver-side-parsing) readers for datasets
    larger than the guard — the reference's full-read tier size guard.
    ``exclude`` drops reader class names from consideration.
    Never triggers a data-reading Spark action for lazy readers (schemas
    come from file metadata/footers).
    """
    from intake_spark.datatypes import register_all

    register_all()  # full datatype/reader registry before recommending
    spark = spark or get_session()
    candidates = recommend(url)
    report: dict[str, Any] = {"url": url, "candidates": [c.__name__ for c in candidates]}
    size, n_files = _dir_size(url)
    report["bytes"] = size
    report["n_files"] = n_files
    for cls in candidates:
        try:
            data = cls(url=url)
            reader = data.to_reader()
            rname = type(reader).__name__
            if rname in exclude:
                continue
            if (
                max_bytes is not None
                and size > max_bytes
                and not getattr(type(reader), "lazy", True)
            ):
                report.setdefault("errors", []).append(
                    f"{cls.__name__}: skipped — {rname} parses driver-side and "
                    f"dataset is {size} bytes (> max_bytes={max_bytes})"
                )
                continue

            def attempt(reader=reader):
                return reader.read(spark=spark)

            df = _with_timeout(attempt, timeout)
            report.update(schema_report(df))
            report["datatype"] = cls.__name__
            report["reader"] = rname
            if sample:
                try:
                    report.update(_with_timeout(lambda: sample_report(df), timeout))
                    report["thumbnail"] = _with_timeout(
                        lambda: thumbnail(df, thumb_size), timeout
                    )
                except Exception as exc:
                    report.setdefault("errors", []).append(f"sample: {exc}")
            return report
        except Exception as exc:  # try next candidate (inspect.py:1092-1162)
            report.setdefault("errors", []).append(f"{cls.__name__}: {exc}")
    return report


def parquet_layout(spark, url: str) -> "object":
    """Parquet physical-layout report: one row per (file, row group,
    column) with sizes, encodings, and min/max statistics — the data that
    decides whether predicate pushdown and row-group pruning can work
    (columns written without stats can't prune; tiny row groups waste
    scan setup; huge ones defeat skipping). Footer metadata only — no
    data pages are read, so this inspects a 100 TB lake as fast as it
    lists files."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    if _os.path.isdir(url):
        paths = sorted(
            _glob.glob(_os.path.join(url, "**", "*.parquet"), recursive=True)
        )
    else:
        paths = sorted(p for p in _glob.glob(url) if _os.path.isfile(p)) or [url]
    rows = []
    for path in paths:
        meta = pq.ParquetFile(path).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                st = c.statistics
                rows.append(
                    {
                        "file": _os.path.basename(path),
                        "row_group": rg,
                        "n_rows": g.num_rows,
                        "column": c.path_in_schema,
                        "compression": str(c.compression),
                        "encodings": ",".join(sorted(set(c.encodings))),
                        "compressed_bytes": c.total_compressed_size,
                        "uncompressed_bytes": c.total_uncompressed_size,
                        "has_stats": st is not None,
                        "null_count": int(st.null_count) if st is not None and st.null_count is not None else None,
                        "stat_min": str(st.min) if st is not None and st.has_min_max else None,
                        "stat_max": str(st.max) if st is not None and st.has_min_max else None,
                    }
                )
    schema = (
        "file string, row_group int, n_rows long, column string, "
        "compression string, encodings string, compressed_bytes long, "
        "uncompressed_bytes long, has_stats boolean, null_count long, "
        "stat_min string, stat_max string"
    )
    return local_frame(spark, rows, schema)


def plan_report(df) -> dict:
    """Compact scale audit of a DataFrame's EXECUTED plan — the checks the
    repo's plan-shape tests assert, exposed as a user-facing diagnostic:

    - ``n_exchanges``: hash-partitioning shuffles (each is a full
      data movement; the number to minimize),
    - ``n_broadcast_joins`` / ``n_sortmerge_joins`` / ``n_nested_loop``:
      join strategies chosen (small dims should broadcast; nested-loop
      outside sanctioned scalar joins is a red flag),
    - ``has_take_ordered``: top-N lowered to per-partition heaps,
    - ``n_python_stages``: ``BatchEvalPython`` row-at-a-time UDF stages
      (should be ZERO — Arrow stages report separately),
    - ``n_arrow_stages``: mapInPandas/pandas-UDF Arrow exchanges,
    - ``pushed_filters`` / ``whole_stage_codegen``: scan pushdown and
      codegen presence.

    Use before promoting a pipeline to a big cluster: a q that "works" at
    sf0.01 with 3 unneeded Exchanges or a Python stage will not hold at
    100 TB."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "n_exchanges": plan.count("Exchange hashpartitioning"),
        "n_range_exchanges": plan.count("Exchange rangepartitioning"),
        "n_broadcast_joins": plan.count("BroadcastHashJoin"),
        "n_sortmerge_joins": plan.count("SortMergeJoin"),
        "n_nested_loop": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        "has_take_ordered": "TakeOrderedAndProject" in plan,
        "n_python_stages": plan.count("BatchEvalPython"),
        "n_arrow_stages": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        # ANY scan with a non-empty pushed-filter list counts (a second
        # filterless scan in the same plan must not mask it)
        "pushed_filters": bool(
            __import__("re").search(r"PushedFilters: \[[^\]]", plan)
        ),
        "whole_stage_codegen": "WholeStageCodegen" in plan,
    }
