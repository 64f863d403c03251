"""Lakehouse table maintenance: compaction (OPTIMIZE), Z-order rewrite,
vacuum, snapshot expiry — the operational layer a 100 TB table needs and
the reference delegates to delta-rs / the Iceberg runtime.

Design notes:
- Every write here goes through the same ``lakehouse`` primitives as the
  sinks: ``stage_parquet`` (staged write, then move-in), and the
  put-if-absent ``delta_commit`` / ``iceberg_commit``. Losing a commit
  race removes what this operation staged and raises
  ``ConcurrentWriteError`` (re-exported here); the table stays as the
  winner left it. Table state comes from ``delta_log_state`` and
  ``iceberg_metadata``.
- ``delta_optimize`` bin-packs small files per partition group (or
  Z-order-rewrites every group) and commits ``remove``+``add`` with
  ``dataChange: false`` — the protocol's compaction form, so streaming
  consumers skip the commit. The files are read through the reader's
  own ``delta_scan``. Deletion-vector tables take the full rewrite path
  (REORG/PURGE): the DV-aware reader materializes the live rows, the new
  files carry no DVs.
- ``delta_vacuum`` deletes data files that are BOTH unreferenced by the
  current state and older than the retention window (mtime) — the
  standard two-condition rule that keeps time travel within retention
  working.
- ``iceberg_expire_snapshots`` commits metadata without the expired
  snapshots first, and only then deletes manifests/manifest-lists/data
  files reachable only from them — so no committed metadata ever names
  a deleted file.
- ``iceberg_compact`` rewrites the current snapshot through
  ``to_iceberg`` (same partition spec, optional Z-order), which keeps
  prior snapshots time-travelable.

Reference parity: delta OPTIMIZE [ZORDER BY] / VACUUM, Iceberg
rewrite_data_files / expire_snapshots (the reference reaches these via
the deltalake package and the iceberg runtime jar).
"""

from __future__ import annotations

import json
import math
import os
import time

from intake_spark import lakehouse
from intake_spark.lakehouse import ConcurrentWriteError  # noqa: F401


def _zorder_sorted(df, zorder_by: list[str], n_out: int, part_cols: list[str],
                   bits: int = 16):
    """Range-partition + sort ``df`` on the Morton key of ``zorder_by``.
    Columns are min-shifted to non-negative longs (dates -> epoch days,
    timestamps -> micros) — order-preserving, so locality is real.
    Strings are rejected by name (hashing would destroy locality)."""
    from pyspark.sql import functions as F

    from intake_spark.layout import zorder_key_n

    exprs = []
    for c in zorder_by:
        t = dict(zip(df.schema.names, df.schema.fields))[c].dataType.simpleString()
        col = F.col(c)
        if t == "date":
            col = F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long")
        elif t == "timestamp":
            col = F.unix_micros(col)
        elif t == "timestamp_ntz":
            from intake_spark.session import ntz_epoch_micros

            col = ntz_epoch_micros(c)
        elif t in ("tinyint", "smallint", "int", "bigint", "float", "double"):
            col = col.cast("long")
        else:
            raise ValueError(
                f"zorder_by column {c!r} has type {t!r} (numeric/date/"
                "timestamp only — string keys have no meaningful Z-order)"
            )
        exprs.append(col)
    mins = df.select(
        *[F.min(e).alias(f"m{i}") for i, e in enumerate(exprs)]
    ).first()
    shifted = [
        F.coalesce(e - F.lit(int(mins[i] or 0)), F.lit(0)).cast("long")
        for i, e in enumerate(exprs)
    ]
    out = df.withColumn("__zkey", zorder_key_n(shifted, bits))
    keys = [F.col(c) for c in part_cols] + [F.asc("__zkey")]
    return (
        out.repartitionByRange(max(1, n_out), *keys)
        .sortWithinPartitions(*part_cols, "__zkey")
        .drop("__zkey")
    )


def delta_optimize(
    url: str,
    spark=None,
    target_file_size: int = 128 << 20,
    zorder_by: list[str] | None = None,
    bits: int = 16,
) -> dict:
    """Compact a Delta table's small files (optionally Z-ordering the
    rewrite), committing remove+add with ``dataChange: false``.

    Plain mode rewrites only partition groups holding >= 2 files;
    ``zorder_by`` rewrites every group. Deletion-vector tables take the
    full-rewrite (purge) path through the DV-aware reader. Column-mapped
    tables raise by name (their physical file layout is not rebuilt
    here). Returns {"removed": n, "added": n, "version": v}.
    """
    from urllib.parse import quote as _quote
    from urllib.parse import unquote as _unquote

    from intake_spark.session import get_session

    spark = spark or get_session()
    root = url.rstrip("/")
    log = os.path.join(root, "_delta_log")
    if not os.path.isdir(log):
        raise ValueError(f"{root} has no _delta_log — not a Delta table")
    state = lakehouse.delta_log_state(log, spark)
    adds, meta, version = state["adds"], state["meta"], state["version"]
    if meta is None:
        raise ValueError("Delta log contains no metaData action")
    cmap = (meta.get("configuration") or {}).get("delta.columnMapping.mode")
    if cmap and cmap != "none":
        raise ValueError(
            "delta_optimize does not rewrite column-mapped tables "
            f"(mode {cmap!r})"
        )
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    has_dvs = any(a.get("deletionVector") for a in adds.values())

    # choose the rewrite set
    groups: dict[tuple, list[str]] = {}
    for p, a in adds.items():
        pv = a.get("partitionValues") or {}
        groups.setdefault(
            tuple(pv.get(c) for c in part_cols), []
        ).append(p)
    if has_dvs or zorder_by:
        rewrite = sorted(adds)  # full rewrite (purge DVs / global order)
    else:
        rewrite = sorted(
            p for key, ps in groups.items() if len(ps) >= 2 for p in ps
        )
    if not rewrite:
        return {"removed": 0, "added": 0, "version": version}

    total_bytes = sum(
        int(adds[p].get("size") or 0)
        or os.path.getsize(os.path.join(root, _unquote(p)))
        for p in rewrite
    )
    n_out = max(1, math.ceil(total_bytes / target_file_size))

    if has_dvs:
        # REORG/PURGE: the DV-aware reader materializes live rows only.
        # Correct only as a FULL rewrite, which `rewrite` already is.
        from intake_spark import datatypes as dt

        df = lakehouse.DeltaLakeReader(
            data=dt.DeltalakeTable(url=root)
        ).read(spark=spark)
    else:
        df = lakehouse.delta_scan(
            spark, root, schema, part_cols,
            {_unquote(p): adds[p] for p in rewrite},
        )

    if zorder_by:
        df = _zorder_sorted(df, zorder_by, n_out, part_cols, bits)
    elif part_cols:
        df = df.repartition(n_out, *part_cols)
    else:
        df = df.repartition(n_out)

    staged = lakehouse.stage_parquet(df, root, part_cols)
    now_ms = int(time.time() * 1000)
    actions = [
        {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": False}}
        for p in rewrite
    ]
    actions += [
        {"add": {
            "path": _quote(rel, safe="/"),
            "partitionValues": pvals,
            "size": size,
            "modificationTime": now_ms,
            "dataChange": False,
        }}
        for rel, pvals, size in staged.files
    ]
    actions.append({"commitInfo": {
        "timestamp": now_ms,
        "operation": "OPTIMIZE",
        "operationParameters": {
            "zOrderBy": json.dumps(zorder_by or []),
            "targetSize": target_file_size,
        },
    }})
    # a lost race deletes the rewritten files; the ORIGINAL files are
    # untouched, so the table stays intact at the winner's version
    lakehouse.delta_commit(root, version + 1, actions, staged, "delta_optimize")
    return {
        "removed": len(rewrite),
        "added": len(staged.files),
        "version": version + 1,
    }


def delta_vacuum(
    url: str,
    spark=None,
    retention_hours: float = 168.0,
    dry_run: bool = False,
    enforce_retention: bool = True,
) -> list[str]:
    """Delete data files that are BOTH unreferenced by the current table
    state AND older than the retention window (file mtime) — the
    standard rule that keeps time travel within retention working.
    Returns the deleted (or, with ``dry_run``, deletable) paths,
    relative to the table root.

    ``retention_hours`` below 168 (7 days) is refused unless
    ``enforce_retention=False`` — mirroring Delta's
    ``retentionDurationCheck``: a short window can delete files a
    concurrent OPTIMIZE has moved in but not yet committed, or files
    still being read by in-flight queries."""
    if enforce_retention and retention_hours < 168.0:
        raise ValueError(
            f"retention_hours={retention_hours} is below the 168h (7 day) "
            "safety floor; short retention can delete files a concurrent "
            "delta_optimize staged but has not yet committed, or files "
            "in-flight queries are still reading. Pass "
            "enforce_retention=False to override deliberately."
        )
    from urllib.parse import unquote as _unquote

    from intake_spark.session import get_session

    spark = spark or get_session()
    root = url.rstrip("/")
    log = os.path.join(root, "_delta_log")
    if not os.path.isdir(log):
        raise ValueError(f"{root} has no _delta_log — not a Delta table")
    state = lakehouse.delta_log_state(log, spark)
    live = {_unquote(p) for p in state["adds"]}
    # DV files referenced by live adds must survive too
    for a in state["adds"].values():
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") != "i":
            p, _ = lakehouse._delta_dv_local_path(dv, root)
            live.add(os.path.relpath(p, root))
    cutoff = time.time() - retention_hours * 3600
    out = []
    for dirpath, dirs, files in os.walk(root):
        if "_delta_log" in dirpath.split(os.sep):
            continue
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for fn in files:
            ap = os.path.join(dirpath, fn)
            rel = os.path.relpath(ap, root)
            if rel in live:
                continue
            if os.path.getmtime(ap) > cutoff:
                continue
            out.append(rel)
            if not dry_run:
                os.remove(ap)
    if not dry_run:
        # prune now-empty partition dirs
        for dirpath, dirs, files in os.walk(root, topdown=False):
            if (
                dirpath != root
                and "_delta_log" not in dirpath.split(os.sep)
                and not os.listdir(dirpath)
            ):
                os.rmdir(dirpath)
    return sorted(out)


def iceberg_expire_snapshots(
    url: str,
    keep_last: int = 1,
    dry_run: bool = False,
) -> dict:
    """Drop all but the newest ``keep_last`` snapshots (the current one
    always survives) from the table metadata, and delete manifest
    lists, manifests and data files reachable ONLY from expired
    snapshots. The next vN.metadata.json commits (put-if-absent) BEFORE
    anything is deleted: losing the commit race raises
    ConcurrentWriteError with every file still in place."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    root = url.rstrip("/")
    v, _path, meta = lakehouse.iceberg_metadata(root)
    if meta is None:
        raise ValueError(f"{root} has no Iceberg metadata")
    local = lakehouse.iceberg_rebase(root, meta)

    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: int(s.get("timestamp-ms", 0))
    )
    cur = meta.get("current-snapshot-id")
    keep = snaps[-keep_last:]
    if cur is not None and all(s["snapshot-id"] != cur for s in keep):
        keep += [s for s in snaps if s["snapshot-id"] == cur]
    keep_ids = {s["snapshot-id"] for s in keep}
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return {"expired": 0, "deleted_files": [], "skipped_outside_root": []}

    def reachable(snapshots) -> tuple[set, set]:
        metas, datas = set(), set()
        for s in snapshots:
            ml = local(s["manifest-list"])
            metas.add(ml)
            for m in lakehouse.decode_avro_file(ml):
                mp = local(m["manifest_path"])
                metas.add(mp)
                for e in lakehouse.decode_avro_file(mp):
                    if e.get("status") == 2:
                        continue
                    datas.add(local(e["data_file"]["file_path"]))
        return metas, datas

    keep_meta, keep_data = reachable(keep)
    exp_meta, exp_data = reachable(expired)
    candidates = sorted((exp_meta - keep_meta) | (exp_data - keep_data))
    # Only delete paths that resolve UNDER the table root: a stale or
    # moved metadata 'location' makes local() fall through to the raw
    # manifest path, and blindly os.remove()-ing that could reach
    # outside the table. Containment-check via realpath.
    real_root = os.path.realpath(root)
    doomed, skipped = [], []
    for p in candidates:
        rp = os.path.realpath(p)
        if rp == real_root or rp.startswith(real_root + os.sep):
            doomed.append(p)
        else:
            skipped.append(p)
    if not dry_run:
        new_meta = dict(meta)
        new_meta["snapshots"] = keep
        new_meta["snapshot-log"] = [
            e for e in (meta.get("snapshot-log") or [])
            if e.get("snapshot-id") in keep_ids
        ]
        lakehouse.iceberg_commit(root, v + 1, new_meta)
        for p in doomed:
            if os.path.exists(p):
                os.remove(p)
    return {
        "expired": len(expired),
        "deleted_files": doomed,
        "skipped_outside_root": skipped,
    }


def iceberg_compact(
    url: str,
    spark=None,
    target_file_size: int = 128 << 20,
    zorder_by: list[str] | None = None,
    bits: int = 16,
):
    """Rewrite the current snapshot's data files (Iceberg
    rewrite_data_files): read the live table, optionally Z-order it,
    and commit an overwrite snapshot under the SAME partition spec —
    prior snapshots stay time-travelable until expired."""
    from intake_spark import datatypes as dt
    from intake_spark.output import to_iceberg
    from intake_spark.session import get_session

    spark = spark or get_session()
    root = url.rstrip("/")
    _v, _path, meta = lakehouse.iceberg_metadata(root)
    if meta is None:
        raise ValueError(f"{root} has no Iceberg metadata")
    spec = next(
        (
            sp
            for sp in (meta.get("partition-specs") or [])
            if sp.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        None,
    )
    fid_to_name = {}
    for s in meta.get("schemas") or [meta.get("schema") or {}]:
        for fld in s.get("fields", []):
            fid_to_name[fld["id"]] = fld["name"]
    partition_by = []
    for f in (spec or {}).get("fields", []):
        src = fid_to_name.get(f.get("source-id"), f["name"])
        tr = f.get("transform", "identity")
        if tr == "identity":
            partition_by.append(src)
        elif tr in ("day", "month", "year", "hour"):
            partition_by.append(f"{tr}({src})")
        elif tr.startswith("bucket["):
            partition_by.append(f"bucket({tr[7:-1]}, {src})")
        elif tr.startswith("truncate["):
            partition_by.append(f"truncate({tr[9:-1]}, {src})")
        else:
            raise ValueError(f"cannot recompose transform {tr!r}")
    df = lakehouse.IcebergTableReader(data=dt.IcebergDataset(url=root)).read(spark=spark)
    if zorder_by:
        sizes = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _d, fns in os.walk(os.path.join(root, "data"))
            for fn in fns if fn.endswith(".parquet")
        )
        n_out = max(1, math.ceil(sizes / target_file_size))
        df = _zorder_sorted(df, zorder_by, n_out, [], bits)
    return to_iceberg(df, root, mode="overwrite", partition_by=partition_by)
