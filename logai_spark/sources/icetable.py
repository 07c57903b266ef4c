"""IceTable: a minimal snapshot-log table format over parquet + JSON.

The north-star deployment (BASELINE.json north_rule) writes Iceberg tables —
snapshot isolation, atomic commits, time travel, idempotent resume. The
sandbox has no Iceberg runtime jar (sources/catalog.py detects and falls
back), so this module implements the SEMANTICS the pipeline needs from that
layer, from scratch, on any filesystem Spark can write parquet to:

- **Atomic commits.** Data files land in ``data/commit-{N}/`` first; the
  snapshot only becomes visible when ``metadata/v{N}.json`` is atomically
  renamed into place and the ``_current`` pointer is swapped (``os.replace``,
  atomic on POSIX). A crash mid-commit leaves staged parquet that no snapshot
  references — readers never see it, and ``vacuum()`` sweeps it.
- **Snapshot isolation / time travel.** Every snapshot lists its exact data
  files; ``read(...)`` pins a snapshot id (or "latest") and reads only those
  files, so a reader is immune to concurrent appends. ``rollback()`` commits
  a new snapshot that re-points at an old file list (history is never
  destroyed, exactly Iceberg's model).
- **Idempotent resume.** ``append(..., commit_key=...)`` is a no-op when a
  snapshot with that key already exists — a restarted pipeline stage re-runs
  its write and converges instead of duplicating rows. This is the table-
  format half of the checkpoint-manifest resume contract (plans/curate.py
  ledger is the DAG half).
- **Manifest stats + file skipping.** Each snapshot carries per-file
  row counts and min/max for caller-chosen columns; ``read(..., between=)``
  prunes files whose [min,max] cannot intersect the predicate BEFORE Spark
  ever lists them — the degenerate-but-real form of Iceberg's scan planning.
  (Spark still applies the residual filter; pruning only shrinks the file
  list, never changes results.)

Scale: metadata is O(files) JSON on the driver — Iceberg proper shards this
into avro manifest lists precisely because 10^12 rows means ~10^7 files; at
that scale swap this module for the real runtime via sources/catalog.py
(the operator-facing API here mirrors append/overwrite/read-at-snapshot so
the swap is mechanical). Commit-time stats cost one column-pruned scan of
the NEW files only, never the table.

Reference parity note: the reference (salesforce/logai) has no table format
at all — file_data_loader.py reads flat CSV (logai/dataloader/data_loader.py).
This layer exists for the 10^12-row deployment the north rule targets.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logai_spark.operators.route import _write_atomic

_FMT_VERSION = 1


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _snap_path(path: str, version: int) -> str:
    return os.path.join(_meta_dir(path), f"v{version}.json")


def _current_ptr(path: str) -> str:
    return os.path.join(_meta_dir(path), "_current")


def current_version(path: str) -> int:
    """Latest committed snapshot version, 0 if the table is empty/new."""
    ptr = _current_ptr(path)
    if not os.path.exists(ptr):
        return 0
    with open(ptr) as fp:
        return int(fp.read().strip())


def snapshots(path: str) -> list[dict]:
    """Full committed history, oldest first. Staged-but-uncommitted data
    (crash debris) is invisible here by construction."""
    out = []
    for v in range(1, current_version(path) + 1):
        with open(_snap_path(path, v)) as fp:
            out.append(json.load(fp))
    return out


def _load_snapshot(path: str, snapshot: int | None) -> dict:
    v = current_version(path) if snapshot is None else snapshot
    if v == 0:
        return {"version": 0, "files": [], "stats": {}}
    sp = _snap_path(path, v)
    if not os.path.exists(sp):
        raise ValueError(f"icetable {path!r} has no snapshot v{v}")
    with open(sp) as fp:
        return json.load(fp)


def _file_stats(
    spark: SparkSession, files: list[str], stats_cols: Iterable[str]
) -> dict[str, dict]:
    """Per-file (rows, min, max) for the NEW files of a commit — one
    column-pruned scan of just those files, the Iceberg write-side cost."""
    cols = list(stats_cols)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    rows = (
        spark.read.parquet(*files)
        .groupBy(F.input_file_name().alias("_f"))
        .agg(*aggs)
        .collect()
    )
    from urllib.parse import unquote, urlparse

    stats: dict[str, dict] = {}
    for r in rows:
        # input_file_name is a file:// URI; manifest keys are plain paths
        u = urlparse(r["_f"])
        key = unquote(u.path) if u.scheme else r["_f"]
        ent: dict = {"rows": r["_rows"]}
        for c in cols:
            ent[c] = [r[f"_min_{c}"], r[f"_max_{c}"]]
        stats[key] = ent
    return stats


def _commit(
    df: DataFrame,
    path: str,
    *,
    mode: str,
    commit_key: str | None,
    stats_cols: Iterable[str],
    files_override: list[str] | None = None,
) -> int:
    """Stage data, then publish snapshot N+1. Single-writer optimistic:
    a concurrent committer racing to the same version loses on the
    exclusive metadata create and must retry on a fresh version."""
    os.makedirs(_meta_dir(path), exist_ok=True)
    if commit_key is not None:
        for snap in snapshots(path):
            if snap.get("commit_key") == commit_key:
                return snap["version"]  # idempotent resume: already done
    parent = _load_snapshot(path, None)
    version = parent["version"] + 1

    if files_override is not None:  # rollback: re-point, write nothing
        new_files, new_stats = [], {}
    else:
        spark = df.sparkSession
        stage = os.path.join(path, "data", f"commit-{version}")
        df.write.mode("overwrite").parquet(stage)
        new_files = sorted(
            os.path.join(stage, f)
            for f in os.listdir(stage)
            if f.endswith(".parquet")
        )
        new_stats = (
            _file_stats(spark, new_files, stats_cols) if new_files else {}
        )

    if files_override is not None:
        files = list(files_override)
        # carry stats for re-pointed files from whichever snapshot knew them
        stats: dict[str, dict] = {}
        for snap in snapshots(path):
            for f, s in snap.get("stats", {}).items():
                if f in set(files):
                    stats[f] = s
    elif mode == "append":
        files = parent["files"] + new_files
        stats = {**parent.get("stats", {}), **new_stats}
    else:  # overwrite
        files = new_files
        stats = new_stats

    snap = {
        "format_version": _FMT_VERSION,
        "version": version,
        "parent": parent["version"],
        "operation": mode,
        "commit_key": commit_key,
        "committed_at": time.time(),  # informational only — never compared
        "files": files,
        "stats": stats,
        "total_rows": sum(stats.get(f, {}).get("rows", 0) for f in files),
    }
    sp = _snap_path(path, version)
    # exclusive create = the optimistic-concurrency check
    fd = os.open(sp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as fp:
        json.dump(snap, fp, indent=1)
        fp.flush()
        os.fsync(fp.fileno())
    _write_atomic(_current_ptr(path), str(version))
    return version


def append(
    df: DataFrame,
    path: str,
    commit_key: str | None = None,
    stats_cols: Iterable[str] = (),
) -> int:
    """Append ``df`` as a new snapshot; returns its version. With
    ``commit_key``, a re-run of an already-committed stage is a no-op
    returning the existing version (resume idempotence)."""
    return _commit(
        df, path, mode="append", commit_key=commit_key, stats_cols=stats_cols
    )


def overwrite(
    df: DataFrame,
    path: str,
    commit_key: str | None = None,
    stats_cols: Iterable[str] = (),
) -> int:
    """Replace table contents in one atomic snapshot (history retained)."""
    return _commit(
        df, path, mode="overwrite", commit_key=commit_key, stats_cols=stats_cols
    )


def rollback(path: str, to_version: int) -> int:
    """Commit a NEW snapshot whose file list equals ``to_version``'s —
    Iceberg-style non-destructive rollback (readers pinned to intermediate
    snapshots are unaffected)."""
    target = _load_snapshot(path, to_version)
    return _commit(
        None,  # type: ignore[arg-type]  # no data write on rollback
        path,
        mode="rollback",
        commit_key=None,
        stats_cols=(),
        files_override=target["files"],
    )


def read(
    spark: SparkSession,
    path: str,
    snapshot: int | None = None,
    between: tuple[str, object, object] | None = None,
) -> DataFrame:
    """Read a snapshot (latest when None). ``between=(col, lo, hi)`` prunes
    manifest files whose [min,max] cannot intersect [lo, hi], then applies
    the residual filter — results identical to a full-scan filter, with
    fewer files listed/opened (count the difference via ``plan_files``)."""
    snap = _load_snapshot(path, snapshot)
    files = plan_files(path, snapshot=snapshot, between=between)
    if not files:
        # preserve schema when possible by reading any file's footer
        if snap["files"]:
            empty = spark.read.parquet(snap["files"][0]).limit(0)
        else:
            raise ValueError(f"icetable {path!r} is empty (v{snap['version']})")
        return empty
    df = spark.read.parquet(*files)
    if between is not None:
        c, lo, hi = between
        df = df.filter(F.col(c).between(F.lit(lo), F.lit(hi)))
    return df


def plan_files(
    path: str,
    snapshot: int | None = None,
    between: tuple[str, object, object] | None = None,
) -> list[str]:
    """The scan plan: snapshot file list after manifest min/max pruning.
    Exposed separately so tests/benchmarks can assert skipping happened."""
    snap = _load_snapshot(path, snapshot)
    files = list(snap["files"])
    if between is None:
        return files
    c, lo, hi = between
    kept = []
    for f in files:
        rng = snap.get("stats", {}).get(f, {}).get(c)
        if rng is None or rng[0] is None or rng[1] is None:
            kept.append(f)  # no stats -> cannot prune safely
        elif not (rng[1] < lo or rng[0] > hi):
            kept.append(f)
    return kept


def vacuum(path: str) -> list[str]:
    """Delete staged data directories no committed snapshot references
    (crash debris from a failed commit). Returns removed directories."""
    live: set[str] = set()
    for snap in snapshots(path):
        live.update(snap["files"])
    live_dirs = {os.path.dirname(f) for f in live}
    removed = []
    data_root = os.path.join(path, "data")
    if not os.path.isdir(data_root):
        return removed
    import shutil

    for d in sorted(os.listdir(data_root)):
        full = os.path.join(data_root, d)
        if os.path.isdir(full) and full not in live_dirs:
            shutil.rmtree(full)
            removed.append(full)
    return removed
