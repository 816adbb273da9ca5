"""Snapshot-versioned table format (Iceberg-style, from scratch).

The north star lands outputs "in Iceberg with per-partition lineage +
row-count metrics"; the sandbox has no Iceberg runtime jar, so this
module re-expresses the parts the engine needs on plain parquet +
JSON metadata, with the same guarantees:

- every commit is a SNAPSHOT: an immutable JSON manifest listing the
  exact data files (with per-file row counts and partition values —
  the lineage metrics) plus the parent snapshot id
- readers resolve VERSION -> snapshot -> file list; any historical
  snapshot stays readable (time travel) and rollback is a VERSION swap
- commits are atomic (write-tmp + rename of VERSION) with OPTIMISTIC
  concurrency: a commit whose expected parent is no longer current
  raises CommitConflict instead of clobbering (Iceberg's compare-and-
  swap semantic)
- append / overwrite / overwrite-partitions operations; the last one
  pairs with lineage.run_stage_incremental to rewrite only changed
  partition values

Layout:
  table/
    data/s<seq>_<pid>_<n>/<partition dirs>/<parquet files>
                                  (staged under a WRITER-UNIQUE dir, so a
                                   losing concurrent committer can never
                                   clobber the winner's already-committed
                                   files — ADVICE r02; immutable once a
                                   snapshot references it, orphaned if the
                                   commit loses the parent check)
    snapshots/v<seq>.json
    VERSION                       (latest seq, atomic)
"""

from __future__ import annotations

import itertools
import json
import os

from pyspark.sql import DataFrame, SparkSession

from posmspark import lineage

#: per-process staging counter; combined with the pid it makes every
#: _write_data target unique even when two committers race to the same
#: snapshot seq (the seq is only a human-readable hint in the dir name)
_staging_ids = itertools.count()


class CommitConflict(RuntimeError):
    """Another commit landed since this one's parent was read."""


def _version_path(table_dir: str) -> str:
    return os.path.join(table_dir, "VERSION")


def current_snapshot_id(table_dir: str) -> int | None:
    p = _version_path(table_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def read_snapshot_meta(table_dir: str, snapshot_id: int) -> dict:
    with open(os.path.join(table_dir, "snapshots",
                           f"v{snapshot_id:05d}.json")) as f:
        return json.load(f)


def snapshots(table_dir: str) -> list[dict]:
    d = os.path.join(table_dir, "snapshots")
    if not os.path.isdir(d):
        return []
    out = []
    for fn in sorted(os.listdir(d)):
        if fn.startswith("v") and fn.endswith(".json"):
            with open(os.path.join(d, fn)) as f:
                out.append(json.load(f))
    return out


def _next_seq(table_dir: str) -> int:
    """Next snapshot id = max EXISTING snapshot + 1 (never the parent's
    successor: after a rollback the rolled-past snapshots must stay
    readable, so their ids and data dirs are never reused)."""
    existing = [s["snapshot_id"] for s in snapshots(table_dir)]
    return (max(existing) + 1) if existing else 1


def _commit(table_dir: str, operation: str, files: list[dict],
            expected_parent: int | None, seq: int) -> int:
    """Atomic snapshot commit.

    Concurrency: a POSIX O_EXCL lock file serializes the
    check-and-swap, so two same-parent committers cannot both pass the
    VERSION check (the second sees either the lock or the moved parent
    and raises CommitConflict) — the local-FS stand-in for Iceberg's
    catalog compare-and-swap.
    """
    os.makedirs(table_dir, exist_ok=True)
    lock_path = os.path.join(table_dir, "COMMIT_LOCK")
    try:
        lock_fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        # NOTE: a committer killed mid-commit leaves COMMIT_LOCK behind;
        # recovery is removing the file (single-writer deployments) —
        # a real catalog service would use leases/CAS instead.
        raise CommitConflict("another commit is in flight")
    try:
        cur = current_snapshot_id(table_dir)
        if cur != expected_parent:
            raise CommitConflict(
                f"parent moved: expected {expected_parent}, found {cur}")
        snap = {
            "snapshot_id": seq,
            "parent_id": cur,
            "operation": operation,
            "n_files": len(files),
            "n_rows": sum(f["rows"] for f in files),
            "files": files,
        }
        sdir = os.path.join(table_dir, "snapshots")
        os.makedirs(sdir, exist_ok=True)
        with open(os.path.join(sdir, f"v{seq:05d}.json"), "w") as f:
            json.dump(snap, f, indent=1)
        tmp = _version_path(table_dir) + f".tmp{seq}"
        with open(tmp, "w") as f:
            f.write(str(seq))
        os.replace(tmp, _version_path(table_dir))
        return seq
    finally:
        os.close(lock_fd)
        os.remove(lock_path)


def _write_data(df: DataFrame, table_dir: str, seq_hint: int,
                partition_by: list[str] | None) -> tuple[str, list[dict]]:
    data_dir = os.path.join(
        table_dir, "data",
        f"s{seq_hint:05d}_{os.getpid()}_{next(_staging_ids)}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(data_dir)
    # row counts from the parquet footers (no data scan) and the hive
    # partition values carried in each path
    files = [{"path": f["path"], "partition": f["partition"],
              "rows": f["rows"]} for f in lineage.parquet_files(data_dir)]
    return data_dir, files


def commit_overwrite(df: DataFrame, table_dir: str,
                     partition_by: list[str] | None = None) -> int:
    """New snapshot containing ONLY this DataFrame's files."""
    parent = current_snapshot_id(table_dir)
    seq = _next_seq(table_dir)
    data_dir, files = _write_data(df, table_dir, seq, partition_by)
    rel = os.path.relpath(data_dir, table_dir)
    for f in files:
        f["path"] = os.path.join(rel, f["path"])
    return _commit(table_dir, "overwrite", files, parent, seq)


def commit_append(df: DataFrame, table_dir: str,
                  partition_by: list[str] | None = None) -> int:
    """New snapshot = parent's files + this DataFrame's files."""
    parent = current_snapshot_id(table_dir)
    base = read_snapshot_meta(table_dir, parent)["files"] if parent else []
    seq = _next_seq(table_dir)
    data_dir, files = _write_data(df, table_dir, seq, partition_by)
    rel = os.path.relpath(data_dir, table_dir)
    for f in files:
        f["path"] = os.path.join(rel, f["path"])
    return _commit(table_dir, "append", base + files, parent, seq)


def commit_overwrite_partitions(df: DataFrame, table_dir: str,
                                partition_by: list[str]) -> int:
    """New snapshot where partition values present in df replace the
    parent's files for those values; untouched partitions carry over
    their existing (immutable) files — the snapshot-level analog of
    dynamic partition overwrite, pairing with run_stage_incremental."""
    parent = current_snapshot_id(table_dir)
    base = read_snapshot_meta(table_dir, parent)["files"] if parent else []
    seq = _next_seq(table_dir)
    data_dir, files = _write_data(df, table_dir, seq, partition_by)
    rel = os.path.relpath(data_dir, table_dir)
    for f in files:
        f["path"] = os.path.join(rel, f["path"])
    # files whose partition key set differs from partition_by in EITHER
    # direction corrupt the overwrite: missing keys (e.g. an earlier
    # commit_append with no partition_by) mix rows of touched and
    # untouched partitions (fuzz r03); extra keys (an earlier commit
    # partitioned by a superset, e.g. [lang, day] vs [lang]) never
    # tuple-match `touched`, so stale files for overwritten values
    # would silently carry over. Refuse instead of corrupting.
    for f in base:
        if set(f["partition"].keys()) != set(partition_by):
            raise ValueError(
                f"snapshot file {f['path']} is partitioned by "
                f"{sorted(f['partition'].keys())}, not {sorted(partition_by)}: "
                "dynamic partition overwrite requires every prior commit on "
                "this table to use the same partition_by")
    touched = {tuple(sorted(f["partition"].items())) for f in files}
    kept = [f for f in base
            if tuple(sorted(f["partition"].items())) not in touched]
    return _commit(table_dir, "overwrite_partitions", kept + files, parent,
                   seq)


def read_table(spark: SparkSession, table_dir: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Read the table at VERSION (default) or any snapshot (time
    travel): exactly that snapshot's files, partition columns restored
    from the hive paths."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(
        table_dir)
    if sid is None:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    meta = read_snapshot_meta(table_dir, sid)
    paths = [os.path.join(table_dir, f["path"]) for f in meta["files"]]
    if not paths:
        raise ValueError(f"snapshot {sid} is empty")
    # every commit dir is its own basePath; group to keep partition
    # column inference intact
    by_base: dict[str, list[str]] = {}
    for f in meta["files"]:
        base = os.path.join(table_dir, *f["path"].split(os.sep)[:2])
        by_base.setdefault(base, []).append(
            os.path.join(table_dir, f["path"]))
    dfs = [
        spark.read.option("basePath", base).parquet(*ps)
        for base, ps in sorted(by_base.items())
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def rollback(table_dir: str, snapshot_id: int) -> None:
    """Point VERSION back at an existing snapshot (no data movement)."""
    read_snapshot_meta(table_dir, snapshot_id)  # must exist
    tmp = _version_path(table_dir) + ".tmp_rb"
    with open(tmp, "w") as f:
        f.write(str(snapshot_id))
    os.replace(tmp, _version_path(table_dir))


def lineage_df(spark: SparkSession, table_dir: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Per-file lineage of a snapshot as a DataFrame: (path, partition
    json, rows) — the row-count metrics the north rule requires."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(
        table_dir)
    meta = read_snapshot_meta(table_dir, sid)
    rows = [
        (f["path"], json.dumps(f["partition"], sort_keys=True), f["rows"])
        for f in meta["files"]
    ]
    return spark.createDataFrame(
        rows, "path string, partition string, rows long")


def table_snapshots_oracle_sql() -> str:
    """The table_snapshots registry query under the oracle gate
    (promotes the r04 rows-only entry): DuckDB re-derives each
    snapshot's expected row multiset size from the documents table —
    overwrite = |docs|, append adds the doc_id<10 slice, and
    overwrite-partitions of lang='de' replaces that partition's rows
    (original + appended de docs) with the original de slice, a net
    removal of the appended de rows. Sequential ids from 1 are part of
    the check (commit-after-rollback id reuse would shift them)."""
    return """
WITH c AS (SELECT COUNT(*) AS n FROM documents),
a AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 10),
dea AS (SELECT COUNT(*) AS n FROM documents
        WHERE doc_id < 10 AND lang = 'de')
SELECT 1 AS snapshot_id, 'overwrite' AS operation, c.n AS n_rows FROM c
UNION ALL
SELECT 2, 'append', c.n + a.n FROM c, a
UNION ALL
SELECT 3, 'overwrite_partitions', c.n + a.n - dea.n FROM c, a, dea
"""
