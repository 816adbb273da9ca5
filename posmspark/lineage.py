"""Checkpoint-resumable stages with per-partition lineage metrics.

The reference's resilience story is per-feature try/except with
DELETE-and-continue plus a timing log table
(/root/reference/extractor/postgis_sql/proc_functions.sql:20,47-52,74-78)
and batch re-runs via osmupdate diffs (POSMmanagement/osmdata.py:87-134).
Our Spark restatement (SURVEY.md §2.8): every pipeline stage writes
Parquet + a _manifest.json carrying

  {stage, input_fingerprint, n_rows, n_partitions,
   partitions: [{partition_id, rows}...], null_counts: {column: n},
   wall_ms}

A rerun whose (stage, input_fingerprint) matches an existing manifest
skips the stage and reads the checkpoint — resume-from-any-stage. The
per-partition row counts are the north rule's lineage metrics. They
come from the parquet footers Spark has just written, read on the
driver (parquet_footer), so recording them runs no Spark job: rows per
write task (partition_id is the task index in the part-NNNNN file
name), plus null counts per top-level column. A resume reads the
schema Spark stored in the checkpoint's own footer instead of
inferring it, which would run a job too.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"

# partition-key charset safe from hive path escaping (see
# run_stage_incremental)
_SAFE_KEY = re.compile(r"[A-Za-z0-9_.\-]+")

# Spark names each data file part-<task index>-<write job uuid>...
_TASK_FILE = re.compile(r"part-(\d+)-")

# footer key under which Spark stores the DataFrame schema it wrote
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST)


def read_manifest(out_dir: str) -> dict | None:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def parquet_footer(path: str) -> dict:
    """Row count, per-column null counts and the Spark schema of one
    parquet file (path or URI), read from its footer on the driver: no
    data read, no Spark job.

    null_counts holds the top-level primitive columns in schema order;
    nested leaves (a dotted path) and any column with a chunk that
    lacks the null_count statistic are left out. spark_schema is the
    JSON Spark stores in the footer, or None for a file Spark did not
    write."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    stats: dict[str, list] = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            if "." not in col.path_in_schema:
                stats.setdefault(col.path_in_schema, []).append(
                    col.statistics)
    return {
        "rows": md.num_rows,
        "null_counts": {
            name: sum(s.null_count for s in ss) for name, ss in stats.items()
            if all(s is not None and s.has_null_count for s in ss)},
        "spark_schema": (md.metadata or {}).get(_SPARK_SCHEMA),
    }


def parquet_files(data_dir: str) -> list[dict]:
    """Every parquet data file under data_dir: its path relative to
    data_dir, the hive partition values carried in that path, and its
    parquet_footer."""
    files = []
    for root, _dirs, fns in os.walk(data_dir):
        for fn in sorted(fns):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(root, fn)
            rel = os.path.relpath(full, data_dir)
            parts = {}
            for seg in rel.split(os.sep)[:-1]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    parts[k] = v
            files.append({"path": rel, "partition": parts,
                          **parquet_footer(full)})
    return files


def _sum_null_counts(footers: list[dict]) -> dict[str, int]:
    """Per-column null counts summed over files; a column missing from
    any file's null_counts is left out."""
    if not footers:
        return {}
    return {c: sum(f["null_counts"][c] for f in footers)
            for c in footers[0]["null_counts"]
            if all(c in f["null_counts"] for f in footers)}


def partition_lineage(df: DataFrame) -> list[dict]:
    """Rows written per write task of a DataFrame read from Spark-written
    parquet, in partition_id (task index) order, from the footers of
    df.inputFiles(): no Spark job. Files of one task (maxRecordsPerFile
    splits its output) are summed; a task that wrote no rows is left
    out, as a groupBy over the rows would leave it out."""
    rows: dict[int, int] = {}
    for uri in df.inputFiles():
        m = _TASK_FILE.match(os.path.basename(uri))
        if m is None:
            raise ValueError(f"{uri} is not a Spark part file")
        task = int(m.group(1))
        rows[task] = rows.get(task, 0) + parquet_footer(uri)["rows"]
    return [{"partition_id": t, "rows": n}
            for t, n in sorted(rows.items()) if n]


def _written_schema(out_dir: str) -> StructType:
    """The schema run_stage wrote to out_dir, from one file's footer."""
    first = min(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
    meta = parquet_footer(os.path.join(out_dir, first))["spark_schema"]
    return StructType.fromJson(json.loads(meta))


def run_stage(
    spark: SparkSession,
    stage: str,
    input_fingerprint: str,
    out_dir: str,
    build: "callable",
    force: bool = False,
) -> DataFrame:
    """Run (or resume) one checkpointed stage.

    build() -> DataFrame is only invoked on a cache miss. The stage is
    atomic: parquet lands first, the manifest last, so a killed run
    leaves no manifest and simply recomputes (kill-and-resume test).
    """
    man = read_manifest(out_dir)
    if not force and man and man.get("input_fingerprint") == input_fingerprint \
            and man.get("stage") == stage:
        # the checkpoint is run_stage's own write, so its footer holds
        # the schema: inferring it would run a footer-reading job
        return spark.read.schema(_written_schema(out_dir)).parquet(out_dir)

    t0 = time.monotonic()
    df = build()
    df.write.mode("overwrite").parquet(out_dir)
    # read back with the schema just written: inferring it would run a
    # footer-reading job
    out = spark.read.schema(df.schema).parquet(out_dir)
    lineage = partition_lineage(out)
    manifest = {
        "stage": stage,
        "input_fingerprint": input_fingerprint,
        "n_rows": sum(p["rows"] for p in lineage),
        "n_partitions": len(lineage),
        "partitions": lineage,
        "null_counts": _sum_null_counts(
            [parquet_footer(f) for f in out.inputFiles()]),
        "wall_ms": int((time.monotonic() - t0) * 1000),
    }
    with open(_manifest_path(out_dir), "w") as f:
        json.dump(manifest, f, indent=1)
    return out


def _fingerprint_aggs():
    """Order-insensitive multiset combiner over row hashes.

    xor alone pair-cancels (A xor A = 0: swapping two copies of row A
    for two copies of row B goes undetected — ADVICE r01), so combine
    count + xor + an overflow-free decimal SUM of the hashes; a multiset
    change must now shift the sum.
    """
    return [
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(h)").alias("x"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ]


def fingerprint_df(df: DataFrame, sample_cols: list[str] | None = None) -> str:
    """Cheap content fingerprint: count + xor + decimal-sum of row
    hashes; one map-side-combinable aggregation, order-insensitive."""
    cols = sample_cols or df.columns
    h = (
        df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("h"))
        .agg(*_fingerprint_aggs())
        .collect()[0]
    )
    return f"{h['n']}:{h['x']}:{h['s']}"


def fingerprint_partitions(
    df: DataFrame, partition_col: str,
    sample_cols: list[str] | None = None,
) -> dict[str, str]:
    """Per-partition-key content fingerprints in ONE aggregation pass
    (map-side combinable groupBy, no per-key jobs)."""
    cols = [c for c in (sample_cols or df.columns) if c != partition_col]
    rows = (
        df.select(
            F.col(partition_col).cast("string").alias("_pk"),
            F.xxhash64(*[F.col(c) for c in cols]).alias("h"),
        )
        .groupBy("_pk")
        .agg(*_fingerprint_aggs())
        .collect()
    )
    return {r["_pk"]: f"{r['n']}:{r['x']}:{r['s']}" for r in rows}


def fingerprint_partition_dir(in_dir: str, partition_col: str
                              ) -> dict[str, str]:
    """Per-partition fingerprints from FILE METADATA of a hive-layout
    directory (<partition_col>=<key>/...) — zero data scan.

    Content fingerprints (fingerprint_partitions) re-read the whole
    input on every rerun, which at 100 TB costs a full scan even when
    nothing changed; immutable-file stores (parquet/Iceberg snapshots)
    make (name, size, mtime) per file a sound change signal, which is
    what production incremental systems key on.
    """
    import hashlib

    out: dict[str, str] = {}
    prefix = f"{partition_col}="
    for entry in sorted(os.listdir(in_dir)):
        if not entry.startswith(prefix):
            continue
        d = os.path.join(in_dir, entry)
        if not os.path.isdir(d):
            continue
        h = hashlib.sha256()
        for fn in sorted(os.listdir(d)):
            if fn.startswith((".", "_")):
                continue
            full = os.path.join(d, fn)
            if os.path.isdir(full):
                raise ValueError(
                    f"nested partitioning under {d} — directory "
                    f"fingerprints support a single partition level")
            st = os.stat(full)
            h.update(f"{fn}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        out[entry[len(prefix):]] = h.hexdigest()[:32]
    return out


def run_stage_incremental(
    spark: SparkSession,
    stage: str,
    input_df: "DataFrame | str",
    out_dir: str,
    build: "callable",
    partition_col: str,
    force: bool = False,
) -> DataFrame:
    """Partition-level incremental recompute (SURVEY.md §3.2; the Spark
    restatement of the reference's diff-driven re-extraction,
    POSMmanagement/osmdata.py:87-134 — apply a change set, reprocess
    only affected areas).

    The stage's transform must be PARTITION-LOCAL in `partition_col`
    (an output row for key K depends only on input rows with key K —
    true for per-country extraction, per-tile aggregation, per-level
    exports). The manifest stores one fingerprint per input key; a
    rerun fingerprints the new input (one aggregation pass), recomputes
    only changed/new keys through build(changed_subset), and rewrites
    ONLY those output partitions via dynamic partition overwrite.
    Removed input keys drop their output partitions. Unchanged
    partitions are never read, rebuilt, or rewritten.

    Manifest v2 adds {partition_col, input_partitions: {key: fp},
    last_recomputed: [keys], runs}; per-output-partition row counts
    stay the lineage metric.

    input_df may be a DataFrame (content fingerprints — one aggregation
    scan) or a PATH to a hive-partitioned parquet dir (file-metadata
    fingerprints — ZERO data scan on reruns; the 100-TB mode).
    """
    import shutil

    man = read_manifest(out_dir)
    if isinstance(input_df, str):
        in_fps = fingerprint_partition_dir(input_df, partition_col)
        input_df = spark.read.parquet(input_df)
    else:
        in_fps = fingerprint_partitions(input_df, partition_col)
    # Hive path escaping (':' -> '%3A' etc.) would desync the raw key
    # strings used for rmtree/isin from the escaped directory names —
    # silently resurrecting removed partitions or deleting-without-
    # rebuilding changed ones. Refuse such keys outright; a NULL key
    # (hive's __HIVE_DEFAULT_PARTITION__) is equally unsupported and
    # must raise ValueError, not TypeError (ADVICE r02).
    bad = [k for k in in_fps if k is None or not _SAFE_KEY.fullmatch(k)]
    if bad:
        raise ValueError(
            f"partition keys need hive path escaping (unsupported here):"
            f" {bad[:5]} — restrict {partition_col} to non-null"
            f" [A-Za-z0-9_.-]")

    prev_fps = (man or {}).get("input_partitions")
    compatible = (
        man is not None
        and not force
        and man.get("stage") == stage
        and man.get("partition_col") == partition_col
        and prev_fps is not None
    )
    t0 = time.monotonic()
    if not compatible:
        changed = sorted(in_fps)
        removed: list[str] = []
        df = build(input_df)
        (df.write.mode("overwrite").partitionBy(partition_col)
           .parquet(out_dir))
    else:
        changed = sorted(
            k for k, fp in in_fps.items() if prev_fps.get(k) != fp)
        removed = sorted(k for k in prev_fps if k not in in_fps)
        for k in removed:
            shutil.rmtree(
                os.path.join(out_dir, f"{partition_col}={k}"),
                ignore_errors=True)
        if changed:
            subset = input_df.filter(
                F.col(partition_col).cast("string").isin(changed))
            # persist so the write and the emitted-keys collect see ONE
            # evaluation of build(): re-executing a nondeterministic or
            # input-racing build could make `emitted` disagree with what
            # was written, wrongly rmtree-ing a written partition or
            # keeping a stale one (ADVICE r02)
            out_sub = build(subset).persist()
            (out_sub.write.mode("overwrite")
               .option("partitionOverwriteMode", "dynamic")
               .partitionBy(partition_col).parquet(out_dir))
            # dynamic overwrite only touches keys present in the new
            # result — a changed key whose rebuild emits 0 rows must
            # still drop its stale output partition.
            emitted = {
                str(r["_pk"]) for r in out_sub.select(
                    F.col(partition_col).cast("string").alias("_pk")
                ).distinct().collect()
            }
            out_sub.unpersist()
            for k in changed:
                if k not in emitted:
                    shutil.rmtree(
                        os.path.join(out_dir, f"{partition_col}={k}"),
                        ignore_errors=True)

    out = spark.read.parquet(out_dir)
    # per-key rows from the footers under each <col>=<key>/ directory;
    # _SAFE_KEY keeps the directory name equal to the string key
    files = parquet_files(out_dir)
    per_key: dict[str, int] = {}
    for f in files:
        k = f["partition"][partition_col]
        per_key[k] = per_key.get(k, 0) + f["rows"]
    lineage = sorted((k, n) for k, n in per_key.items() if n)
    manifest = {
        "stage": stage,
        "partition_col": partition_col,
        "input_partitions": in_fps,
        "last_recomputed": changed,
        "last_removed": removed,
        "runs": (man or {}).get("runs", 0) + 1,
        "n_rows": sum(n for _k, n in lineage),
        "n_partitions": len(lineage),
        "partitions": [{"partition_key": k, "rows": n} for k, n in lineage],
        "null_counts": _sum_null_counts(files),
        "wall_ms": int((time.monotonic() - t0) * 1000),
    }
    with open(_manifest_path(out_dir), "w") as f:
        json.dump(manifest, f, indent=1)
    return out


def manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """Surface a stage manifest's per-partition lineage as a DataFrame
    (partition_key, rows, recomputed_last_run, input_fingerprint)."""
    man = read_manifest(out_dir) or {}
    recomputed = set(man.get("last_recomputed", []))
    fps = man.get("input_partitions", {})
    rows = [
        (
            p.get("partition_key", str(p.get("partition_id"))),
            int(p["rows"]),
            p.get("partition_key") in recomputed,
            fps.get(p.get("partition_key"), ""),
        )
        for p in man.get("partitions", [])
    ]
    return spark.createDataFrame(
        rows,
        "partition_key string, rows long, recomputed_last_run boolean,"
        " input_fingerprint string",
    )


def incremental_manifest_oracle_sql() -> str:
    """The incremental_manifest registry query under the oracle gate
    (promotes the r04 rows-only entry): DuckDB re-derives the recompute
    DECISION (doc 7's lang is the only partition whose input changed
    between the two runs) and the post-rerun stage output (per-lang
    aggregates over the MUTATED input) straight from the documents
    table. A stale-partition bug (rerun skips the changed key) or a
    wrong-subset rebuild (recomputes a partition from a filtered input)
    diverges from this SQL. The xxhash64 input fingerprints are
    engine-internal and stay pinned by tests/test_lineage.py."""
    return """
SELECT lang AS partition_key,
       CAST(1 AS BIGINT) AS rows,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id = 7 THEN n_chars + 1 ELSE n_chars END)
            AS BIGINT) AS sum_chars,
       bool_or(doc_id = 7) AS recomputed_last_run
FROM documents GROUP BY lang
"""
