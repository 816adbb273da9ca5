"""Seeded benchmark inputs, cached in the work directory, with the
reference result each workload's output is checked against.

A seed never reaches the generators. ``synth.pages_df`` and
``synth.documents_df`` are deterministic, so each is materialized once
per size as a base table with BASE_FACTOR times the rows a run uses.
A seed selects input variant ``v = seed % VARIANTS``, whose rows are
picked from the base by a hash seeded with v:

- pages: the `size` urls with the smallest ``xxhash64(url, v)``;
- documents: the same on ``doc_id // 25``, taking ``size / 25`` whole
  blocks of 25 consecutive ids, so the generator's exact-duplicate
  clusters (which sit inside such blocks) stay intact.

Every variant thus has exactly `size` rows, so the work of a run does
not vary with the sample size. The run that first needs a variant of a
kind makes all of them, so later runs only read parquet footers.

References:

- pages: the in-memory pipeline's per-page tile assignment is computed
  once over the whole base; its tile digest is pinned in
  ``expected.json``. A seed's reference is that assignment restricted
  to the seed's pages and re-aggregated with a plain groupBy, which
  shares no code with ``posmspark.tiles``.
- documents: the DuckDB oracle query that ``posmspark.relops`` ships
  for ``minhash_verified_dups``, run over the seed's parquet. The base
  table's own digest is pinned in ``expected.json``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_FACTOR = 8
CLUSTER_BLOCK = 25
SPLITS = 64
# the set-up's warm-up slice, in input files. Pages go through a Python
# UDF: one file per core of a 4-core host lets each Python worker pay its
# first-use cost in set-up rather than in the first measured job.
# Documents use no Python worker, and a larger slice only made set-up
# longer.
WARM_FILES = {"pages": 4, "documents": 1}
VARIANTS = 8

TILE_KEYS = ["cell", "osm_id_l0", "osm_id_l1", "osm_id_l2"]
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def footer_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no scan)."""
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_files(path))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def tile_digest(tiles: DataFrame) -> dict:
    """Order-independent digest of a (cell, osm_id_l0..2, doc_count)
    table: doc total, row count and the wrapped sum of row hashes, as
    one aggregate row (the tile table itself never leaves Spark)."""
    row = tiles.agg(
        F.sum("doc_count").alias("n_assigned"),
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum(F.xxhash64(*TILE_KEYS, "doc_count")
              .bitwiseAND(F.lit(0xFFFFFFFF))).alias("hash"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in ("n_assigned", "n_tiles", "hash")}


def _mix64(x: int) -> int:
    x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
    x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def pair_digest(rows) -> dict:
    """Order-independent digest of (id_a, id_b, jaccard) rows: count,
    wrapped sum of pair hashes, and the jaccard sum (compared with a
    tolerance, since the two engines round independently)."""
    h, jsum, n = 0, 0.0, 0
    for a, b, j in rows:
        h = (h + _mix64(int(a) * 0x100000001B3 + int(b))) & 0xFFFFFFFFFFFFFFFF
        jsum += float(j)
        n += 1
    return {"n_pairs": n, "hash": h, "jaccard_sum": round(jsum, 4)}


def digests_match(got: dict, want: dict) -> bool:
    for k, v in want.items():
        if k == "jaccard_sum":
            if abs(got.get(k, float("nan")) - v) > 1e-3:
                return False
        elif got.get(k) != v:
            return False
    return True


def table_digest(df: DataFrame) -> dict:
    """Row count and wrapped sum of whole-row hashes of a table."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF)))
        .alias("hash"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in ("rows", "hash")}


def _check_pinned(key: str, got: dict, path: str) -> None:
    """Compare a base table's digest with the one pinned in
    expected.json, so that a change to the generators or the pipeline
    cannot move the inputs or references it is measured against."""
    with open(EXPECTED) as f:
        pin = json.load(f).get(key)
    if got != pin:
        shutil.rmtree(path)
        raise RuntimeError(f"{key} digest is {got}, pinned {pin}")


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


class Inputs:
    """Base tables, input variants and references under `work`."""

    def __init__(self, spark: SparkSession, work: str):
        self.spark = spark
        self.work = work

    # -- base tables, once per size --------------------------------------
    def _pages_base(self, size: int) -> tuple[str, str]:
        from posmspark import pipeline, synth

        n = size * BASE_FACTOR
        base = os.path.join(self.work, "base", f"pages_{n}")
        ref = base + "_tiles"
        if not _complete(base):
            _write(synth.pages_df(self.spark, n, partitions=SPLITS), base)
        if not _complete(ref):
            out = pipeline.run_pipeline(self.spark, self.spark.read.parquet(base))
            _write(out["assigned"].filter(F.col("osm_id_l0").isNotNull())
                   .select("url", *TILE_KEYS), ref)
            _check_pinned(f"pages_{n}_tiles", tile_digest(
                self._tiles_of(self.spark.read.parquet(ref))), ref)
        return base, ref

    def _documents_base(self, size: int) -> str:
        from posmspark import synth

        n = size * BASE_FACTOR
        base = os.path.join(self.work, "base", f"documents_{n}")
        if not _complete(base):
            _write(synth.documents_df(self.spark, n, partitions=SPLITS), base)
            _check_pinned(f"documents_{n}", table_digest(
                self.spark.read.parquet(base)), base)
        return base

    @staticmethod
    def _tiles_of(per_page: DataFrame) -> DataFrame:
        return per_page.groupBy(*TILE_KEYS).agg(
            F.count(F.lit(1)).alias("doc_count"))

    # -- seeded selection ------------------------------------------------
    @staticmethod
    def _keep(df: DataFrame, key, seed: int, k: int):
        """Filter keeping the k distinct keys of `df` with the smallest
        seeded hash."""
        def h(c):
            return F.xxhash64(c, F.lit(seed).cast("long"))

        top = df.select(h(key).alias("h")).distinct().orderBy("h").limit(k)
        return h(key) <= top.agg(F.max("h")).collect()[0][0]

    def _variant_dir(self, kind: str, size: int, v: int) -> str:
        return os.path.join(self.work, "inputs", f"{kind}_{size}_v{v}")

    @staticmethod
    def _cached(d: str, data: str) -> dict | None:
        meta_path = os.path.join(d, "meta.json")
        if not os.path.exists(meta_path):
            return None
        with open(meta_path) as f:
            meta = json.load(f)
        if footer_rows(data) != meta["rows"]:
            return None
        return meta

    @staticmethod
    def _finish(d: str, meta: dict) -> dict:
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        return meta

    def pages(self, size: int, seed: int) -> dict:
        """The seed's pages; returns meta with `data`, `warm`, `rows`,
        `bytes`, `props` and the `expected` tile digest."""
        return [self._pages_variant(size, v)
                for v in range(VARIANTS)][seed % VARIANTS]

    def _pages_variant(self, size: int, v: int) -> dict:
        d = self._variant_dir("pages", size, v)
        data = os.path.join(d, "data")
        meta = self._cached(d, data)
        if meta is None:
            shutil.rmtree(d, ignore_errors=True)
            base, ref = self._pages_base(size)
            pages = self.spark.read.parquet(base)
            keep = self._keep(pages, F.col("url"), v, size)
            _write(pages.filter(keep), data)
            expected = tile_digest(self._tiles_of(
                self.spark.read.parquet(ref).filter(keep)))
            meta = self._finish(d, {
                "rows": footer_rows(data),
                "bytes": dir_bytes(data),
                "props": self._pages_props(data, expected),
                "expected": expected,
            })
        meta["data"] = data
        meta["warm"] = parquet_files(data)[:WARM_FILES["pages"]]
        return meta

    def documents(self, size: int, seed: int) -> dict:
        """The seed's documents laid out as a scale-factor directory
        (`sf/documents.parquet`) plus a small `warm` one; returns meta
        with `sf`, `warm`, `rows`, `bytes`, `props` and the oracle's
        `expected` pair digest."""
        return [self._documents_variant(size, v)
                for v in range(VARIANTS)][seed % VARIANTS]

    def _documents_variant(self, size: int, v: int) -> dict:
        d = self._variant_dir("documents", size, v)
        sf = os.path.join(d, "sf")
        data = os.path.join(sf, "documents.parquet")
        meta = self._cached(d, data)
        if meta is None:
            shutil.rmtree(d, ignore_errors=True)
            docs = self.spark.read.parquet(self._documents_base(size))
            keep = self._keep(docs, F.floor(F.col("doc_id") / CLUSTER_BLOCK),
                              v, size // CLUSTER_BLOCK)
            _write(docs.filter(keep), data)
            warm = os.path.join(d, "warm", "documents.parquet")
            os.makedirs(warm)
            for f in parquet_files(data)[:WARM_FILES["documents"]]:
                shutil.copy(f, warm)
            rows = footer_rows(data)
            # DuckDB runs the oracle beside Spark's property scans
            with ThreadPoolExecutor(1) as pool:
                oracle = pool.submit(oracle_pairs, sf)
                props = self._documents_props(data, rows)
                expected = oracle.result()
            meta = self._finish(d, {
                "rows": rows,
                "bytes": dir_bytes(data),
                "props": props,
                "expected": expected,
            })
        meta["sf"] = sf
        meta["warm"] = os.path.join(d, "warm")
        return meta

    # -- measured input properties ---------------------------------------
    def _pages_props(self, data: str, expected: dict) -> dict:
        from posmspark import synth, textx

        df = self.spark.read.parquet(data)
        lat = F.regexp_extract("text", textx.GEO_RE, 1)
        lon = F.regexp_extract("text", textx.GEO_RE, 2)
        geo = lat != ""
        hot = geo & (F.abs(F.when(geo, lat.cast("double")) - synth.HOT_LAT)
                     <= 0.01) & (F.abs(F.when(geo, lon.cast("double"))
                                       - synth.HOT_LON) <= 0.01)
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(geo.cast("long")).alias("geo"),
                   F.sum(hot.cast("long")).alias("hot")).collect()[0]
        return {
            "geotagged_share": round(r["geo"] / r["n"], 4),
            "hot_cell_share_of_geotagged": round(r["hot"] / r["geo"], 4),
            "unmatched_share_of_geotagged": round(
                1 - expected["n_assigned"] / r["geo"], 4),
        }

    def _documents_props(self, data: str, n: int) -> dict:
        df = self.spark.read.parquet(data)
        dup = (df.groupBy("text").count().filter("count > 1")
               .agg(F.sum("count")).collect()[0][0] or 0)
        prefix = (df.groupBy(F.substring_index("text", " ", 4))
                  .count().agg(F.max("count")).collect()[0][0])
        return {
            "exact_dup_cluster_share": round(dup / n, 4),
            "top_prefix_share": round(prefix / n, 4),
        }


def oracle_pairs(sf: str) -> dict:
    """Pair digest of the shipped DuckDB oracle for
    minhash_verified_dups over `sf`/documents.parquet."""
    import duckdb

    from posmspark.relops import QUERIES

    files = os.path.join(sf, "documents.parquet", "*.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{files}')")
        return pair_digest(con.execute(
            QUERIES["minhash_verified_dups"][1]).fetchall())
    finally:
        con.close()
