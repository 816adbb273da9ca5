"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship spatial-join + tiling pipeline on sf0.001
queries()     -> every implemented operator from SURVEY.md §2 (relational
                 ops oracle-checked vs DuckDB; spatial/kNN ops rows-only,
                 covered by numpy-oracle goldens in tests/)
oracle_sql()  -> DuckDB-equivalent ANSI SQL per oracle-checkable query
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posmspark import relops


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode -> cell-index -> broadcast PIP join -> tile
    rollup over a pages table derived from sf0.001 documents."""
    from posmspark.pipeline import flagship

    return flagship(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# spatial / kNN queries (not SQL-expressible -> rows-only driver check;
# exact semantics are pinned by numpy-oracle goldens in tests/)


def _q_pip_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posmspark.pipeline import flagship

    return flagship(spark, sf_dir)


def _q_pip_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship broadcast PIP join, oracle-checked (VERDICT r03
    item 4): the DuckDB side re-derives every page point from the
    portable md5 draws and ray-crosses the same boundary edge table
    (pipeline.pip_assignment_oracle_sql). Projection: the portable
    columns (cell ids are the engine's own encoding — pinned by the
    numpy goldens instead; warc_ts compared as epoch seconds so
    timestamp-zone printing differences can't false-positive)."""
    from posmspark.pipeline import pages_from_documents, run_pipeline

    out = run_pipeline(spark, pages_from_documents(spark, sf_dir))
    return out["assigned"].select(
        "url", "lang", F.col("warc_ts").cast("long").alias("warc_s"),
        "lon", "lat", "osm_id_l0", "osm_id_l1", "osm_id_l2", "osm_id_l3")


def _q_cell_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posmspark import tiles
    from posmspark.pipeline import pages_from_documents, run_pipeline

    out = run_pipeline(spark, pages_from_documents(spark, sf_dir))
    return tiles.cell_tile_stats(out["assigned"])


def _q_knn_cellring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 on the flagship points, DuckDB-oracle-checked (VERDICT r04
    item 1): points come from the portable md5 draws, sites are the
    deterministic fixture representative points, and the oracle brute-
    forces the same kNN with the identical haversine expression tree
    (pipeline.knn_cellring_oracle_sql) — flattened to rank rows like
    knn_topk_flat so the whole distributed ring expansion hash-checks.
    """
    import pandas as pd

    from posmspark import geom, synth
    from posmspark.joins import knn_cellring, prepare_boundaries
    from posmspark.pipeline import pages_from_documents
    from posmspark.textx import with_geocode

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf()
    )
    sites = pd.DataFrame(
        [
            {"site_id": oid, "lon": lon, "lat": lat}
            for oid, (lon, lat) in (
                (oid, geom.representative_point(polys))
                for oid, polys in sorted(prepared.polys_by_id.items())
            )
        ]
    )
    pts = with_geocode(pages_from_documents(spark, sf_dir)).filter(
        F.col("lat").isNotNull()
    ).select("url", "lon", "lat")
    out = knn_cellring(pts, sites, k=3, spark=spark)
    return out.select(
        "url", F.posexplode("knn").alias("pos", "nn")
    ).select(
        "url",
        (F.col("pos") + 1).alias("rank"),
        F.col("nn.site_id").alias("site_id"),
        F.round(F.col("nn.dist_m"), 2).alias("dist_m"),
    )


def _q_problems_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posmspark import synth
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf()
    )
    return prepared.problems_df(spark)


def _q_byte_identity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule invariant as a query: urls whose extracted text is
    NOT byte-identical (must be empty) + total audited count."""
    from posmspark.pipeline import pages_from_documents
    from posmspark.textx import with_extracted_text

    pages = with_extracted_text(pages_from_documents(spark, sf_dir))
    return pages.select(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(
            F.when(~F.col("text_extracted").eqNullSafe(F.col("text")), 1)
            .otherwise(0)
        ).alias("n_violations"),
    )


def _q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production 64-bit FNV-1a SimHash near-dup pairs. DuckDB-oracled
    since r05: dedup.simhash_near_pairs_oracle_sql re-derives the FNV
    fold, bit votes, blocks, bucket cap, and Hamming verify in SQL."""
    from posmspark import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = dedup.simhash(docs)
    # standard config: k=3 with 4x16-bit blocks. 16-bit blocks keep the
    # per-block random-collision rate at 2^-16, so candidate volume
    # stays near-linear; the old k=8/16-blocks setting (4-bit blocks,
    # collision ~1/16 per block) was a cross join in disguise at scale.
    # max_bucket_size caps the other quadratic corner: an exact-dup
    # cluster of M docs shares all four block values (M^2/2 pairs) —
    # the corpus is 10% exact-dup clusters by design, so the production
    # path keeps K smallest ids per (block, value) bucket like minhash.
    return dedup.simhash_near_pairs(
        fps, max_hamming=3, n_blocks=4, max_bucket_size=50)


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multiprobe LSH top-k. DuckDB-oracled since r05
    (ann.lsh_topk_oracle_sql): plane tables as parameter VALUES,
    signatures/buckets/candidates re-derived in SQL, cosine re-rank
    replicated fold-for-fold so ranks can never drift."""
    import numpy as np
    import pandas as pd

    from posmspark import ann

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = vecs.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    queries = pd.DataFrame({
        "query_id": [str(r["vec_id"]) for r in qrows],
        "embedding": [np.array(r["embedding"], dtype=np.float64) for r in qrows],
    })
    out = ann.lsh_topk(vecs, queries, k=5, spark=spark, dim=64, n_planes=8)
    return out.select("query_id", "vec_id",
                      F.round("cos_sim", 6).alias("cos_sim"), "rn")


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the second scale path next to LSH:
    spherical-kmeans coarse quantizer, probe-n cells, exact re-rank."""
    import numpy as np
    import pandas as pd

    from posmspark import ann

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = vecs.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    queries = pd.DataFrame({
        "query_id": [str(r["vec_id"]) for r in qrows],
        "embedding": [np.array(r["embedding"], dtype=np.float64)
                      for r in qrows],
    })
    out = ann.ivf_topk(vecs, queries, k=5, spark=spark,
                       n_centroids=16, n_probe=4)
    return out.select("query_id", "vec_id",
                      F.round("cos_sim", 6).alias("cos_sim"), "rn")


def _q_ann_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe + exact re-rank over a DATA-DERIVED deterministic
    codebook (the n_centroids lowest-id embeddings — kmeans' init,
    zero iterations): the oracle-checkable sibling of ann_ivf_topk.
    Assignment is one map-only array-of-structs argmax expression
    (no shuffle, no Python); the DuckDB oracle re-derives codebook,
    assignment, probes, and re-rank from the table with mirrored
    sequential folds (ann.ivf_probe_topk_oracle_sql)."""
    from posmspark import ann

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ann.ivf_probe_topk_exact(vecs, spark, k=5, n_centroids=8,
                                   n_probe=2, query_lo=100, n_queries=10)
    return out.select("query_id", "vec_id",
                      F.round("cos_sim", 6).alias("cos_sim"), "rn")


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over the fixture media table. DuckDB-
    oracled since r05: payload pixels are md5-portable draws, so
    multimodal.multimodal_features_oracle_sql re-derives decode_ok,
    the pixel grid, the float32 pooled means, and feature_sum in SQL."""
    from posmspark import multimodal

    media = multimodal.synth_media_df(spark)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id", "kind", "decode_ok",
        F.round(F.expr(
            "aggregate(feature, CAST(0.0 AS DOUBLE),"
            " (a, v) -> a + CAST(v AS DOUBLE))"), 6).alias("feature_sum"),
    )


#: margin between the newest REAL page and the sentinel flush row: far
#: enough past the watermark delay (10 min) + window size (5 min) that
#: every real window is emitted, and derived from the DATA's max
#: timestamp rather than a fixed epoch (review r05: a fixed sentinel
#: silently stopped flushing the tail once warc_s outgrew it at
#: ~7.3M docs).
_STC_SENTINEL_MARGIN_S = 86_400


def _q_streaming_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked windowed tile aggregation run through the REAL
    streaming engine (VERDICT r04 item 5): pages land as parquet files,
    a readStream + availableNow drain processes them through the shared
    transform into an append-mode windowed count with a checkpoint, and
    the emitted windows hash-check against a batch DuckDB oracle
    (pipeline.streaming_tile_counts_oracle_sql). A far-future sentinel
    page (geotagged inside the hot boundary so it survives ingest +
    PIP) advances the watermark past every real window; its own window
    stays held in state and is excluded by construction."""
    import os
    import shutil
    import tempfile

    from posmspark import streaming
    from posmspark.pipeline import default_prepared, pages_from_documents
    from posmspark.synth import HOT_LAT, HOT_LON, HTML_POST, HTML_PRE

    tag = os.path.basename(os.path.normpath(sf_dir))
    wd = os.path.join(tempfile.gettempdir(), f"posmspark_stcq_{tag}")
    shutil.rmtree(wd, ignore_errors=True)
    pages_dir = os.path.join(wd, "in")
    real = pages_from_documents(spark, sf_dir)
    # sentinel sits a fixed margin past the DATA's newest timestamp
    # (driver action on one max aggregate — column-stats-sized): at any
    # n_docs, every real window ends before sentinel - watermark delay,
    # so the drain flushes all of them, and `win_s <= max_real_s`
    # exactly excludes the sentinel's own held-back window.
    max_real_s = int(
        real.agg(F.max(F.col("warc_ts").cast("long"))).collect()[0][0])
    sentinel_s = max_real_s + _STC_SENTINEL_MARGIN_S
    sent_text = F.format_string(
        "flush geo: %.5f, %.5f", F.lit(float(HOT_LAT)), F.lit(float(HOT_LON)))
    sentinel = spark.range(1).select(
        F.lit("https://crawl.example/sentinel/flush").alias("url"),
        F.timestamp_seconds(F.lit(sentinel_s)).alias("warc_ts"),
        F.concat(F.lit(HTML_PRE), F.encode(sent_text, "UTF-8"),
                 F.lit(HTML_POST)).alias("html"),
        sent_text.alias("text"),
        F.lit("en").alias("lang"),
    )
    real.write.mode("overwrite").parquet(pages_dir)
    # the sentinel file lands as a SEPARATE, LATER write: if the file
    # source ever splits the availableNow drain into multiple batches
    # (mtime-ordered), the watermark must not advance past real rows
    # still unprocessed (review r05)
    sentinel.write.mode("append").parquet(pages_dir)
    schema = spark.read.parquet(pages_dir).schema
    streaming.run_stream_once(
        pages_dir, os.path.join(wd, "out"), os.path.join(wd, "ckpt"),
        default_prepared(), spark, schema)
    return (
        spark.read.parquet(os.path.join(wd, "out"))
        .select(F.col("window_start").cast("long").alias("win_s"),
                "cell", "osm_id_l0", "doc_count")
        .filter(F.col("win_s") <= max_real_s)
    )


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): first-seen
    content dedup over a real availableNow stream with a fresh
    checkpoint; returns the deduped rows (stateful plumbing + cross-run
    state retention tested in tests/test_streaming.py).

    DuckDB-oracled since r05 (pipeline.streaming_dedup_oracle_sql):
    the input is written as ONE file so the whole table arrives in one
    availableNow batch and the stream's within-batch first rule
    (min (warc_ts, url)) is the global rule the SQL re-derives."""
    import os
    import shutil
    import tempfile

    from posmspark import streaming
    from posmspark.pipeline import pages_from_documents

    tag = os.path.basename(os.path.normpath(sf_dir))
    wd = os.path.join(tempfile.gettempdir(), f"posmspark_sdq_{tag}")
    shutil.rmtree(wd, ignore_errors=True)
    pages_dir = os.path.join(wd, "in")
    pages = pages_from_documents(spark, sf_dir).select(
        "url", "warc_ts", "text")
    pages.coalesce(1).write.mode("overwrite").parquet(pages_dir)
    schema = spark.read.parquet(pages_dir).schema
    streaming.run_dedup_stream_once(
        pages_dir, os.path.join(wd, "out"), os.path.join(wd, "ckpt"),
        spark, schema)
    return (
        spark.read.parquet(os.path.join(wd, "out"))
        .select("content_hash", "url")
        .orderBy("content_hash", "url")
    )


def _q_dissolve_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posmspark import synth
    from posmspark.dissolve import dissolve_by_parent
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf()
    )
    out = dissolve_by_parent(spark, prepared, child_level=2)
    return out.select("parent_osm_id", "n_children", "n_polys", "n_rings",
                      F.round("area", 6).alias("area"))


def _q_simplify_mesh_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13 cross-parent watertight: simplify_mesh_global runs
    shared_edge_simplify once over the whole level-2 mesh on the
    driver, so borders between children of DIFFERENT parents simplify
    identically (pinned in tests/test_dissolve.py)."""
    from posmspark import synth
    from posmspark.dissolve import simplify_mesh_global
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf()
    )
    return (
        simplify_mesh_global(spark, prepared, child_level=2, tol=0.05)
        .select("osm_id", "parent_osm_id", "n_points_before",
                "n_points_after")
        .orderBy("osm_id")
    )


def _q_residual_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posmspark import synth
    from posmspark.dissolve import residual_by_parent
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf()
    )
    out = residual_by_parent(spark, prepared, parent_level=1, child_level=2)
    return out.select("parent_osm_id", "status", "filler_id",
                      F.round("residual_area", 6).alias("residual_area"))


def _q_poly_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posmspark import sinks, synth
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf()
    )
    return sinks.poly_export_df(spark, prepared, level=0)


def _q_incremental_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: partition-level incremental recompute (osmdata.py:87-134
    analog). Runs a per-lang stage twice — full build, then a rerun
    after mutating one document — and surfaces the manifest joined to
    the final stage OUTPUT: exactly the mutated doc's lang partition
    shows recomputed_last_run=true, and the rerun's partition-selective
    rewrite must equal a full recompute of the mutated input.

    DuckDB-oracled since r05: the oracle re-derives the recompute
    decision (which lang partition doc 7 lives in) and the post-rerun
    aggregates from the documents table, so a stale-partition or
    wrong-subset-rebuild bug shows up as a VALUES mismatch. The
    xxhash64 input fingerprints are engine-internal and stay pinned by
    tests/test_lineage.py (kill-and-resume, mutation sequences)."""
    import os
    import shutil
    import tempfile

    from posmspark import lineage

    tag = os.path.basename(os.path.normpath(sf_dir))
    wd = os.path.join(tempfile.gettempdir(), f"posmspark_incq_{tag}")
    shutil.rmtree(wd, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def build(df):
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )

    lineage.run_stage_incremental(spark, "docs_by_lang", docs, wd, build,
                                  "lang")
    mutated = docs.withColumn(
        "n_chars",
        F.when(F.col("doc_id") == 7, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars")),
    )
    lineage.run_stage_incremental(spark, "docs_by_lang", mutated, wd, build,
                                  "lang")
    man = lineage.manifest_df(spark, wd).select(
        "partition_key", "rows", "recomputed_last_run")
    out = spark.read.parquet(wd).select("lang", "n_docs", "sum_chars")
    return (
        man.join(out, man.partition_key == out.lang)
        .select("partition_key", "rows", "n_docs", "sum_chars",
                "recomputed_last_run")
        .orderBy("partition_key")
    )


def _q_dual_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/O10: natural + simplified geometry per boundary feature
    (generate_geojson.py:203-221 dual emit), simplified via the
    watertight shared-edge chain machinery."""
    from posmspark import sinks, synth
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(), n_levels=4
    )
    return (
        sinks.dual_geojson_feature_df(spark, prepared, tol=0.05)
        .select("osm_id", "adminlevel", "variant", "n_points",
                F.round("area", 9).alias("area"))
        .orderBy("adminlevel", "osm_id", "variant")
    )


def _q_shapefile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: GADM shapefile-zip boundary source (extract_gadm.py:32-40
    parity) — write the fixture as .shp+.dbf in a zip, read it back
    with the from-scratch parser, build the hierarchy, and surface the
    levels table."""
    import os
    import tempfile

    import pandas as pd

    from posmspark import geom, shp, synth
    from posmspark.joins import prepare_boundaries

    zp = os.path.join(tempfile.gettempdir(), "posmspark_fixture_shp.zip")
    bpdf = synth.gen_boundaries_pdf()
    polys_list = [geom.wkb_to_multipolygon(b) for b in bpdf.geom_wkb]
    attrs = pd.DataFrame({
        "OSM_ID": bpdf.osm_id, "NAME": bpdf.name, "NAME_EN": bpdf.name_en,
        "ADMIN_LVL": bpdf.admin_level, "ISO3166": bpdf.iso3166,
        "BOUNDARY": bpdf.boundary,
    })
    shp.write_shapefile_zip(zp, polys_list, attrs)
    back = shp.boundaries_from_shapefile_zip(zp)
    prepared = prepare_boundaries(back, synth.gen_admin_mapping_pdf(),
                                  n_levels=4)
    return (
        prepared.levels_df(spark)
        .select("osm_id", "name_en", "adminlevel", "iso3166", "is_in")
        .orderBy("adminlevel", "osm_id")
    )


def _q_topojson_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: quantized shared-arc topology tile tree, built DISTRIBUTED
    (prepare_topojson.py:76-160 parity): one applyInPandas task per
    parent builds the topojson of its direct children + itself as the
    is_boundary object, writes the quantized-arc artifact
    (transform + delta-encoded arcs JSON), and surfaces per-object arc
    stats as rows (round-3 replacement of the round-2 driver-side loop,
    VERDICT r02 item 3; decode round-trip golden in tests/test_topo.py).
    """
    import os
    import tempfile

    from posmspark import synth, topo
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(), n_levels=4
    )
    out = os.path.join(tempfile.gettempdir(), "posmspark_topotree")
    return topo.topology_tree_by_parent(spark, prepared, out_dir=out).orderBy(
        "parent_osm_id", "osm_id")


def _q_tile_clip_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O22/G11: exact per-cell polygon areas — FULL cells contribute
    whole boxes, boundary cells Sutherland-Hodgman-clip to the cell
    window; per polygon the cells partition its exact area (tested).

    DuckDB-oracled since r05, PER CELL (strictly stronger than the old
    per-polygon rollup, and free of cross-engine float-sum order
    concerns): tiles.tile_clip_areas_oracle_sql re-derives the cover,
    the Morton cell ids, and every clipped area bit-for-bit in SQL."""
    from posmspark import synth, tiles
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(), n_levels=4
    )
    out = tiles.boundary_tile_areas(spark, prepared)
    return out.select(
        "osm_id", "adminlevel", "cell", "full",
        F.round("tile_area", 9).alias("tile_area"))


def _q_table_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot table format (Iceberg-style): overwrite -> append ->
    overwrite-partitions over the documents table, then the snapshot
    history with row counts (footer metadata, no scan).

    DuckDB-oracled since r05 (tablefmt.table_snapshots_oracle_sql):
    the oracle re-derives each commit's expected row multiset size and
    the sequential-from-1 snapshot ids from the documents table."""
    import os
    import shutil
    import tempfile

    from posmspark import tablefmt

    tag = os.path.basename(os.path.normpath(sf_dir))
    t = os.path.join(tempfile.gettempdir(), f"posmspark_tbl_{tag}")
    shutil.rmtree(t, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tablefmt.commit_overwrite(docs, t, partition_by=["lang"])
    tablefmt.commit_append(
        docs.filter(F.col("doc_id") < 10).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000), t,
        partition_by=["lang"])
    tablefmt.commit_overwrite_partitions(
        docs.filter(F.col("lang") == "de"), t, ["lang"])
    rows = [
        (s["snapshot_id"], s["operation"], s["n_rows"])
        for s in tablefmt.snapshots(t)
    ]
    return spark.createDataFrame(
        rows, "snapshot_id int, operation string, n_rows long")


def _q_topojson_arc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 oracle-checked projection of the topo tile-tree stats: arc
    references, shared arcs, and quantized point totals per (parent,
    object), DuckDB-verified against an independent SQL re-derivation
    of the chain/arc topology (topo.topojson_arc_stats_oracle_sql).
    artifact_bytes stays on the rows-only topojson_export entry
    (json.dumps shortest-float-repr is not SQL-expressible)."""
    from posmspark import synth, topo
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(), n_levels=4
    )
    return (topo.topology_tree_by_parent(spark, prepared)
            .select("parent_osm_id", "osm_id", "is_boundary",
                    "n_arc_refs", "n_shared_arcs", "n_quantized_points")
            .orderBy("parent_osm_id", "osm_id"))


def _q_zip_package_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: per-country ZIP packaging of the GeoJSON exports
    (generate_geojson.py:117-141) — surfaces the packaging manifest."""
    import os
    import tempfile

    from posmspark import synth
    from posmspark.joins import prepare_boundaries
    from posmspark.sinks import package_boundary_zips

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(), n_levels=4
    )
    out = os.path.join(tempfile.gettempdir(), "posmspark_zips")
    return package_boundary_zips(spark, prepared, out)


def _q_zip_package_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 oracle-checked projection of the packaging manifest: the
    country/file fan-out and per-file feature counts, DuckDB-verified
    against an independent recursive hierarchy walk
    (sinks.zip_package_counts_oracle_sql). n_bytes stays on the
    rows-only zip_package_manifest entry (json.dumps shortest-float
    repr is not SQL-expressible)."""
    return (_q_zip_package_manifest(spark, sf_dir)
            .select("country", "file_name", "n_features"))


_SPATIAL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "incremental_manifest": _q_incremental_manifest,
    "dual_export": _q_dual_export,
    "shapefile_source": _q_shapefile_source,
    "topojson_export": _q_topojson_export,
    "topojson_arc_stats": _q_topojson_arc_stats,
    "zip_package_manifest": _q_zip_package_manifest,
    "zip_package_counts": _q_zip_package_counts,
    "table_snapshots": _q_table_snapshots,
    "tile_clip_areas": _q_tile_clip_areas,
    "pip_tile_rollup": _q_pip_tile_rollup,
    "pip_assignment": _q_pip_assignment,
    "cell_tile_stats": _q_cell_tile_stats,
    "knn_cellring": _q_knn_cellring,
    "problems_routing": _q_problems_routing,
    "byte_identity_audit": _q_byte_identity_audit,
    "simhash_near_pairs": _q_simhash_near_pairs,
    "ann_lsh_topk": _q_ann_lsh_topk,
    "ann_ivf_topk": _q_ann_ivf_topk,
    "ann_ivf_probe_topk": _q_ann_ivf_probe_topk,
    "multimodal_features": _q_multimodal_features,
    "streaming_tile_counts": _q_streaming_tile_counts,
    "streaming_dedup": _q_streaming_dedup,
    "poly_export": _q_poly_export,
    "dissolve_parents": _q_dissolve_parents,
    "simplify_mesh_stats": _q_simplify_mesh_stats,
    "residual_holes": _q_residual_holes,
}

#: Driver-budget ordering (VERDICT r02 item 1): the driver verifies
#: registry entries IN ORDER with a ~50-query budget. Rotation: the
#: entries whose plans changed come FIRST (the PIP join and the cell
#: encoder are now built from SQL text: every entry that reaches
#: joins.pip_join, and the two kNN entries, which reach
#: cells.cell_column through joins.knn_cellring); then the entries the
#: previous order left past the budget; then the rows-only residue; the
#: rest keep their previous relative order in the tail.
_VERIFY_FIRST = [
    # --- plans changed: every entry that reaches joins.pip_join or
    # joins.knn_cellring
    "pip_assignment",
    "pip_tile_rollup",
    "cell_tile_stats",
    "streaming_tile_counts",
    "knn_cellring",
    "knn_topk_flat",
    # --- past the budget in the previous order
    "table_snapshots",
    "problems_routing",
    "shapefile_source",
    "tile_clip_areas",
    "dissolve_parents",
    "poly_export",
    "zip_package_counts",
    "first_match",
    "ann_ivf_probe_topk",
    "repetition_stats",
    "lang_quality",
    "rand_indicators",
    "problem_url",
    "ann_lsh_topk",
    "streaming_dedup",
    "byte_identity_audit",
    # --- rows-only residue: keep their rows fresh every round (their
    # oracle-backed siblings cover the checkable semantics)
    "topojson_export",
    "zip_package_manifest",
    "ann_ivf_topk",
    # --- unchanged, in the previous order
    "ngram_jaccard_pairs",
    "dedup_exact",
    "token_stats",
    "simhash_near_pairs",
    "simhash_pigeonhole_pairs",
    "embedding_cosine_dups",
    "embedding_cosine_dups_lsh",
    "ann_cosine_topk",
    "case_bucket",
    "date_trunc_hourly",
    "distinct_exact",
    "doc_fingerprint",
    "embedding_label_centroids",
    "json_extract",
    "langid_ngram",
    "pivot_status",
    "pricing_summary",
    "rollup_hierarchy",
    "sessionize",
    "simplify_mesh_stats",
    "dual_export",
    "residual_holes",
    "topojson_arc_stats",
    "multimodal_features",
    "minhash_band_candidates",
    "minhash_verified_dups",
    "set_difference",
    "snap_to_grid",
    "string_funcs",
    "topk",
    "union_bag",
    "window_running",
    "scan_filter_project",
    "coalesce_upper",
    "id_prefix",
    "boundary_predicate",
    "filler_filter",
    "anti_join",
    "semi_join",
    "unusable_anti_join",
    "hierarchy_join",
    "mapping_override",
    "incremental_manifest",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (fn, _sql) in relops.QUERIES.items():
        all_q[name] = fn
    all_q.update(_SPATIAL_QUERIES)
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _VERIFY_FIRST:
        out[name] = all_q.pop(name)
    out.update(all_q)
    return out


def oracle_sql() -> dict[str, str]:
    from posmspark.pipeline import (byte_identity_audit_oracle_sql,
                                    problems_routing_oracle_sql,
                                    cell_tile_stats_oracle_sql,
                                    knn_cellring_oracle_sql,
                                    pip_assignment_oracle_sql,
                                    pip_tile_rollup_oracle_sql,
                                    streaming_dedup_oracle_sql,
                                    streaming_tile_counts_oracle_sql)

    out = {
        name: sql for name, (_fn, sql) in relops.QUERIES.items() if sql
    }
    out["pip_assignment"] = pip_assignment_oracle_sql()
    out["pip_tile_rollup"] = pip_tile_rollup_oracle_sql()
    out["cell_tile_stats"] = cell_tile_stats_oracle_sql()
    out["streaming_tile_counts"] = streaming_tile_counts_oracle_sql()
    out["knn_cellring"] = knn_cellring_oracle_sql()
    out["byte_identity_audit"] = byte_identity_audit_oracle_sql()
    out["problems_routing"] = problems_routing_oracle_sql()
    out["streaming_dedup"] = streaming_dedup_oracle_sql()
    from posmspark.lineage import incremental_manifest_oracle_sql
    from posmspark.tablefmt import table_snapshots_oracle_sql

    out["incremental_manifest"] = incremental_manifest_oracle_sql()
    out["table_snapshots"] = table_snapshots_oracle_sql()
    from posmspark.dedup import simhash_near_pairs_oracle_sql

    out["simhash_near_pairs"] = simhash_near_pairs_oracle_sql(
        max_hamming=3, n_blocks=4, max_bucket_size=50)
    from posmspark.multimodal import multimodal_features_oracle_sql

    out["multimodal_features"] = multimodal_features_oracle_sql()
    from posmspark.tiles import tile_clip_areas_oracle_sql

    out["tile_clip_areas"] = tile_clip_areas_oracle_sql()
    from posmspark.dissolve import (dissolve_parents_oracle_sql,
                                    dual_export_oracle_sql,
                                    residual_holes_oracle_sql,
                                    simplify_mesh_stats_oracle_sql)

    out["dissolve_parents"] = dissolve_parents_oracle_sql()
    out["residual_holes"] = residual_holes_oracle_sql()
    out["simplify_mesh_stats"] = simplify_mesh_stats_oracle_sql()
    out["dual_export"] = dual_export_oracle_sql()
    from posmspark.shp import shapefile_source_oracle_sql

    out["shapefile_source"] = shapefile_source_oracle_sql()
    from posmspark.sinks import (poly_export_oracle_sql,
                                 zip_package_counts_oracle_sql)

    out["poly_export"] = poly_export_oracle_sql()
    out["zip_package_counts"] = zip_package_counts_oracle_sql()
    from posmspark.topo import topojson_arc_stats_oracle_sql

    out["topojson_arc_stats"] = topojson_arc_stats_oracle_sql()
    from posmspark.ann import lsh_topk_oracle_sql

    out["ann_lsh_topk"] = lsh_topk_oracle_sql(
        k=5, dim=64, n_planes=8, n_tables=4)
    from posmspark.ann import ivf_probe_topk_oracle_sql

    out["ann_ivf_probe_topk"] = ivf_probe_topk_oracle_sql(
        k=5, n_centroids=8, n_probe=2, query_lo=100, n_queries=10)
    return out
