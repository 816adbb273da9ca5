"""Physical-plan shape tests — the scale properties the engine promises
(SURVEY.md §4): predicate pushdown reaches the parquet scan, dimension
joins broadcast, the PIP assignment is shuffle-free, and aggregations
use map-side partial aggregation."""

import re

import pytest
from pyspark.sql import functions as F

from posmspark import synth, tiles
from posmspark.relops import q_hierarchy_join, q_scan_filter_project

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Shuffle exchanges in a plan string (a BroadcastExchange is not
    one)."""
    return len(re.findall(r"(?<!Broadcast)Exchange", plan))


def test_filter_pushdown_reaches_scan(spark):
    df = q_scan_filter_project(spark, SF)
    scan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [" in scan
    assert "l_quantity" in scan.split("PushedFilters")[1][:300]


def test_column_pruning(spark):
    df = q_scan_filter_project(spark, SF)
    scan = df._jdf.queryExecution().sparkPlan().toString()
    # ReadSchema must not include unused wide columns
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_extendedprice" in read_schema


def test_dimension_joins_broadcast(spark):
    df = q_hierarchy_join(spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_pipeline_prejoin_is_shuffle_free(spark):
    """ingest -> PIP assignment: zero shuffle Exchange (the index
    table's BroadcastExchange is not a shuffle); the ONLY shuffle in
    the whole flagship job is the tile aggregation."""
    from posmspark.pipeline import default_prepared
    from posmspark.joins import pip_join

    pages = synth.pages_df(spark, 100)
    from posmspark import textx

    ok = textx.with_ingest(pages).filter(F.col("text_ok")).drop("text_ok", "html")
    pts = ok.filter(F.col("lat").isNotNull()).select(
        "url", "warc_ts", "lang", "lon", "lat", "cell")
    assigned = pip_join(pts, default_prepared(), spark, keep_unmatched=False)
    assert _shuffles(_plan(assigned)) == 0
    tile_plan = _plan(tiles.cell_admin_tile_stats(assigned))
    assert _shuffles(tile_plan) <= 2  # AQE may stage the agg exchange


def test_flagship_stages_run_no_python(spark):
    """The flagship (ingest -> cell encode -> broadcast PIP -> tile
    rollup) runs inside the JVM: no stage's executed plan holds a
    Python evaluation node or a Python-RDD (ExistingRDD) scan, so a
    fresh session runs it without starting a Python worker."""
    from posmspark.pipeline import run_pipeline

    out = run_pipeline(spark, synth.pages_df(spark, 200))
    assert out["tiles"].count() > 0
    for stage in ("ingest", "assigned", "tiles"):
        plan = _plan(out[stage])
        for node in ("EvalPython", "InPandas", "InArrow", "ExistingRDD"):
            assert node not in plan, (stage, node, plan[:2000])


def test_partial_aggregation_map_side(spark):
    """groupBy aggregates must show partial_ functions before the
    exchange (map-side combine)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = _plan(agg)
    assert "partial_sum" in plan


def test_dedup_queries_never_cartesian(spark):
    """The dedup/similarity candidate generators must plan as equi-joins
    (hash/sort-merge on shingle/signature/band keys) — never a cartesian
    or broadcast-nested-loop product, at any optimizer whim."""
    from posmspark.relops import QUERIES

    for name in ["ngram_jaccard_pairs", "minhash_band_candidates",
                 "knn_topk_flat"]:
        fn, _ = QUERIES[name]
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ngram_hot_filter_broadcasts(spark):
    """The hot-shingle anti-join must broadcast its (tiny) hot side —
    shipping the fact-side shingles to a shuffle for it would defeat
    the point."""
    from posmspark.relops import QUERIES

    fn, _ = QUERIES["ngram_jaccard_pairs"]
    plan = _plan(fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the anti join specifically
    assert "LeftAnti, BuildRight" in plan or "LeftAnti" in plan


def test_simhash_block_join_is_equi(spark):
    from posmspark import dedup

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} filler words here") for i in range(40)],
        "doc_id long, text string")
    out = dedup.simhash_near_pairs(dedup.simhash(df))
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_splits_skewed_join(spark):
    """Skew handling at runtime: a hot join key (the dense-urban-cell
    analog) must be split by AQE's skew-join optimization — the final
    adaptive plan marks the SortMergeJoin with skew=true instead of
    leaving one reducer with the whole hot partition."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # incompressible payload: skew detection runs on COMPRESSED
        # shuffle sizes, so constant padding would hide the hot key
        left = (
            spark.range(400_000)
            .withColumn("k", F.when(F.col("id") % 4 != 0, F.lit(0))
                        .otherwise(F.col("id") % 997))
            .withColumn("payload", F.concat(
                F.md5(F.col("id").cast("string")),
                F.md5((F.col("id") + 7).cast("string"))))
        )
        right = spark.range(997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv"))
        # the payload must be CONSUMED after the join or column pruning
        # strips it before the shuffle and no partition is skewed; the
        # post-join agg keeps the collect tiny while running THIS
        # DataFrame's own QueryExecution (a separate count() would plan
        # a different query and the join's adaptive plan never
        # finalizes)
        j = (left.join(right, "k")
             .groupBy("rv").agg(F.max("payload").alias("mp")))
        assert len(j.collect()) == 997
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cosine_near_pairs_plan_is_equi_join(spark):
    """The embedding near-dup join must hit the grid-cell EQUI-join
    path at scale: a sort-merge join on the cell keys (merge-hinted
    fact-fact; Catalyst underestimates the exploded side), and never a
    cartesian / broadcast-nested-loop fallback."""
    import numpy as np

    from posmspark import ann

    rng = np.random.default_rng(5)
    mat = rng.standard_normal((200, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(200)],
        "vec_id long, emb array<double>")
    plan = _plan(ann.cosine_near_pairs(df, 0.95))
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_near_pairs_dispatches_degenerate_grid(spark):
    """At dim=64/threshold=0.99 the axis grid cannot prune (cell width
    w = sqrt(2-2t) >= the ~1/sqrt(d) per-axis spread), yet
    cosine_near_pairs is documented EXACT: it must keep the grid
    self-join there and never plan the recall-controlled LSH path,
    whose verify joins are shuffle-hash. The registry's
    embedding_cosine_dups query calls the LSH path explicitly and
    keeps that plan."""
    import numpy as np

    from posmspark import ann
    from posmspark.relops import QUERIES

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((200, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(200)],
        "vec_id long, emb array<double>")
    plan = _plan(ann.cosine_near_pairs(df, 0.99))
    assert "ShuffledHashJoin" not in plan      # no LSH verify joins
    assert "SortMergeJoin" in plan             # the exact grid self-join
    fn, _ = QUERIES["embedding_cosine_dups"]
    plan = _plan(fn(spark, SF))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_plan_is_join_free(spark):
    """r06: capped minhash candidate generation is grouped aggregation +
    in-JVM combination expansion end to end — the physical plan must
    contain NO join operator of any kind (the r05 shape's sort-merge
    self-join and its Catalyst-underestimate broadcast-OOM risk are
    both structurally gone), and ngram candidate generation must never
    fall back to a cartesian / broadcast-nested-loop product."""
    from posmspark.relops import (q_minhash_band_candidates,
                                  q_ngram_jaccard_pairs)

    plan = _plan(q_minhash_band_candidates(spark, SF))
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin",
               "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in plan, op
    plan = _plan(q_ngram_jaccard_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # uncapped signatures carry no bucket bound: candidates stream
    # through the sort-merge self-join, never one collect_list buffer
    from posmspark import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(dedup.shingles(docs), n_bands=4)
    plan = _plan(dedup.lsh_candidate_pairs(sigs))
    assert "SortMergeJoin" in plan
    assert "collect_list" not in plan


def test_cosine_near_pairs_lsh_plan_never_cartesian(spark):
    """The LSH near-pairs scale path must candidate ONLY via
    (table, signature) equi-joins with in-JVM bucket pair expansion —
    never a cartesian / broadcast-nested-loop product, and the
    embedding verify joins must stay shuffle-hash fact-fact (same
    broadcast-OOM class the minhash family plan-asserts away)."""
    import numpy as np

    from posmspark import ann

    rng = np.random.default_rng(9)
    mat = rng.standard_normal((200, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(200)],
        "vec_id long, emb array<double>")
    plan = _plan(ann.cosine_near_pairs_lsh(
        df, 0.95, spark, 16, id_col="vec_id", emb_col="emb",
        n_planes=12, n_tables=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # BOTH verify joins must be shuffle-hash: a merge join would SORT
    # the array-payload-wide join-1 output (the 10x bench's dominant
    # cost), and a broadcast build of the full embedding table is the
    # Catalyst-underestimate OOM class. (Broadcasts DO legitimately
    # appear for the bounded hot-bucket list of the skew cap — so pin
    # the verify joins by SHJ count, not by banning broadcast.)
    assert plan.count("ShuffledHashJoin") >= 2


def test_ivf_probe_assignment_is_map_only(spark):
    """ann_ivf_probe_topk's scale contract: cell assignment is ONE
    map-side array-of-structs argmax (no Exchange between the scan and
    the probe join), the probe join is a broadcast equi-join on the
    cell id, and the only shuffle is the final per-query top-k window
    — never a cartesian / broadcast-nested-loop product."""
    from posmspark import ann

    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ann.ivf_probe_topk_exact(df, spark, k=5, n_centroids=4,
                                          n_probe=2, query_lo=10,
                                          n_queries=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    # exactly one Exchange: the rank window's hashpartitioning on
    # query_id (broadcast exchanges print as BroadcastExchange)
    import re
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert len(shuffles) == 1 and shuffles[0].startswith("query_id"), plan


def test_repetition_stats_map_only(spark):
    """repetition_stats' scale contract: every metric is per-doc
    local, computed by sorted-array run-length folds — ONE text scan,
    no join, and ZERO exchanges at any size (the exploded-groupBy
    first cut grew 20.5x on 10x data; this shape is exactly linear).
    The single Generate is the explode(array(struct)) CollapseProject
    barrier that keeps each fold evaluated once."""
    from posmspark.relops import q_repetition_stats

    # sparkPlan (pre-AQE) so node counts aren't doubled by the
    # adaptive wrapper's original-plan text
    plan = (q_repetition_stats(spark, SF)
            ._jdf.queryExecution().sparkPlan().toString())
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Generate") == 1
    assert "Exchange" not in plan, plan
    # the two folds appear once each, not once per consuming column,
    # and each sorted array is neighbor-compared once (one zip_with)
    assert plan.count("zip_with(slice(sg") == 1, plan
    assert plan.count("zip_with(slice(sw") == 1, plan


def _max_method_sizes(df) -> list[int]:
    """maxMethodCodeSize of every whole-stage-codegen subtree of df's
    executed plan (bytecode bytes of its largest generated method). An
    adaptive plan (any plan with an exchange) holds its codegen
    subtrees only once final, so df runs first."""
    debug = df.sparkSession._jvm.org.apache.spark.sql.execution.debug
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        df.collect()
        plan = plan.executedPlan()
    subtrees = debug.package.codegenStringSeq(plan)
    it = subtrees.iterator()
    sizes = []
    while it.hasNext():
        sizes.append(it.next()._3().maxMethodCodeSize())
    return sizes


def test_cell_encode_stays_jit_compilable(spark, tmp_path):
    """HotSpot never JIT-compiles a method above 8,000 bytecode bytes.
    The ingest, cell-encode and PIP-join stages run on every fact row,
    so every codegen subtree of their plans must stay below that (the
    join's probe stage fuses the ingest, both cell encodes and the
    hash lookup), and the ingest must run the
    geotag regex once per coordinate, not once per mention in the
    encoder (which copied it into a 44 KB method). The checkpointed
    ingest stage runs over a parquet scan of the pages, filtered on
    text_ok: that plan is checked too."""
    from posmspark import joins, textx

    pages = synth.pages_df(spark, 100)
    ingest = textx.with_ingest_jvm(pages)
    pages.write.parquet(str(tmp_path / "pages"))
    staged = (textx.with_ingest_jvm(spark.read.parquet(str(tmp_path / "pages")))
              .filter("text_ok").drop("text_ok", "html"))
    points = spark.range(100).select(
        (F.col("id") * 3.7 - 180.0).alias("lon"),
        (F.col("id") * 1.9 - 90.0).alias("lat"))
    from posmspark.pipeline import default_prepared

    assigned = joins.pip_join(ingest.filter(F.col("lat").isNotNull()),
                              default_prepared(), spark,
                              keep_unmatched=False)
    for df in (ingest, staged, joins.with_cell(points), assigned):
        sizes = _max_method_sizes(df)
        assert sizes and max(sizes) < 8000, sizes
    optimized = ingest._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("regexp_extract(") == 2, optimized[:2000]


def test_pip_join_builds_in_few_py4j_calls(spark, monkeypatch):
    """Building a plan costs one py4j round trip per PySpark Column
    operator. pip_join and the ingest encoder are built from SQL text,
    one JVM parse per expression: pip_join takes a few dozen round
    trips (it took about 4,500 as Column lambdas, 0.7 s of driver time
    per build). Only the build is counted; nothing runs. py4j's
    finalizer thread frees dead Java references through the same
    method (memory commands, `m`); those depend on garbage collection
    elsewhere and are not counted."""
    import threading

    import py4j.clientserver
    from py4j import protocol

    from posmspark import joins, textx
    from posmspark.pipeline import default_prepared

    prepared = default_prepared()
    prepared.index_df(spark)   # memoized per session: build it outside
    points = spark.range(10).selectExpr("CAST(id AS STRING) AS url",
                                        "id * 1.5D AS lon", "id * 0.5D AS lat")
    pages = synth.pages_df(spark, 10)
    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command
    builder = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if (threading.get_ident() == builder
                and not command.startswith(protocol.MEMORY_COMMAND_NAME)):
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                        "send_command", counting)

    def commands(build):
        sent[0] = 0
        build()
        return sent[0]

    counts = {
        "pip_join": commands(lambda: joins.pip_join(
            points, prepared, spark, keep_unmatched=False)),
        "pip_join_keep_unmatched": commands(lambda: joins.pip_join(
            points, prepared, spark, keep_unmatched=True)),
        "with_ingest_jvm": commands(lambda: textx.with_ingest_jvm(pages)),
    }
    assert counts["pip_join"] < 150, counts
    assert counts["pip_join_keep_unmatched"] < 150, counts
    assert counts["with_ingest_jvm"] < 300, counts
