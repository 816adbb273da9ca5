"""Approximate nearest neighbor over embedding columns (north-rule
training-data addition; no posm counterpart).

Two paths, both over array<float> embedding columns:
- brute-force cosine top-k (relops.q_ann_cosine_topk is the oracle'd
  single-query version; here the batched many-queries variant runs the
  dot products in numpy inside one Arrow batch) — the CORRECTNESS
  baseline, O(N*Q).
- LSH-bucketed (random signed hyperplanes): each vector hashes to an
  n_planes-bit signature; queries probe their own bucket (+ optional
  multi-probe neighbors at Hamming distance 1). Candidates come from an
  equi-join on the signature — the scale path: shuffle keys are
  signatures, candidate sets are bucket-sized, never a cross join.

The hyperplanes are generated from a fixed seed -> deterministic across
runs and executors (broadcast once).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

SEED = 42


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def brute_force_topk(vectors: DataFrame, queries_pdf: pd.DataFrame, k: int,
                     spark: SparkSession, emb_col: str = "embedding"
                     ) -> DataFrame:
    """Exact cosine top-k of every vector row against a broadcast query
    set. One numpy matmul per Arrow batch — the vectorized baseline."""
    qids = queries_pdf["query_id"].astype(str).to_numpy()
    qm = _normalize(np.vstack(queries_pdf["embedding"].to_numpy()).astype(np.float64))
    bc = spark.sparkContext.broadcast((qids, qm))

    out_schema = T.ArrayType(T.StructType([
        T.StructField("query_id", T.StringType()),
        T.StructField("cos_sim", T.DoubleType()),
    ]))

    # precomputed id rank: ties MUST be broken lexicographically BEFORE
    # cutting to k (argpartition alone picks tied boundary entries
    # arbitrarily — the co-located-points pitfall, review-found here)
    id_rank = np.argsort(np.argsort([str(s) for s in qids]))

    @pandas_udf(out_schema)
    def topk(emb: pd.Series) -> pd.Series:
        ids, q = bc.value
        m = _normalize(np.vstack(emb.to_numpy()).astype(np.float64))
        sims = m @ q.T  # (batch, n_queries)
        kk = min(k, len(ids))
        rows = []
        for r in range(len(m)):
            order = np.lexsort((id_rank, -sims[r]))[:kk]
            rows.append([
                {"query_id": str(ids[i]), "cos_sim": float(sims[r, i])}
                for i in order
            ])
        return pd.Series(rows)

    return vectors.withColumn("topk", topk(F.col(emb_col)))


def cosine_rerank(cand: DataFrame, k: int, id_col: str = "vec_id",
                  emb_col: str = "embedding") -> DataFrame:
    """Exact JVM-side cosine + deterministic top-k over candidate rows
    carrying (query_id, q_emb, id_col, emb_col) — the shared verify
    pass of the LSH and IVF paths."""
    dot = F.expr(
        f"aggregate(zip_with({emb_col}, q_emb,"
        " (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v)"
    )
    nv = F.expr(
        f"sqrt(aggregate({emb_col}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    nq = F.expr(
        "sqrt(aggregate(q_emb, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v * v))"
    )
    scored = cand.withColumn("cos_sim", dot / (nv * nq))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "cos_sim", "rn")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _table_planes(dim: int, n_planes: int, n_tables: int,
                  seed: int = SEED) -> list[np.ndarray]:
    return [hyperplanes(dim, n_planes, seed + 7919 * t)
            for t in range(n_tables)]


def _sigs_udf(bc):
    @pandas_udf(T.ArrayType(T.LongType()))
    def sigs(emb: pd.Series) -> pd.Series:
        tables = bc.value
        m = np.vstack(emb.to_numpy()).astype(np.float64)
        out = np.empty((len(m), len(tables)), dtype=np.int64)
        for t, pl in enumerate(tables):
            bits = (m @ pl.T) > 0
            out[:, t] = bits @ (1 << np.arange(pl.shape[0], dtype=np.int64))
        return pd.Series(list(out))

    return sigs


def with_lsh_signature(vectors: DataFrame, spark: SparkSession, dim: int,
                       n_planes: int = 12, emb_col: str = "embedding",
                       out_col: str = "lsh_sig", seed: int = SEED,
                       n_tables: int = 1) -> DataFrame:
    """Add signed-hyperplane LSH signature column(s).

    n_tables=1 -> one int64 bucket key (at cluster scale the vectors
    table is written bucketed/partitioned by it, so repeated ANN queries
    prune to matching buckets at scan time). n_tables>1 -> array column
    (one signature per table; callers posexplode into postings)."""
    bc = spark.sparkContext.broadcast(
        _table_planes(dim, n_planes, n_tables, seed))
    arr = _sigs_udf(bc)(F.col(emb_col))
    if n_tables == 1:
        return vectors.withColumn(out_col, arr[0])
    return vectors.withColumn(out_col, arr)


def train_ivf_centroids(vectors: DataFrame, n_centroids: int,
                        id_col: str = "vec_id",
                        emb_col: str = "embedding",
                        sample_mod: int = 4, n_iter: int = 10,
                        sample_budget: int = 65536,
                        seed: int = SEED) -> np.ndarray:
    """Spherical k-means coarse quantizer on a DETERMINISTIC, ABSOLUTELY
    BOUNDED sample of the vectors. Two-stage sample: a hash thin
    (pmod(xxhash64(id)) — pushdown-able) followed by orderBy(id).limit(
    sample_budget), which Spark executes as TakeOrderedAndProject — a
    distributed top-N, so the driver materializes O(sample_budget) rows
    regardless of table size (never a fixed FRACTION of the table; at
    1e9 vectors the old 1/sample_mod sample was a driver OOM). Both
    stages are deterministic (hash filter + total order on id), so the
    codebook — and everything downstream — is reproducible. Lloyd's in
    numpy on the driver: the sample is O(sample_budget), the codebook
    is tiny, and the result broadcasts. Deterministic init: first
    n_centroids sample rows by id."""
    if sample_budget < n_centroids:
        raise ValueError(
            f"sample_budget ({sample_budget}) < n_centroids ({n_centroids})")
    sample = (
        vectors.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)),
                   F.lit(sample_mod)) == 0)
        .orderBy(id_col)
        .limit(sample_budget)
        .select(id_col, emb_col)
        .toPandas()
    )
    m = _normalize(np.vstack(sample[emb_col].to_numpy()).astype(np.float64))
    if len(m) < n_centroids:
        raise ValueError(f"sample ({len(m)}) smaller than n_centroids")
    cents = m[:n_centroids].copy()
    for _ in range(n_iter):
        assign = np.argmax(m @ cents.T, axis=1)
        for c in range(n_centroids):
            members = m[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = _normalize(cents)
    return cents


def with_ivf_cell(vectors: DataFrame, centroids: np.ndarray,
                  spark: SparkSession, emb_col: str = "embedding",
                  out_col: str = "ivf_cell") -> DataFrame:
    """Assign each vector its nearest-centroid cell id (one numpy
    matmul per Arrow batch against the broadcast codebook). At cluster
    scale the vectors table is written partitioned/bucketed by this
    column, so probes prune to n_probe cells at scan time."""
    bc = spark.sparkContext.broadcast(centroids)

    @pandas_udf(T.IntegerType())
    def cell(emb: pd.Series) -> pd.Series:
        cents = bc.value
        m = _normalize(np.vstack(emb.to_numpy()).astype(np.float64))
        return pd.Series(np.argmax(m @ cents.T, axis=1).astype(np.int32))

    return vectors.withColumn(out_col, cell(F.col(emb_col)))


def ivf_topk(vectors: DataFrame, queries_pdf: pd.DataFrame, k: int,
             spark: SparkSession, n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", emb_col: str = "embedding",
             centroids: np.ndarray | None = None,
             seed: int = SEED) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) coarse quantizer.

    The second scale path next to LSH: vectors land in n_centroids
    inverted lists; each query probes its n_probe nearest centroids;
    candidates come from an equi-join on the cell id (broadcast probe
    rows), then exact cosine re-rank -> top-k. Candidate volume is
    ~ n_probe/n_centroids of the table per query — never a cross join,
    and the cell column doubles as the partition/bucket key on disk.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_centroids, id_col, emb_col, seed=seed)
    vecs = with_ivf_cell(vectors, centroids, spark, emb_col)

    qm = _normalize(
        np.vstack(queries_pdf["embedding"].to_numpy()).astype(np.float64))
    sims = qm @ centroids.T
    probe_rows = []
    for qi in range(len(queries_pdf)):
        q = queries_pdf.iloc[qi]
        cells = np.argsort(-sims[qi])[:n_probe]
        for c in cells:
            probe_rows.append({
                "query_id": str(q["query_id"]), "ivf_cell": int(c),
                "q_emb": [float(x) for x in q["embedding"]],
            })
    probes = spark.createDataFrame(pd.DataFrame(probe_rows))

    cand = vecs.join(F.broadcast(probes), ["ivf_cell"], "inner")
    return cosine_rerank(cand, k, id_col, emb_col)


def lsh_topk(vectors: DataFrame, queries_pdf: pd.DataFrame, k: int,
             spark: SparkSession, dim: int, n_planes: int = 10,
             id_col: str = "vec_id", emb_col: str = "embedding",
             multiprobe: bool = True, seed: int = SEED,
             n_tables: int = 4) -> DataFrame:
    """ANN top-k via multi-table LSH bucket equi-join.

    Standard LSH indexing: L independent tables of n_planes hyperplanes;
    the vector side posexplodes into (table, sig) postings (the on-disk
    analog is L posting lists / bucket-partitioned files); query probes
    (own bucket + Hamming-1 neighbors) are broadcast; union of bucket
    hits -> exact cosine re-rank -> top-k. Recall grows as
    1-(1-p^n)^L while candidates stay bucket-sized — never a cross join.
    Tested against brute_force_topk on clustered data.
    """
    tables = _table_planes(dim, n_planes, n_tables, seed)
    vecs = with_lsh_signature(vectors, spark, dim, n_planes, emb_col,
                              seed=seed, n_tables=n_tables)
    postings = vecs.select(
        id_col, emb_col,
        F.posexplode("lsh_sig").alias("table", "lsh_sig"),
    )

    qm = np.vstack(queries_pdf["embedding"].to_numpy()).astype(np.float64)
    probe_rows = []
    for t, pl in enumerate(tables):
        qsig = ((qm @ pl.T) > 0) @ (1 << np.arange(n_planes, dtype=np.int64))
        for qi in range(len(queries_pdf)):
            q = queries_pdf.iloc[qi]
            sigs = {int(qsig[qi])}
            if multiprobe:
                for b in range(n_planes):
                    sigs.add(int(qsig[qi]) ^ (1 << b))
            for s in sigs:
                probe_rows.append(
                    {"query_id": str(q["query_id"]), "table": t, "lsh_sig": s,
                     "q_emb": [float(x) for x in q["embedding"]]}
                )
    probes = spark.createDataFrame(pd.DataFrame(probe_rows))

    cand = postings.join(
        F.broadcast(probes), ["table", "lsh_sig"], "inner"
    ).dropDuplicates(["query_id", id_col])
    return cosine_rerank(cand, k, id_col, emb_col)


def cosine_near_pairs(vectors: DataFrame, threshold: float,
                      id_col: str = "vec_id", emb_col: str = "emb",
                      n_proj: int = 2,
                      max_cell_size: int | None = None) -> DataFrame:
    """EXACT cosine near-duplicate self-join via grid blocking — the
    embedding-space member of the dedup family (exact / minhash /
    simhash / ngram live in dedup.py+relops.py).

    For unit-normalized vectors and ANY unit direction d,
    |d.a - d.b| <= ||a - b|| = sqrt(2 - 2 cos(a, b)), so every pair at
    cosine >= threshold is within w = sqrt(2 - 2*threshold) in EVERY
    projection. Blocking on floor(p_k / w) for n_proj fixed axis
    directions therefore loses no qualifying pair: candidates are rows
    equal on the composite grid key after one side explodes its
    3^n_proj neighbor-cell offsets — an equi-join whose shuffle key is
    the grid cell, never a cross join. An exact JVM cosine then filters
    candidates to true pairs. Pure column expressions end to end.

    At 100 TB the candidate volume is sum over grid cells of |cell|^2,
    i.e. bounded by data density at radius w — and the TRUE output is
    itself Theta(|cell|^2) for a duplicate cluster, so the join is
    output-bound, not wasteful. `max_cell_size` optionally samples the
    K smallest ids per cell (dedup.cap_k_smallest semantics) when
    bounded work matters more than exhaustive pair listing.

    The grid stops pruning on high-dim near-isotropic vectors: the
    per-axis projection spread is ~1/sqrt(dim), so once
    w * sqrt(dim) >= 1 nearly every vector shares a handful of cells
    and the join approaches all-pairs (measured 129s for 9.6k vectors
    at dim=64/threshold=0.99). The result stays exact there; callers
    who accept recall-controlled candidates call cosine_near_pairs_lsh
    instead.

    `emb_col` must be array<double>; rows with zero norm are dropped
    (cosine undefined). Returns (id_a, id_b, cos_sim) with id_a < id_b,
    cos_sim unrounded.
    """
    w = math.sqrt(max(2.0 - 2.0 * threshold, 0.0)) * 1.000001 + 1e-12
    norm = F.expr(
        f"sqrt(aggregate({emb_col}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v * v))"
    )
    keyed = vectors.select(id_col, emb_col).withColumn("_norm", norm)
    keyed = keyed.filter(F.col("_norm") > 0)
    for k in range(n_proj):
        # missing dims read as 0.0 (the vector's true coordinate when
        # embedded in the larger space) — a NULL/ANSI-error grid key
        # past the array end would silently drop the row from the
        # equi-join, breaking the EXACT contract (review r03); ANSI
        # mode makes plain element_at THROW, hence try_element_at
        keyed = keyed.withColumn(
            f"_b{k}",
            F.floor(F.expr(
                f"coalesce(try_element_at({emb_col}, {k + 1}),"
                " CAST(0.0 AS DOUBLE))")
                / F.col("_norm") / F.lit(w)),
        )
    keyed = keyed.drop("_norm")
    if max_cell_size is not None:
        from posmspark import dedup

        keyed = dedup.cap_k_smallest(
            keyed, [f"_b{k}" for k in range(n_proj)], id_col,
            max_cell_size)

    a = keyed.alias("a").hint("merge")  # fact-fact: never broadcast
    b = keyed
    for k in range(n_proj):
        b = (
            b.withColumn(f"_d{k}",
                         F.explode(F.sequence(F.lit(-1), F.lit(1))))
            .withColumn(f"_b{k}", F.col(f"_b{k}") + F.col(f"_d{k}"))
            .drop(f"_d{k}")
        )
    # each qualifying pair matches in EXACTLY one offset combination
    # (per axis at most one of {-1,0,+1} aligns the floors), and the
    # a.id < b.id guard keeps one orientation — no dedup pass needed
    b = b.alias("b")
    cand = a.join(
        b, [F.col(f"a._b{k}") == F.col(f"b._b{k}") for k in range(n_proj)]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
    dot = F.expr(
        f"aggregate(zip_with(a.{emb_col}, b.{emb_col},"
        " (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = F.expr(
        f"sqrt(aggregate(a.{emb_col}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v * v))"
    )
    nb = F.expr(
        f"sqrt(aggregate(b.{emb_col}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v * v))"
    )
    return (
        cand.withColumn("cos_sim", dot / (na * nb))
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cos_sim",
        )
    )


def auto_n_planes(n_vectors: int, lo: int = 12, hi: int = 28) -> int:
    """Signature width for a self-join LSH table: ~log2(n) bits keeps
    the EXPECTED bucket size O(1) at any table size (buckets ~ 2^bits,
    random mass per bucket ~ n / 2^bits), so candidate volume stays
    ~n * n_tables instead of n^2 / 2^bits. Clamped: < lo wastes recall
    tuning on tiny inputs, > hi exceeds what int64 packing + per-bit
    recall loss can usefully spend."""
    if n_vectors <= 1:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_vectors)) + 1))


def cosine_near_pairs_lsh(vectors: DataFrame, threshold: float,
                          spark: SparkSession, dim: int,
                          id_col: str = "vec_id", emb_col: str = "emb",
                          n_planes: int | None = None, n_tables: int = 8,
                          seed: int = SEED,
                          max_bucket_size: int = 64) -> DataFrame:
    """Recall-controlled cosine near-duplicate self-join — the SCALE
    path where `cosine_near_pairs`' exact grid blocking degenerates.

    The exact variant's axis-projection cells stop pruning once the
    per-axis spread (~1/sqrt(dim) for near-isotropic unit vectors)
    falls under the cell width w = sqrt(2-2*threshold): at dim=64 /
    threshold=0.99 every cell is dense and the candidate join is
    effectively all-pairs (measured: 129s for 9.6k vectors — the ANN
    scaling bench's motivating find). Signed-hyperplane band LSH keys
    on ANGLE instead: n_tables independent int64 signatures of
    n_planes sign bits each; a pair at cosine c agrees per bit with
    p = 1 - acos(c)/pi, so recall = 1 - (1 - p^n_planes)^n_tables
    (defaults at c=0.99, 16 bits x 8 tables: ~0.994; the exact-cosine
    verify step makes precision 1.0 — candidates below threshold are
    dropped, never emitted).

    Scale shape (the 100-TB guard): candidates come from equi-joins on
    (table, signature) ONLY. n_planes=None auto-scales the signature
    width to ~log2(n) bits (`auto_n_planes`) so expected bucket size —
    and with it candidate volume per row — is O(n_tables) at ANY table
    size; `max_bucket_size` caps pathological buckets (exact-duplicate
    mega-clusters, the simhash/minhash cap semantics: k smallest ids
    kept) via one global row_number window whose hash partitioning the
    bucket groupBy reuses — deliberately NOT the minhash hot-only
    two-phase form; see the in-function comment for the measured A/B
    and why that shape doesn't transfer here. Buckets pair in-JVM from
    bounded arrays (dedup.bucket_pairs, no fact-fact self-join), pairs
    are de-duplicated across tables BEFORE the exact verify, and the
    verify joins embeddings back by id as SHUFFLE-HASH joins (a merge
    join would sort the array-payload-wide intermediate — the 10x
    bench's dominant cost; a broadcast build is the Catalyst-
    underestimate OOM class) — every shuffle is a bounded equi-join,
    never a cross join. Note the auto bit schedule's one intrinsic
    tail: collision probability per bucket is E[p^bits] over the
    data's angle distribution, which exceeds the uniform 2^-bits
    estimate by a factor that grows with bits (Jensen; measured ~2.3x
    at 18 bits, ~2.9x at 21 on near-uniform 64-dim draws) — candidate
    counts therefore grow mildly supralinearly between sizes whose
    auto widths differ, while per-candidate verify cost stays O(dim)
    with no wide sort, keeping total growth under n*log(n) (measured
    5.8x wall for 10x data; BENCH/BASELINE.md).

    Deterministic end to end: planes from a fixed seed, bucket caps by
    smallest id, output = set of (id_a, id_b, cos_sim) with id_a <
    id_b and exact unrounded cosine — reproducible across runs,
    partitionings, and parallelism levels.
    """
    from posmspark import dedup

    norm = F.expr(
        f"sqrt(aggregate({emb_col}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v * v))"
    )
    keyed = (
        vectors.select(id_col, emb_col)
        .filter(norm > 0)  # zero-norm: cosine undefined (exact-path rule)
    )
    if n_planes is None:
        # count the INDEXED set (post zero-norm filter), so the width
        # matches the data actually bucketed (review r05)
        n_planes = auto_n_planes(keyed.count())

    sigs = with_lsh_signature(keyed, spark, dim, n_planes, emb_col,
                              out_col="_sigs", seed=seed,
                              n_tables=n_tables)
    postings = sigs.select(
        id_col, F.posexplode("_sigs").alias("_table", "_sig"))
    # cap via ONE global row_number window — deliberately NOT the
    # minhash hot-only two-phase form. Measured same-window A/B at
    # 960k vectors: global window 23.4s vs hot-only 30.9s. The
    # hot-only split doesn't transfer here because (a) the window's
    # hash partitioning on (_table,_sig) is exactly what the bucket
    # groupBy below needs, so cap+group cost ONE exchange, while the
    # hot-only form pays a count exchange + a union that breaks
    # partitioning + a second exchange; and (b) it does not even
    # remove the mega-bucket straggler — the hot subset still windows
    # that bucket in a single task. The window sort is per-partition
    # and SPILLABLE, so an exact-duplicate mega-cluster is a wall-clock
    # tail, never an OOM (unlike a collect_list-then-slice cap, whose
    # reducer would hold the whole cluster in one array).
    postings = dedup.cap_k_smallest(
        postings, ["_table", "_sig"], id_col, max_bucket_size)

    # the window above already bounds every bucket at max_bucket_size
    pairs = dedup.bucket_pairs(postings, ["_table", "_sig"], id_col,
                               cap=max_bucket_size)

    # verify joins are SHUFFLE-HASH, not sort-merge: join-1's output
    # rows carry a dim-sized embedding array, and a merge join-2 would
    # SORT that wide stream by id_b (the 10x-bench attribution's
    # dominant cost — ~GBs of array payload through a sort at 1M
    # vectors). SHJ hash-partitions the wide stream instead and builds
    # only the narrow embedding side per partition; broadcast stays off
    # the table (Catalyst underestimates exploded/agg'd sizes — the
    # minhash driver-OOM class). Norms are precomputed per VECTOR, not
    # per pair; values are bit-identical either way (same expression).
    nrm = F.expr(
        f"sqrt(aggregate({emb_col}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v * v))")
    ea = keyed.select(F.col(id_col).alias("id_a"),
                      F.col(emb_col).alias("_ea"),
                      nrm.alias("_na")).hint("shuffle_hash")
    eb = keyed.select(F.col(id_col).alias("id_b"),
                      F.col(emb_col).alias("_eb"),
                      nrm.alias("_nb")).hint("shuffle_hash")
    cand = pairs.join(ea, "id_a").join(eb, "id_b")
    dot = F.expr(
        "aggregate(zip_with(_ea, _eb, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    return (
        cand.withColumn("cos_sim", dot / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _sql_dot_fold(a: str, b: str) -> str:
    """DuckDB mirror of the engines' sequential-left-fold dot product
    (Spark `aggregate`/`zip_with`, driver `_py_fold_dot`): identical
    IEEE add order, so every ANN oracle shares ONE bit-exactness
    contract instead of hand-copied fold trees."""
    return f"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(len({a})),
             i -> CAST({a}[i + 1] AS DOUBLE)
                  * CAST({b}[i + 1] AS DOUBLE))),
           (acc, v) -> acc + v)"""


def _sql_norm_fold(a: str) -> str:
    return f"sqrt({_sql_dot_fold(a, a)})"


def _sql_rerank_tail(k: int) -> str:
    """Shared scored -> ranked -> top-k SQL tail — the twin of
    cosine_rerank's exact fold + (cos DESC, vec_id) ordering. Expects
    CTEs `cand(query_id, vec_id)` and `qv(query_id, q_emb)` upstream."""
    return f"""scored AS (
  SELECT c.query_id, c.vec_id,
         {_sql_dot_fold("e.embedding", "q.q_emb")}
         / ({_sql_norm_fold("e.embedding")}
            * {_sql_norm_fold("q.q_emb")}) AS cos_sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN qv q ON q.query_id = c.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored)
SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim,
       CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {k}"""


def lsh_topk_oracle_sql(k: int = 5, dim: int = 64, n_planes: int = 8,
                        n_tables: int = 4, multiprobe: bool = True,
                        seed: int = SEED, n_queries: int = 3) -> str:
    """DuckDB twin of the `ann_lsh_topk` registry query. The hyperplane
    tables are ALGORITHM PARAMETERS and enter as VALUES (double-list
    literals); SQL re-derives everything the engine computes from the
    embeddings table: per-table sign-bit signatures (sign(dot) is
    robust across engines' summation orders — the fixture's smallest
    |dot| margin is ~1.3e-5, measured at both driver scales, vs ~1e-11
    worst-case fold discrepancy), the query's own-bucket + Hamming-1
    multiprobe set, the bucket equi-join candidate union with
    per-(query, vec) dedup, and the exact cosine re-rank replicating
    cosine_rerank's aggregate/zip_with fold tree term for term — so
    cos_sim is bit-identical and the (cos DESC, vec_id) rank order can
    never drift between engines."""
    tables = _table_planes(dim, n_planes, n_tables, seed)
    prows = []
    for t, pl in enumerate(tables):
        for p in range(n_planes):
            ws = ", ".join(f"CAST({float(w)!r} AS DOUBLE)"
                           for w in pl[p])
            prows.append(f"({t}, {p}, [{ws}])")
    probe_extra = f"""
    UNION ALL
    SELECT q.query_id, q.tbl, xor(q.sig, CAST(1 AS BIGINT) << b.b) AS sig
    FROM qsig q, (SELECT unnest(generate_series(0, {n_planes - 1})) AS b) b
""" if multiprobe else ""
    return f"""
WITH planes(tbl, p, w) AS (VALUES
{",".join(prows)}),
vdot AS (
  SELECT e.vec_id, pl.tbl, pl.p,
         list_sum(list_transform(range(len(e.embedding)),
           i -> CAST(e.embedding[i + 1] AS DOUBLE) * pl.w[i + 1])) AS d
  FROM embeddings e CROSS JOIN planes pl),
vsig AS (
  SELECT vec_id, tbl,
         sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << p
                  ELSE 0 END) AS sig
  FROM vdot GROUP BY vec_id, tbl),
qsig AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, tbl, sig
  FROM vsig WHERE vec_id < {n_queries}),
probes AS (
  SELECT DISTINCT query_id, tbl, sig FROM (
    SELECT query_id, tbl, sig FROM qsig{probe_extra})),
cand AS (
  SELECT DISTINCT p.query_id, v.vec_id
  FROM vsig v JOIN probes p ON p.tbl = v.tbl AND p.sig = v.sig),
qv AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < {n_queries}),
{_sql_rerank_tail(k)}
"""


def _py_fold_dot(a, b) -> float:
    """Sequential left-fold dot product — the driver-side mirror of the
    engines' `aggregate`/`list_reduce` folds (same IEEE add order, so
    bit-identical to both)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def ivf_probe_topk_exact(vectors: DataFrame, spark: SparkSession, k: int = 5,
                         n_centroids: int = 8, n_probe: int = 2,
                         query_lo: int = 100, n_queries: int = 10,
                         id_col: str = "vec_id",
                         emb_col: str = "embedding") -> DataFrame:
    """IVF probe + exact re-rank with DATA-DERIVED deterministic
    centroids — the oracle-checkable sibling of ivf_topk (whose trained
    spherical-kmeans codebook is float-sum-order sensitive and hence
    honestly rows-only). The codebook here is the embeddings with
    {id_col} < n_centroids — a guarded dense-0 id contract, like the
    other registry fixtures' query windows; on the registry tables
    this IS kmeans' deterministic init (the n_centroids lowest ids)
    with zero iterations — so BOTH engines re-derive it independently
    from the table and every downstream float — cell scores, probe picks,
    re-rank cosines — is a mirrored sequential fold (bit-identical,
    ranks can never drift).

    Scale shape: cell assignment is MAP-ONLY — the bounded codebook
    (n_centroids rows) is collected once and baked into one
    array-of-structs argmax expression per row (no shuffle, no Python;
    at cluster scale `ivf_cell` doubles as the table's partition/bucket
    key). Probe rows are a broadcast equi-join on the cell id; the only
    shuffle is the final per-query top-k window over candidates
    (~n_probe/n_centroids of the table).
    """
    q_hi = query_lo + n_queries
    rows = (vectors.filter((F.col(id_col) < n_centroids)
                           | ((F.col(id_col) >= query_lo)
                              & (F.col(id_col) < q_hi)))
            .select(id_col, emb_col).orderBy(id_col).collect())
    crows = [r for r in rows if r[id_col] < n_centroids]
    qrows = [r for r in rows if query_lo <= r[id_col] < q_hi]
    cids = sorted(int(r[id_col]) for r in crows)
    if cids != list(range(n_centroids)):
        raise ValueError(
            f"codebook needs dense unique ids 0..{n_centroids - 1}: "
            f"found {id_col} values {cids[:n_centroids + 2]}")
    if not qrows:
        raise ValueError(
            f"no query rows in [{query_lo}, {q_hi}) — the oracle compare "
            "would pass vacuously")
    cents = []
    for r in crows:
        emb = [float(x) for x in r[emb_col]]
        nc = math.sqrt(_py_fold_dot(emb, emb))
        if nc == 0.0:
            # A zero-norm centroid would divide by zero three different
            # ways (driver raise, Spark NULL cell, DuckDB inf score).
            raise ValueError(
                f"codebook vector {id_col}={int(r[id_col])} has zero norm "
                "— cell scores would be undefined and the engines would "
                "diverge; exclude zero embeddings or raise query_lo")
        cents.append((int(r[id_col]), emb, nc))

    # the codebook is baked into a literal array-of-structs expression
    # (n_centroids * dim CAST literals); past a few thousand literals
    # the expression tree / codegen blows up nonlinearly (ADVICE r05) —
    # refuse loudly and point at the broadcast path
    n_lits = len(cents) * (len(cents[0][1]) if cents else 0)
    if n_lits > 4096:
        raise ValueError(
            f"ivf_probe_topk_exact bakes {n_lits} codebook literals into "
            "the assignment expression (n_centroids x dim); beyond ~4096 "
            "the plan/codegen cost explodes — use ivf_topk's broadcast "
            "codebook path for large codebooks")
    structs = []
    for cell, emb, nc in cents:
        lits = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in emb)
        dot = F.expr(
            f"aggregate(zip_with({emb_col}, array({lits}),"
            " (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + v)")
        structs.append(F.struct((dot / F.lit(nc)).alias("s"),
                                F.lit(-cell).alias("m")))
    assigned = vectors.withColumn(
        "ivf_cell", F.array_max(F.array(*structs))["m"] * -1)

    probe_rows = []
    for r in qrows:
        q = [float(x) for x in r[emb_col]]
        scores = [(_py_fold_dot(q, emb) / nc, cell) for cell, emb, nc in cents]
        for _s, cell in sorted(scores, key=lambda t: (-t[0], t[1]))[:n_probe]:
            probe_rows.append({"query_id": str(r[id_col]),
                               "ivf_cell": int(cell), "q_emb": q})
    probes = spark.createDataFrame(pd.DataFrame(probe_rows))

    cand = (assigned.join(F.broadcast(probes), ["ivf_cell"], "inner")
            .filter(F.col(id_col).cast("string") != F.col("query_id")))
    return cosine_rerank(cand, k, id_col, emb_col)


def ivf_probe_topk_oracle_sql(k: int = 5, n_centroids: int = 8,
                              n_probe: int = 2, query_lo: int = 100,
                              n_queries: int = 10) -> str:
    """DuckDB twin of `ann_ivf_probe_topk`. NOTHING enters as VALUES:
    the codebook is the table's n_centroids lowest-id embeddings, so
    the oracle independently re-derives codebook, normalized cell
    scores, per-vector argmax assignment (ties -> lowest cell, the
    engine's struct-max mirror), per-query top-n_probe cells, the
    cell equi-join candidates, and cosine_rerank's fold tree term for
    term."""
    q_hi = query_lo + n_queries
    return f"""
WITH cnorm AS MATERIALIZED (
  SELECT vec_id AS cell, embedding AS c_emb,
         {_sql_norm_fold("embedding")} AS nc
  FROM embeddings WHERE vec_id < {n_centroids}),
vscore AS MATERIALIZED (
  SELECT e.vec_id, c.cell,
         {_sql_dot_fold("e.embedding", "c.c_emb")} / c.nc AS s
  FROM embeddings e CROSS JOIN cnorm c),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM vscore) WHERE rn = 1),
qprobe AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM vscore WHERE vec_id >= {query_lo} AND vec_id < {q_hi})
  WHERE rn <= {n_probe}),
qv AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id >= {query_lo} AND vec_id < {q_hi}),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM assigned a JOIN qprobe p ON p.cell = a.cell
  WHERE CAST(a.vec_id AS VARCHAR) <> p.query_id),
{_sql_rerank_tail(k)}
"""
