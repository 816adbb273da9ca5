"""Deduplication operators for training-data pipelines (north-rule
additions; no posm counterpart — SURVEY.md training-data section).

Five dedup families, all shuffle-disciplined for 100 TB inputs:
- exact           : content-hash groupBy (relops.q_dedup_exact, oracle'd)
- minhash_lsh     : shingle -> per-band min-hash signature -> band-bucket
                    pairs (relops.q_minhash_band_candidates, oracle'd);
                    this module adds the signature builder + verify pass
- simhash         : 64-bit sign-sum fingerprint; near-dups = fingerprints
                    within Hamming distance k, bucketed by pigeonhole
                    blocks
- ngram_jaccard   : cold-shingle pairs + exact Jaccard (relops, oracle'd)
- embedding_cosine: near-dup pairs by cosine >= tau via LSH buckets
                    (ann.py provides the bucketing)

Scale notes: every candidate generator is ONE primitive,
bucket_pairs(df, key_cols, id_col, cap): all id pairs sharing a derived
key (band signature / block value / shingle / LSH bucket), never a
cross join; verify passes run only on candidate pairs. When a bucket
bound K is known, buckets pair in-JVM from one sorted K-element array
(no join); when it is not, they pair through a streaming sort-merge
self-join, so no bucket ever becomes one unbounded array. Hot keys
(boilerplate shingles, exact-duplicate fingerprint buckets) are capped
by SAMPLING the K smallest doc ids per key — a capped key still pairs
its K representatives (dropping the key outright blind-spotted whole
clusters larger than K, ADVICE r02). Pipeline ordering matters: run
EXACT content-hash dedup first (q_dedup_exact) so identical docs
collapse to one representative before near-dup candidate generation;
the near-dup cap's only residual blind spot is then a *non-identical*
cluster member beyond the K smallest ids of all its shingles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _word_ngrams(n: int):
    """The word n-grams of the `_toks` token-array column, in order.

    Tokenization happens ONCE into that column before the transform —
    split() written inline in the lambda is re-evaluated per element
    (O(tokens^2) per doc, measured 3.7x slower).
    """
    # Guard short docs: Spark's sequence(1, 0) is DESCENDING [1, 0]
    # (unlike DuckDB's empty generate_series), and slice(_toks, 0, n)
    # is a runtime error — a 2-token document would crash the job
    # (review-found, reproduced live).
    return F.expr(
        f"CASE WHEN size(_toks) < {n} THEN array()"
        f" ELSE transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> concat_ws(' ', slice(_toks, i, {n}))) END"
    )


def shingles(df: DataFrame, text_col: str = "text", n: int = 3,
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document (JVM-side transform)."""
    return (
        df.select(id_col, F.split(F.col(text_col), " ").alias("_toks"))
        .select(id_col,
                F.explode(F.array_distinct(_word_ngrams(n))).alias("shingle"))
    )


def shingle_hash_arrays(df: DataFrame, text_col: str = "text", n: int = 3,
                        id_col: str = "doc_id") -> DataFrame:
    """Per-doc array of xxhash64'd distinct word n-grams — the NARROW
    staged form of the shingle table: one row per document, int64
    elements (r05 rework of the r04 (doc_id, sh_h) row cache).

    Why arrays: the exploded row form materialized ~60 rows/doc into
    the cache — that write is memory-bandwidth-bound and was the
    low-core-count scaling bottleneck of q_ngram_jaccard_pairs (2->8
    efficiency 0.711, VERDICT r04). The array form caches one row per
    doc; consumers explode from cached int arrays (cheap CPU, no
    string work), and per-doc shingle counts become F.size(shs) — no
    groupBy shuffle at all. Distinct runs on the STRING grams before
    hashing, so counts are hash-collision-proof exactly like the row
    form, and every downstream value is unchanged (oracle parity)."""
    return (
        df.select(id_col, F.split(F.col(text_col), " ").alias("_toks"))
        .select(id_col,
                F.transform(F.array_distinct(_word_ngrams(n)),
                            lambda g: F.xxhash64(g)).alias("shs"))
    )


def cap_k_smallest(df: DataFrame, key_cols: list[str], id_col: str,
                   k: int) -> DataFrame:
    """Keep only the k smallest id_col values per key — THE hot-key
    skew cap as a spillable window (the cosine LSH bucket cap, the
    exact cosine grid's cell cap). bucket_pairs(cap=k) and
    minhash_signatures apply the same rule as a sorted-array slice, so
    the Spark semantics and the DuckDB oracle replicas (row_number <= k)
    can never drift apart (review r03)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k).drop("_rn")
    )


def minhash_signatures(sh: DataFrame, n_bands: int = 8,
                       id_col: str = "doc_id",
                       max_shingle_freq: int | None = None,
                       portable_hash: bool = False) -> DataFrame:
    """(doc_id, band, sig): per-band minimum of a salted shingle hash.

    max_shingle_freq is the skew guard: each shingle keeps only its K
    smallest doc ids before banding, so a boilerplate shingle — or an
    exact-duplicate cluster, whose members share EVERY shingle — feeds
    at most K docs into any band bucket (candidate join output <= K^2/2
    per bucket, never M^2/2). Sampling instead of dropping (round-2
    behavior) keeps K representatives of every large cluster pairable;
    the residual blind spot is a doc beyond the K smallest ids of ALL
    its shingles, which is why exact content-hash dedup runs FIRST in a
    production pipeline (module docstring). K is recorded as the `sig`
    column's `bucket_cap` metadata: a (band, sig) bucket is the docs
    sharing one minimizing shingle, which at most K docs kept, so
    lsh_candidate_pairs reads the bound from its input and pairs
    buckets in-JVM; uncapped signatures carry no bound and pair through
    the streaming join.

    portable_hash=True uses min(md5(band || '|' || shingle)) — byte-
    identical in DuckDB, so the whole LSH+verify path is oracle-
    checkable; default is xxhash64 (JVM-native, faster). The md5 is
    carried as the 16-byte unhex binary, not the 32-char hex string:
    lowercase hex is an order-monotone encoding of the bytes, so
    min(unhex(m)) == unhex(min(m)) and bucket equality is unchanged,
    while the min aggregation sorts/shuffles half the bytes (measured
    3x on the aggregation stage — sig is only ever an equality key, no
    caller reads its text).

    Shuffle shape (r06 rework, result-identical — oracle hash-green):
    the capped path aggregates ONCE per shingle — the k smallest doc
    ids fall out of slice(sort_array(collect_list), 1, k) — and then
    re-explodes the kept doc ids. The optimizer places the n_bands
    salted hashes in the Project ABOVE that Generate, so they run once
    per kept (doc, shingle) row, at most k per shingle: 391,532 kept
    rows of 402,120 against 337,010 distinct shingles on the near_dup
    benchmark input (v5). Hashing once per distinct shingle measured no
    gain there. This
    replaces the r03 shape's four extra operators (hot-count agg,
    broadcast anti-join, hot-row window sort, union) with one grouped
    pass: bench 13.2s -> 5.3s at 50k docs on local[32].
    """
    if portable_hash:
        def band_hash(b):
            return F.unhex(F.md5(F.concat(F.lit(str(b)), F.lit("|"),
                                          F.col("shingle"))))
    else:
        def band_hash(b):
            return F.xxhash64(F.lit(b), F.col("shingle"))
    if max_shingle_freq is not None:
        k = max_shingle_freq
        grp = (
            sh.groupBy("shingle")
            .agg(F.slice(F.sort_array(F.collect_list(id_col)), 1, k)
                 .alias("_ds")))
        # the optimized plan evaluates the band hashes in a Project
        # above the Generate: once per kept (doc, shingle) row
        per_sh = grp.select(
            *[band_hash(b).alias(f"_m{b}") for b in range(n_bands)],
            F.explode("_ds").alias(id_col))
        per_doc = per_sh.groupBy(id_col).agg(
            *[F.min(f"_m{b}").alias(f"_s{b}") for b in range(n_bands)])
        sig_meta = {"bucket_cap": k}
    else:
        # uncapped path (callers with pre-bounded corpora): one
        # map-side-combinable groupBy(doc) pass, n_bands exprs per row
        per_doc = sh.groupBy(id_col).agg(
            *[F.min(band_hash(b)).alias(f"_s{b}") for b in range(n_bands)])
        sig_meta = {}
    kb = F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), F.col(f"_s{b}").alias("sig"))
        for b in range(n_bands)
    ])).alias("kb")
    return per_doc.select(id_col, kb).select(
        id_col, F.col("kb.band").alias("band"),
        F.col("kb.sig").alias("sig", metadata=sig_meta))


def bucket_pairs(df: DataFrame, key_cols: list[str], id_col: str,
                 cap: int | None = None,
                 payload_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct (id_a, id_b, <p>_a, <p>_b, ...) rows with id_a < id_b,
    one for every pair of rows that agree on all key_cols — the one
    candidate-pair expansion of the near-duplicate family (minhash band
    buckets, simhash blocks, ngram shingles, cosine LSH buckets). Each
    id appears at most once per bucket; payload_cols travel with their
    id to both sides of the pair (e.g. the fingerprint a verify needs).

    cap=K (bucket size known to be bounded, or to be sampled down):
    ONE groupBy(key_cols) — each bucket keeps its K smallest rows by id
    via slice(sort_array(collect_list(...)), 1, K), the same rule as
    cap_k_smallest — and the i < j combinations expand in-JVM from that
    sorted array. One exchange and no join; per-bucket state and
    expansion are O(K) and O(K^2).

    cap=None (bucket size unknown): a merge-hinted sort-merge equi
    self-join on key_cols with a.id < b.id. Sort-merge streams buckets
    of any size, so no single row or aggregation buffer ever holds a
    whole bucket — an uncapped exact-duplicate cluster of M docs costs
    O(M^2) output rows, never one M-element (or C(M,2)-element) array.
    """
    names = ["id", *payload_cols]
    if cap is None:
        a = df.alias("_a").hint("merge")  # fact-fact: never broadcast
        b = df.alias("_b")
        cond = [F.col(f"_a.{k}") == F.col(f"_b.{k}") for k in key_cols]
        cond.append(F.col(f"_a.{id_col}") < F.col(f"_b.{id_col}"))
        cols = [id_col, *payload_cols]
        return a.join(b, cond).select(*[
            F.col(f"_{s}.{c}").alias(f"{n}_{s}")
            for c, n in zip(cols, names) for s in "ab"]).distinct()
    if payload_cols:
        elem = F.struct(F.col(id_col).alias("id"), *payload_cols)
        pick = "{v}.{n}"
    else:  # bare ids collect as a primitive array, no struct per element
        elem = F.col(id_col)
        pick = "{v}"
    named = ", ".join(f"'{n}_{s}', " + pick.format(v=v, n=n)
                      for n in names for s, v in (("a", "x"), ("b", "y")))
    bkt = (
        df.groupBy(*key_cols)
        .agg(F.slice(F.sort_array(F.collect_list(elem)), 1, cap)
             .alias("_ms"))
        .filter(F.size("_ms") > 1)
    )
    return (
        bkt.select(F.explode(F.expr(
            "flatten(transform(_ms, (x, i) ->"
            " transform(slice(_ms, i + 2, size(_ms)),"
            f" y -> named_struct({named}))))")).alias("_p"))
        .select("_p.*")
        .distinct()
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Docs sharing any band signature -> distinct (id_a, id_b)
    candidate pairs, id_a < id_b (bucket_pairs over (band, sig)).

    The bucket bound comes from the input, not from an option: capped
    signatures (minhash_signatures(max_shingle_freq=K)) carry K as the
    `sig` column's `bucket_cap` metadata and pair in-JVM — the
    join-free grouped plan; the slice can bind only on a band-hash
    collision between two different minimizing shingles. Signatures
    without the bound (uncapped, or built elsewhere) take the streaming
    sort-merge self-join, so an exact-duplicate cluster of any size
    never lands in one aggregation buffer.
    """
    cap = sigs.schema["sig"].metadata.get("bucket_cap")
    return bucket_pairs(sigs, ["band", "sig"], id_col, cap=cap)


def verify_jaccard(pairs: DataFrame, sh: DataFrame, threshold: float,
                   id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard on candidate pairs only (the verify pass).

    r06 shape (the rework q_ngram_jaccard_pairs proved): each side of a
    candidate pair gets its per-doc sorted int64 shingle-hash ARRAY
    attached by one narrow equi-join, and the intersection count is one
    in-JVM array_intersect — replacing the r05 chain of four
    merge-hinted sort joins (two (doc, sh_h) occurrence joins + two
    count joins) and a groupBy with TWO equi-joins and zero extra
    aggregations. Values unchanged: the arrays hold the same distinct
    per-doc hashes the row joins matched on (same ~2^-64 cross-engine
    collision caveat, portable-oracle parity at sf0.01 is collision-
    free by test), |A ∩ B| of duplicate-free arrays equals the row-join
    count, and n_a/n_b are the array sizes. Arrays are bounded by doc
    length, pairs are O(docs) under the candidate caps: both joins stay
    linear at scale.
    """
    arr = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.xxhash64("shingle"))).alias("_shs"))
    sa = arr.select(F.col(id_col).alias("id_a"),
                    F.col("_shs").alias("_shs_a"))
    sb = arr.select(F.col(id_col).alias("id_b"),
                    F.col("_shs").alias("_shs_b"))
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("_shs_a", "_shs_b")).alias("_ni"),
            F.size("_shs_a").alias("_na"), F.size("_shs_b").alias("_nb"))
        .withColumn(
            "jaccard",
            F.col("_ni") / (F.col("_na") + F.col("_nb") - F.col("_ni")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash


def _fnv1a_batch(tokens: list) -> np.ndarray:
    """Vectorized FNV-1a over a token list: iterate byte POSITIONS
    (bounded by the longest token) with one uint64 vector op per
    position, instead of a Python loop per byte per token (the original
    per-token form cost ~2,000 interpreter iterations per document —
    fuzz/profiling r03). Bit-identical to the scalar definition: uint64
    wrap-around multiply == the `& 0xFFFF...` masked Python-int form."""
    n = len(tokens)
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    if n == 0:
        return h
    # ASCII fast path: one np.array(dtype='U') C call gives a dense
    # (n, maxlen) codepoint matrix with ZERO per-token Python work —
    # for codepoints < 128 the UTF-8 bytes ARE the codepoints. The
    # general path (any non-ASCII token in the batch) falls back to
    # per-token encode. Char lengths come from map(len) (review r03:
    # counting nonzero codepoints misreads tokens with embedded NULs,
    # which DO occur in crawl text).
    arr = np.array(tokens, dtype="U")
    if arr.dtype.itemsize == 0:  # all-empty batch
        return h
    view = arr.view(np.uint32).reshape(n, -1)
    if int(view.max(initial=0)) < 128:
        mat = view.astype(np.uint8)
        lens = np.fromiter(map(len, tokens), dtype=np.int64, count=n)
    else:
        bs = [t.encode("utf-8") for t in tokens]
        lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
        mat = np.zeros((n, int(lens.max())), dtype=np.uint8)
        for i, b in enumerate(bs):
            mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    prime = np.uint64(0x100000001B3)
    with np.errstate(over="ignore"):
        for pos in range(mat.shape[1]):
            # full-vector update + where beats fancy-index assignment
            upd = (h ^ mat[:, pos].astype(np.uint64)) * prime
            h = np.where(lens > pos, upd, h)
    return h


def _fnv1a_scalar(token: str) -> np.uint64:
    """Scalar FNV-1a — the defining implementation, used for tokens too
    long for the padded-matrix path (and by parity tests)."""
    h = 0xCBF29CE484222325
    for byte in token.encode("utf-8"):
        h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return np.uint64(h)


@pandas_udf(T.LongType())
def _simhash_udf(tokens: pd.Series) -> pd.Series:
    """64-bit SimHash from token arrays, fully vectorized per Arrow
    batch: flatten every document's tokens, hash them in one
    byte-position sweep (_fnv1a_batch), then segment-sum the per-bit
    +1/-1 contributions back to documents with np.add.at. Chunked so
    the (tokens, 64) contribution matrix stays bounded in memory.
    """
    n_docs = len(tokens)
    lens = np.fromiter(
        ((0 if t is None else len(t)) for t in tokens),
        dtype=np.int64, count=n_docs)
    flat = [tok for toks in tokens if toks is not None for tok in toks]
    out = np.zeros(n_docs, dtype=np.int64)
    if not flat:
        return pd.Series(out)
    # hash each DISTINCT token once (crawl token frequencies are
    # Zipfian — the distinct set is a small fraction of occurrences),
    # then gather per occurrence. Hashing is CHUNKED (the 'U' arrays
    # pad every token to the chunk's longest) and tokens beyond 64
    # chars take the scalar path, so one long outlier token can never
    # blow the padded matrix up (review r03: a single 100KB no-space
    # "token" made the batch matrix hundreds of GB). Segment sums per
    # doc via one bincount per bit column: both reduceat layouts and
    # axis-0 cumsum measured 10-40x slower on the (tokens, 64) matrix.
    hs_occ = np.empty(len(flat), dtype=np.uint64)
    HASH_CHUNK = 500_000
    LONG_TOKEN = 64
    for st in range(0, len(flat), HASH_CHUNK):
        seg = flat[st:st + HASH_CHUNK]
        seglens = np.fromiter(map(len, seg), dtype=np.int64,
                              count=len(seg))
        long_i = np.where(seglens > LONG_TOKEN)[0]
        if len(long_i):
            short_i = np.where(seglens <= LONG_TOKEN)[0]
            if len(short_i):
                uniq, inv = np.unique(
                    np.array([seg[i] for i in short_i], dtype="U"),
                    return_inverse=True)
                hs_occ[st + short_i] = _fnv1a_batch(list(uniq))[inv]
            for i in long_i:
                hs_occ[st + i] = _fnv1a_scalar(seg[i])
        else:
            uniq, inv = np.unique(np.array(seg, dtype="U"),
                                  return_inverse=True)
            hs_occ[st:st + len(seg)] = _fnv1a_batch(list(uniq))[inv]
    doc_idx = np.repeat(np.arange(n_docs), lens)
    bitsum = np.zeros((n_docs, 64), dtype=np.int64)
    CHUNK = 2_000_000
    for st in range(0, len(hs_occ), CHUNK):
        # bit matrix via unpackbits on the big-endian byte view, column
        # order reversed so column k == (h >> k) & 1
        bits = np.unpackbits(
            hs_occ[st:st + CHUNK].astype(">u8").view(np.uint8)
            .reshape(-1, 8), axis=1)[:, ::-1]
        di = doc_idx[st:st + CHUNK]
        for b in range(64):
            bitsum[:, b] += np.bincount(
                di, weights=bits[:, b], minlength=n_docs).astype(np.int64)
    # score = sum(+1/-1 per bit) = 2*bitsum - n_tokens
    pos_bits = (2 * bitsum - lens[:, None] > 0)
    fp = (pos_bits.astype(np.uint64)
          << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
    out = fp.astype(np.int64)
    out[lens == 0] = 0
    return pd.Series(out)


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) fingerprints."""
    return df.select(
        id_col,
        _simhash_udf(F.split(F.col(text_col), " ")).alias("simhash"),
    )


def simhash_near_pairs(fps: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id", n_blocks: int = 4,
                       allow_narrow_blocks: bool = False,
                       max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs within Hamming distance k via block bucketing.

    Pigeonhole: split 64 bits into n_blocks (> max_hamming) blocks; two
    fingerprints within distance k agree on at least one block -> equi-
    join on (block_idx, block_value), verify with bit_count(xor).

    Scale guard: narrow blocks collide randomly at rate 2^-block_bits
    per block, so e.g. 4-bit blocks (~1/16) make the candidate join
    near-quadratic — refuse configs whose expected random candidate
    volume isn't vanishing unless the caller opts in with
    allow_narrow_blocks=True (bounded corpora / wide-radius audits).

    max_bucket_size guards the OTHER quadratic corner: an exact-
    duplicate cluster of M docs shares every block value, making its
    bucket O(M^2) in the join. Each (block, value) bucket keeps only
    its K smallest doc ids; run exact dedup first so this cap only
    ever trims pathological non-identical clusters (module docstring).
    Without it, buckets pair through bucket_pairs' streaming join.
    """
    if n_blocks <= max_hamming:
        raise ValueError(
            f"pigeonhole needs n_blocks > max_hamming "
            f"({n_blocks} <= {max_hamming})")
    block_bits = 64 // n_blocks
    if block_bits < 8 and not allow_narrow_blocks:
        raise ValueError(
            f"{block_bits}-bit blocks collide at 2^-{block_bits} per "
            f"block — candidate generation degenerates toward all-pairs "
            f"at scale; use n_blocks <= 8 (>=8-bit blocks)")
    blocks = F.explode(
        F.expr(
            f"transform(sequence(0, {n_blocks - 1}), b -> struct(b as blk,"
            f" shiftright(simhash, b * {block_bits})"
            f" & {(1 << block_bits) - 1} as val))"
        )
    ).alias("kb")
    keyed = fps.select(id_col, "simhash", blocks).select(
        id_col, "simhash", F.col("kb.blk").alias("blk"),
        F.col("kb.val").alias("val"),
    )
    cand = bucket_pairs(keyed, ["blk", "val"], id_col,
                        cap=max_bucket_size, payload_cols=("simhash",))
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs_oracle_sql(max_hamming: int = 3, n_blocks: int = 4,
                                  max_bucket_size: int = 50) -> str:
    """DuckDB re-derivation of the PRODUCTION simhash near-pair query
    (fingerprints included), promoting `simhash_near_pairs` from a
    rows-only driver row to a hash-checked oracle (VERDICT r04: reuse
    the proven portable-oracle machinery on more rows-only entries).

    Unlike the `simhash_pigeonhole_pairs` twin — which uses a 32-bit
    md5-derived fingerprint purpose-built for SQL — this oracle
    re-implements the production 64-bit FNV-1a SimHash itself:

    - FNV-1a is folded byte-by-byte in SQL via list_reduce over the
      token's UTF-8 bytes (hex(encode(tok)) -> per-byte values), with
      the 128-bit HUGEINT type holding the h*prime product exactly and
      `% 2^64` emulating the kernel's uint64 wraparound. Verified
      bit-identical to posmspark.dedup._fnv1a_scalar on every doc at
      sf0.001/sf0.01 (tests/test_oracle.py).
    - Each of the 64 fingerprint bits is the sign of the +-1 vote sum
      over token OCCURRENCES (not distinct tokens — `_simhash_udf`
      dedups only for hashing speed, contributions are per occurrence).
    - The unsigned bit-sum is reinterpreted as Spark's signed int64 by
      subtracting 2^64 above 2^63 (the udf's .astype(int64) view).

    Blocks/cap/join mirror simhash_near_pairs(): n_blocks 16-bit block
    values from the UNSIGNED fingerprint (Spark's arithmetic
    shiftright+mask reads the same bit window), k-smallest-ids bucket
    cap (cap_k_smallest), a.id < b.id candidate join, bit_count(xor)
    verify on the signed fingerprints.
    """
    block_bits = 64 // n_blocks
    return f"""
WITH occ AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
dtoks AS (SELECT DISTINCT tok FROM occ),
hx0 AS (SELECT tok, hex(encode(tok)) AS hx FROM dtoks),
hashed AS (
  SELECT tok,
    list_reduce(
      list_prepend(CAST('14695981039346656037' AS HUGEINT),
        list_transform(range(octet_length(encode(tok))),
          i -> CAST((strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1)
                    * 16
               + (strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 1)
               AS HUGEINT))),
      (acc, byte) -> (xor(acc, byte) * 1099511628211)
                     % CAST('18446744073709551616' AS HUGEINT)
    ) AS h
  FROM hx0),
bits AS (
  SELECT o.doc_id, bb.b,
         CASE WHEN (CAST(h.h AS UBIGINT) >> bb.b) & 1 = 1
              THEN 1 ELSE -1 END AS s
  FROM occ o JOIN hashed h USING (tok)
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb),
score AS (SELECT doc_id, b, sum(s) AS score FROM bits GROUP BY doc_id, b),
fpu AS (
  SELECT doc_id,
         sum(CASE WHEN score > 0
                  THEN CAST(1 AS HUGEINT) * (CAST(1 AS UBIGINT) << b)
                  ELSE CAST(0 AS HUGEINT) END) AS fp_u
  FROM score GROUP BY doc_id),
-- NULL-text docs produce no occ rows; the Spark kernel fingerprints
-- them as 0 (out[lens == 0] = 0), so restore them with fp_u = 0
fpa AS (
  SELECT d.doc_id, coalesce(f.fp_u, CAST(0 AS HUGEINT)) AS fp_u
  FROM documents d LEFT JOIN fpu f USING (doc_id)),
fp AS (
  SELECT doc_id, fp_u,
         CAST(CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
                   THEN fp_u - CAST('18446744073709551616' AS HUGEINT)
                   ELSE fp_u END AS BIGINT) AS sh
  FROM fpa),
blocks_all AS (
  SELECT doc_id, sh,
         bb.blk,
         CAST((CAST(fp_u AS UBIGINT) >> (bb.blk * {block_bits}))
              & {(1 << block_bits) - 1} AS BIGINT) AS val
  FROM fp CROSS JOIN (
    SELECT unnest(generate_series(0, {n_blocks - 1})) AS blk) bb),
blocks AS (
  SELECT doc_id, sh, blk, val FROM (
    SELECT *, row_number() OVER (PARTITION BY blk, val
                                 ORDER BY doc_id) AS rn
    FROM blocks_all) WHERE rn <= {max_bucket_size}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sh AS sh_a, b.sh AS sh_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""
