"""Dedup operator tests: MinHash-LSH recall vs exact Jaccard, SimHash
bucketing correctness vs brute-force Hamming."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from posmspark import dedup


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic corpus with planted near-duplicates."""
    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(120):
        toks = list(rng.choice(vocab, size=40))
        rows.append((i, " ".join(toks)))
        if i % 10 == 0:  # planted near-dup: tweak 2 tokens
            dup = list(toks)
            dup[3] = "CHANGED"
            dup[17] = "ALSO"
            rows.append((1000 + i, " ".join(dup)))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_minhash_lsh_finds_planted_dups(spark, docs):
    sh = dedup.shingles(docs, n=3)
    sigs = dedup.minhash_signatures(sh, n_bands=16)
    cand = dedup.lsh_candidate_pairs(sigs)
    verified = dedup.verify_jaccard(cand, sh, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    planted = {(i, 1000 + i) for i in range(0, 120, 10)}
    # every planted pair must be recalled (2/40 token change, 16 bands)
    assert planted <= got
    # and no absurd false positives at tau=0.5 on random 40-token docs
    assert len(got - planted) == 0


def test_verify_jaccard_exact_value(spark):
    a = "a b c d e f g h"
    b = "a b c d e f g X"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    sh = dedup.shingles(df, n=2)
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup.verify_jaccard(pairs, sh, threshold=0.0).collect()
    # 7 bigrams each, 6 shared -> J = 6/8
    assert len(out) == 1
    assert out[0]["jaccard"] == pytest.approx(6 / 8)


def test_simhash_deterministic_and_sensitive(spark, docs):
    fps1 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    fps2 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert fps1 == fps2
    # planted dups have small Hamming distance; random pairs large
    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    planted = [(i, 1000 + i) for i in range(0, 120, 10) if 1000 + i in fps1]
    dup_ham = [ham(fps1[a], fps1[b]) for a, b in planted]
    rand_ham = [ham(fps1[1], fps1[k]) for k in range(2, 50) if k in fps1]
    assert max(dup_ham) < 12
    # random pairs share vocab (40-of-300 draws), so the expected gap is
    # moderate, not the ~32 of independent fingerprints — require clear
    # separation from the planted dups, not an absolute margin
    assert np.mean(rand_ham) > 2 * np.mean(dup_ham)
    assert np.mean(rand_ham) > 12


def test_simhash_near_pairs_matches_bruteforce(spark, docs):
    fps = dedup.simhash(docs).cache()
    k = 10
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_pairs(fps, max_hamming=k, n_blocks=16,
                                          allow_narrow_blocks=True).collect()
    }
    rows = fps.collect()
    brute = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            h = bin((a["simhash"] ^ b["simhash"]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= k:
                x, y = sorted([a["doc_id"], b["doc_id"]])
                brute.add((x, y))
    # pigeonhole guarantee: n_blocks(16) > max_hamming(10) -> exact recall
    assert got == brute


def test_hot_shingle_cap(spark):
    """Boilerplate shingles shared by everyone are dropped before
    banding (skew guard)."""
    boiler = "copyright example site all rights reserved"
    rows = [(i, boiler + f" unique token{i} tail{i} x{i} y{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(df, n=3)
    sigs_capped = dedup.minhash_signatures(sh, n_bands=4, max_shingle_freq=10)
    cand = dedup.lsh_candidate_pairs(sigs_capped)
    # without the boilerplate shingles, distinct docs shouldn't collide
    # on every band; candidate count must be far below all-pairs (1225)
    assert cand.count() < 300


def test_ngram_jaccard_hot_shingle_guard(spark, tmp_path):
    """VERDICT r01 item 3: a boilerplate shingle shared by 1k docs must
    not explode the candidate join quadratically. With the frequency
    cap, 1k otherwise-unique docs sharing one hot 3-gram produce ZERO
    candidate pairs (uncapped: ~500k join rows)."""
    from posmspark.relops import q_ngram_jaccard_pairs

    boiler = "all rights reserved"
    rows = [
        (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e", "en", "synth", 40)
        for i in range(1000)
    ]
    # two planted near-dups sharing plenty of cold shingles
    common = " ".join(f"c{j}" for j in range(30))
    rows.append((2000, common + " endA", "en", "synth", 120))
    rows.append((2001, common + " endB", "en", "synth", 120))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    out = q_ngram_jaccard_pairs(spark, sf).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (2000, 2001) in pairs
    # boilerplate-only overlaps emit nothing
    assert all(a >= 2000 for a, _ in pairs)


def test_simhash_narrow_blocks_refused():
    """Scale guard: sub-8-bit block configs (near-quadratic candidate
    volume) must be refused unless explicitly opted into."""
    with pytest.raises(ValueError, match="blocks collide"):
        dedup.simhash_near_pairs(None, max_hamming=8, n_blocks=16)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(None, max_hamming=4, n_blocks=4)


def test_shingles_short_docs_no_crash(spark):
    """Review regression: Spark sequence(1, 0) is DESCENDING, so a doc
    with fewer than n tokens used to crash slice(_toks, 0, n). Short
    docs must simply emit no shingles (DuckDB oracle parity)."""
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three words here"), (4, "")],
        "doc_id long, text string")
    out = dedup.shingles(df, n=3).collect()
    assert {r["doc_id"] for r in out} == {3}
    assert out[0]["shingle"] == "three words here"


def test_ngram_jaccard_hot_path_oracle_parity(spark, tmp_path):
    """The hot-shingle contribution join (inter_hot) must agree with
    DuckDB when pairs share BOTH hot and cold shingles — the standard
    sf fixtures have no shingle above the cap, so this path is
    otherwise oracle-untested."""
    import duckdb

    from posmspark.relops import QUERIES

    boiler = "copyright example corp"  # will exceed doc-freq 50
    rows = []
    for i in range(60):
        rows.append((i, f"{boiler} u{i}a u{i}b u{i}c", "en", "s", 30))
    # two near-dup pairs sharing the hot shingle AND many cold ones
    common = " ".join(f"c{j}" for j in range(20))
    rows.append((100, f"{boiler} {common} endA", "en", "s", 90))
    rows.append((101, f"{boiler} {common} endB", "en", "s", 90))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    fn, sql = QUERIES["ngram_jaccard_pairs"]
    got = sorted(tuple(r) for r in fn(spark, sf).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS"
            f" SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    exp = sorted(con.sql(sql).fetchall())
    assert got == exp
    assert (100, 101) in {(a, b) for a, b, _ in got}
    # the hot shingles DID contribute: jaccard counts them
    j = {(a, b): v for a, b, v in got}[(100, 101)]
    # 22-gram sets share 20+hot-boilerplate shingles; exact match vs
    # DuckDB is the real assertion, this pins the magnitude
    assert j > 0.8


def test_minhash_sampling_keeps_large_cluster_pairs(spark):
    """ADVICE r02: dropping hot shingles blind-spotted near-dup clusters
    larger than the cap (every shingle of an 80-identical-doc cluster is
    'hot'). Sampling the K smallest doc ids per shingle instead keeps
    the cluster's K representatives pairable while still bounding the
    band buckets at K."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text) for i in range(80)]  # one exact-dup cluster, M=80
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(df, n=3)
    sigs = dedup.minhash_signatures(sh, n_bands=4, max_shingle_freq=10)
    cand = dedup.lsh_candidate_pairs(sigs).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cand}
    # the 10 smallest ids keep every shingle -> all pair up
    assert (0, 1) in pairs and (8, 9) in pairs
    # bounded at K^2/2 = 45, not M^2/2 = 3160 (old drop-approach: 0)
    assert len(pairs) == 45


def test_lsh_uncapped_exact_dup_cluster_pairs_completely(spark):
    """Uncapped signatures give lsh_candidate_pairs no bucket bound, so
    a 2,000-member exact-duplicate cluster (one bucket per band) must
    pair through the streaming self-join: all C(2000, 2) pairs, once
    each across the two bands, with no bucket collected into an array
    (the plan side is pinned in test_plans)."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame([(i, text) for i in range(2000)],
                               "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.shingles(df, n=3), n_bands=2)
    assert dedup.lsh_candidate_pairs(sigs).count() == 1_999_000


def test_minhash_band_query_skew_guard(spark, tmp_path):
    """VERDICT r02 wrong #1: the oracle query's signature build was
    uncapped, so a hot shingle shared by 1k docs emitted ~500k
    candidate pairs. With the K-smallest sampling the candidate count
    must stay near-linear."""
    from posmspark.relops import q_minhash_band_candidates

    boiler = "all rights reserved by example corp three grams"
    rows = [
        (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d", "en", "synth", 60)
        for i in range(1000)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    df.coalesce(4).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    n = q_minhash_band_candidates(spark, sf).count()
    # 50-doc sample of each hot shingle -> <= ~50^2/2 pairs per band
    # bucket; far below the ~500k of the uncapped build
    assert n <= 5000


def test_simhash_registry_query_skew_guard(spark, tmp_path):
    """VERDICT r03 wrong #1: the production registry query passed no
    max_bucket_size, so a 1k-doc exact-dup cluster (identical
    fingerprints -> all four block values shared) emitted ~500k
    candidate pairs. Through the registry path the candidate count
    must stay near-linear: 50 representatives -> <= 50*49/2 pairs."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry_for_test",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    text = " ".join("tok%d" % j for j in range(30))
    rows = [(i, text, "en", "synth", len(text)) for i in range(1000)]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    df.coalesce(4).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    n = mod._q_simhash_near_pairs(spark, sf).count()
    assert 0 < n <= 50 * 49 // 2


def test_simhash_bucket_cap_keeps_representatives(spark):
    """Exact-dup clusters share every simhash block value; the bucket
    cap bounds the pigeonhole join while keeping the K smallest ids
    pairable."""
    rows = [(i, ["tok%d" % j for j in range(20)]) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    fps = df.select(
        "doc_id", dedup._simhash_udf("toks").alias("simhash"))
    out = dedup.simhash_near_pairs(
        fps, max_hamming=3, n_blocks=4, max_bucket_size=10).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs and (8, 9) in pairs
    assert len(pairs) == 45  # 10 representatives, not 60*59/2


def _brute_cosine_pairs(ids, mat, threshold):
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = m @ m.T
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if sims[i, j] >= threshold:
                a, b = ids[i], ids[j]
                out.add((min(a, b), max(a, b)))
    return out


def test_cosine_near_pairs_exact_vs_brute_force(spark):
    """Grid-blocked embedding near-dup join is EXACT: identical pair
    set to the O(n^2) numpy brute force, including pairs straddling
    grid-cell borders (random data guarantees some) and a planted tight
    cluster."""
    from posmspark import ann

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((150, 16))
    # planted near-dup cluster: 5 perturbations of one vector
    for k in range(5):
        mat[100 + k] = mat[100] + rng.standard_normal(16) * 0.01
    ids = list(range(150))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in ids],
        "vec_id long, emb array<double>")
    for threshold in (0.99, 0.8):
        got = {
            (r["id_a"], r["id_b"])
            for r in ann.cosine_near_pairs(df, threshold).collect()
        }
        assert got == _brute_cosine_pairs(ids, mat, threshold), threshold


def test_cosine_near_pairs_cell_cap_keeps_representatives(spark):
    """max_cell_size bounds a duplicate cluster's quadratic pair list
    to the K smallest ids (same sampling rule as minhash/simhash)."""
    from posmspark import ann

    rng = np.random.default_rng(11)
    base = rng.standard_normal(16)
    mat = np.vstack([base + rng.standard_normal(16) * 1e-4
                     for _ in range(40)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, emb array<double>")
    out = ann.cosine_near_pairs(df, 0.99, max_cell_size=10).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs
    assert len(pairs) == 45  # 10 representatives, not 40*39/2


def test_cosine_near_pairs_short_arrays_not_dropped(spark):
    """Embeddings with fewer dims than n_proj must not vanish via NULL
    grid keys (element_at past the end is NULL; review r03): missing
    projections read as 0.0 and the join stays EXACT."""
    from posmspark import ann

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((40, 1))
    mat[20] = mat[10] * 2.0  # colinear pair -> cosine 1.0
    df = spark.createDataFrame(
        [(i, [float(mat[i, 0])]) for i in range(40)],
        "vec_id long, emb array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in ann.cosine_near_pairs(df, 0.99, n_proj=2).collect()
    }
    assert got == _brute_cosine_pairs(list(range(40)), mat, 0.99)
    assert (10, 20) in got


def test_fnv1a_batch_matches_scalar_definition():
    """The vectorized byte-position sweep must reproduce the scalar
    FNV-1a definition bit-for-bit (fingerprints feed the pigeonhole
    join — any drift silently changes candidate sets)."""
    def scalar(token):
        h = 0xCBF29CE484222325
        for byte in token.encode("utf-8"):
            h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    rng = np.random.default_rng(17)
    toks = ["", "a", "hello", "naïve-ünïcode", "x" * 300] + [
        "".join(chr(rng.integers(33, 1000)) for _ in range(rng.integers(1, 30)))
        for _ in range(200)
    ]
    got = dedup._fnv1a_batch(toks)
    want = np.array([scalar(t) for t in toks], dtype=np.uint64)
    assert (got == want).all()


def test_simhash_long_and_nul_tokens(spark):
    """Review r03: (a) a single huge no-space 'token' must not blow up
    the padded hashing matrix (routes through the scalar path), and
    (b) tokens with embedded NULs hash all their bytes identically on
    the ASCII fast path, the fallback path, and the scalar definition."""
    long_tok = "x" * 100_000
    nul_tok = "a\x00b"
    docs = pd.Series(
        [[long_tok, "hello"], [nul_tok, "world"],
         [nul_tok, "naïve"], ["plain", "tokens"]], dtype=object)
    got = dedup._simhash_udf.func(docs).to_numpy()

    def scalar_fp(toks):
        hs = np.array([dedup._fnv1a_scalar(t) for t in toks],
                      dtype=np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)).astype(np.int32)
        score = (2 * bits - 1).sum(axis=0)
        fp = np.uint64(0)
        for b in np.nonzero(score > 0)[0]:
            fp |= np.uint64(1) << np.uint64(b)
        return np.int64(fp.astype(np.int64))

    want = np.array([scalar_fp(toks) for toks in docs])
    assert (got == want).all()


def test_simhash_oracle_null_text_parity(spark, tmp_path):
    """Review r05: NULL-text docs fingerprint as 0 in the Spark kernel
    (out[lens == 0] = 0) and pair with each other at hamming 0 — the
    DuckDB oracle must keep them too (its occ CTE yields no rows for
    NULL text; the fpa left join restores fp_u = 0)."""
    import duckdb

    import pandas as pd

    from posmspark import dedup

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [None, None, "alpha beta gamma", None, "alpha beta gamma"],
    })
    pq = str(tmp_path / "documents.parquet")
    pdf.to_parquet(pq)

    docs = spark.read.parquet(pq)
    fps = dedup.simhash(docs)
    got = sorted(
        tuple(r) for r in dedup.simhash_near_pairs(
            fps, max_hamming=3, n_blocks=4, max_bucket_size=50).collect())

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{pq}'")
    want = sorted(con.sql(dedup.simhash_near_pairs_oracle_sql(
        max_hamming=3, n_blocks=4, max_bucket_size=50)).fetchall())
    assert got == want
    # the three NULL docs must all pair at hamming 0
    assert {(1, 2, 0), (1, 4, 0), (2, 4, 0), (3, 5, 0)} <= set(got)


def test_repetition_stats_semantics_pinned(spark, tmp_path):
    """Gopher-style repetition metrics on a handcrafted corpus: every
    fraction is a known small rational, single-token docs are excluded
    (no 2-gram slots), and an all-identical-token doc maxes out all
    three metrics."""
    import pandas as pd

    from posmspark.relops import q_repetition_stats

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a a a b",      # grams: aa,aa,ab -> top 2/3 dup 2/3; a 3/4
                 "x y",          # one gram -> top 1.0 dup 0.0; word 1/2
                 "z",            # 1 token -> filtered
                 "w w w"],       # grams: ww,ww -> top 1.0 dup 1.0; w 3/3
    })
    sf = str(tmp_path)
    pdf.to_parquet(f"{sf}/documents.parquet")
    rows = {r["doc_id"]: r for r in q_repetition_stats(spark, sf).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["top_2gram_frac"] == 2 / 3
    assert rows[1]["dup_2gram_frac"] == 2 / 3
    assert rows[1]["top_word_frac"] == 3 / 4
    assert rows[2]["top_2gram_frac"] == 1.0
    assert rows[2]["dup_2gram_frac"] == 0.0
    assert rows[2]["top_word_frac"] == 0.5
    assert rows[4]["top_2gram_frac"] == 1.0
    assert rows[4]["dup_2gram_frac"] == 1.0
    assert rows[4]["top_word_frac"] == 1.0
