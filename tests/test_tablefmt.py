"""Snapshot table-format tests: commit/append/overwrite-partitions,
time travel, rollback, optimistic-concurrency conflict, per-file
lineage row counts."""

import os

import pytest
from pyspark.sql import functions as F

from posmspark import tablefmt


def _df(spark, lo, hi, key_mod=4):
    return (
        spark.range(lo, hi)
        .withColumn("country", F.concat(F.lit("C"),
                                        (F.col("id") % key_mod).cast("string")))
        .withColumn("v", F.col("id") * 3)
    )


def test_commit_append_time_travel_rollback(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = tablefmt.commit_overwrite(_df(spark, 0, 100), t,
                                   partition_by=["country"])
    assert s1 == 1
    s2 = tablefmt.commit_append(_df(spark, 100, 150), t,
                                partition_by=["country"])
    assert s2 == 2

    assert tablefmt.read_table(spark, t).count() == 150
    assert tablefmt.read_table(spark, t, snapshot_id=1).count() == 100

    hist = tablefmt.snapshots(t)
    assert [h["snapshot_id"] for h in hist] == [1, 2]
    assert [h["operation"] for h in hist] == ["overwrite", "append"]
    assert hist[1]["parent_id"] == 1
    assert hist[1]["n_rows"] == 150  # footer counts, no scan

    tablefmt.rollback(t, 1)
    assert tablefmt.current_snapshot_id(t) == 1
    assert tablefmt.read_table(spark, t).count() == 100
    # the rolled-past snapshot remains readable
    assert tablefmt.read_table(spark, t, snapshot_id=2).count() == 150


def test_overwrite_partitions_replaces_only_touched(spark, tmp_path):
    t = str(tmp_path / "tbl2")
    tablefmt.commit_overwrite(_df(spark, 0, 100), t,
                              partition_by=["country"])
    # rewrite only C1 with different values
    patch = _df(spark, 0, 100).filter(F.col("country") == "C1") \
        .withColumn("v", F.col("v") + 1000)
    sid = tablefmt.commit_overwrite_partitions(patch, t, ["country"])
    out = tablefmt.read_table(spark, t, sid)
    assert out.count() == 100
    got = {r["country"]: r["s"] for r in
           out.groupBy("country").agg(F.sum("v").alias("s")).collect()}
    base = {r["country"]: r["s"] for r in
            _df(spark, 0, 100).groupBy("country")
            .agg(F.sum("v").alias("s")).collect()}
    assert got["C0"] == base["C0"] and got["C2"] == base["C2"]
    assert got["C1"] == base["C1"] + 1000 * 25
    # untouched partitions reference the ORIGINAL snapshot's files
    meta = tablefmt.read_snapshot_meta(t, sid)
    c0_files = [f for f in meta["files"] if f["partition"] == {"country": "C0"}]
    assert all(f["path"].startswith(os.path.join("data", "s00001"))
               for f in c0_files)
    c1_files = [f for f in meta["files"] if f["partition"] == {"country": "C1"}]
    assert all(f["path"].startswith(os.path.join("data", "s00002"))
               for f in c1_files)


def test_commit_conflict_detected(spark, tmp_path):
    t = str(tmp_path / "tbl3")
    tablefmt.commit_overwrite(_df(spark, 0, 10), t)
    # simulate a racing writer: bump VERSION behind this commit's back
    df = _df(spark, 10, 20)
    parent = tablefmt.current_snapshot_id(t)
    data_dir, files = tablefmt._write_data(df, t, parent + 1, None)
    rel = os.path.relpath(data_dir, t)
    for f in files:
        f["path"] = os.path.join(rel, f["path"])
    with open(tablefmt._version_path(t), "w") as fh:
        fh.write("99")
    with pytest.raises(tablefmt.CommitConflict):
        tablefmt._commit(t, "append", files, parent, parent + 1)


def test_commit_lock_blocks_concurrent_writer(spark, tmp_path):
    t = str(tmp_path / "tbl3b")
    tablefmt.commit_overwrite(_df(spark, 0, 10), t)
    lock = os.path.join(t, "COMMIT_LOCK")
    with open(lock, "w"):
        pass
    try:
        with pytest.raises(tablefmt.CommitConflict, match="in flight"):
            tablefmt.commit_append(_df(spark, 10, 20), t)
    finally:
        os.remove(lock)
    # after the lock clears the commit goes through
    assert tablefmt.commit_append(_df(spark, 10, 20), t) == 2


def test_commit_after_rollback_preserves_history(spark, tmp_path):
    """Review regression: committing after rollback() must take a FRESH
    snapshot id — rolled-past snapshots stay readable, nothing reused."""
    t = str(tmp_path / "tbl3c")
    tablefmt.commit_overwrite(_df(spark, 0, 100), t)
    tablefmt.commit_append(_df(spark, 100, 150), t)
    tablefmt.rollback(t, 1)
    s3 = tablefmt.commit_append(_df(spark, 150, 160), t)
    assert s3 == 3  # not 2
    meta = tablefmt.read_snapshot_meta(t, 3)
    assert meta["parent_id"] == 1
    assert tablefmt.read_table(spark, t, snapshot_id=2).count() == 150
    assert tablefmt.read_table(spark, t, snapshot_id=3).count() == 110
    assert [s["snapshot_id"] for s in tablefmt.snapshots(t)] == [1, 2, 3]


def test_concurrent_committer_cannot_clobber_winner(spark, tmp_path):
    """ADVICE r02 (medium): two same-parent committers used to compute
    the same seq and stage data into the SAME data/s<seq> dir — the
    loser's overwrite destroyed the winner's already-committed files
    before CommitConflict was raised. Staging dirs are now writer-
    unique, so the loser only leaves an orphan dir behind.

    Deterministic interleave of the exact race: A reads parent + stages
    its data (pre-lock work), B commits fully, A's commit then fails —
    and B's committed files must all still exist and read back."""
    t = str(tmp_path / "tbl")
    tablefmt.commit_overwrite(_df(spark, 0, 40), t, partition_by=["country"])

    # committer A: pre-lock work (parent read, seq alloc, data staged)
    parent_a = tablefmt.current_snapshot_id(t)
    seq_a = tablefmt._next_seq(t)
    data_dir_a, files_a = tablefmt._write_data(
        _df(spark, 100, 140), t, seq_a, ["country"])
    rel = os.path.relpath(data_dir_a, t)
    for f in files_a:
        f["path"] = os.path.join(rel, f["path"])

    # committer B lands first (same parent, same seq hint)
    sb = tablefmt.commit_overwrite(_df(spark, 200, 260), t,
                                   partition_by=["country"])
    winner_files = [
        os.path.join(t, f["path"])
        for f in tablefmt.read_snapshot_meta(t, sb)["files"]
    ]
    assert all(os.path.exists(p) for p in winner_files)

    # A's commit must conflict — and must NOT have touched B's files
    with pytest.raises(tablefmt.CommitConflict):
        tablefmt._commit(t, "overwrite", files_a, parent_a, seq_a)
    assert all(os.path.exists(p) for p in winner_files)
    assert tablefmt.read_table(spark, t).count() == 60


def test_partition_overwrite_rejects_unpartitioned_base(spark, tmp_path):
    """Fuzz r03: rows of touched partitions hidden inside an earlier
    UNPARTITIONED commit's files silently survived a dynamic partition
    overwrite (resurrected data). Mixed layouts now raise."""
    d = str(tmp_path / "tbl")
    tablefmt.commit_append(
        spark.createDataFrame([("a", 1), ("c", 2)], "k string, v long"), d)
    with pytest.raises(ValueError, match="partitioned by"):
        tablefmt.commit_overwrite_partitions(
            spark.createDataFrame([("c", 9)], "k string, v long"), d, ["k"])


def test_partition_overwrite_rejects_superset_partitioned_base(
        spark, tmp_path):
    """ADVICE r03: base files partitioned by a SUPERSET (e.g. [k, j])
    of a later overwrite's partition_by ([k]) never tuple-match the
    touched set, so stale files for overwritten k values would silently
    carry over — the same row-resurrection class as the unpartitioned
    case. Mismatched key sets in either direction must raise."""
    d = str(tmp_path / "tbl")
    tablefmt.commit_append(
        spark.createDataFrame([("a", "x", 1), ("c", "y", 2)],
                              "k string, j string, v long"),
        d, partition_by=["k", "j"])
    with pytest.raises(ValueError, match="partitioned by"):
        tablefmt.commit_overwrite_partitions(
            spark.createDataFrame([("c", "y", 9)],
                                  "k string, j string, v long"), d, ["k"])
    # matching key set still commits
    sid = tablefmt.commit_overwrite_partitions(
        spark.createDataFrame([("c", "y", 9)],
                              "k string, j string, v long"), d, ["k", "j"])
    got = sorted(map(tuple, tablefmt.read_table(spark, d)
                     .select("k", "j", "v").collect()))
    assert got == [("a", "x", 1), ("c", "y", 9)] and sid >= 2


def test_random_op_sequence_matches_replay(spark, tmp_path):
    """Fuzz r03 (bounded): random append / overwrite /
    partition-overwrite / rollback sequences — HEAD and EVERY
    historical snapshot must equal a pandas replay of the op log, and
    snapshot ids must stay strictly increasing."""
    import numpy as np
    import pandas as pd

    def canon(pdf):
        return sorted(map(tuple, pdf[["k", "v"]].itertuples(index=False)))

    for seed in (0, 2):
        rng = np.random.default_rng(seed)
        d = str(tmp_path / f"tbl{seed}")
        state = pd.DataFrame({"k": pd.Series(dtype=str),
                              "v": pd.Series(dtype="int64")})
        history = {}
        for _step in range(8):
            op = rng.choice(
                ["append", "overwrite", "overwrite_parts", "rollback"],
                p=[0.4, 0.2, 0.3, 0.1])
            if op == "rollback":
                if not history:
                    continue
                target = int(rng.choice(sorted(history)))
                tablefmt.rollback(d, target)
                state = history[target].copy()
                continue
            n = int(rng.integers(1, 5))
            new = pd.DataFrame({
                "k": rng.choice(list("abcd"), n),
                "v": rng.integers(0, 100, n).astype("int64")})
            df = spark.createDataFrame(new)
            if op == "append":
                sid = tablefmt.commit_append(df, d, partition_by=["k"])
                state = pd.concat([state, new], ignore_index=True)
            elif op == "overwrite":
                sid = tablefmt.commit_overwrite(df, d, partition_by=["k"])
                state = new.copy()
            else:
                sid = tablefmt.commit_overwrite_partitions(df, d, ["k"])
                state = pd.concat(
                    [state[~state.k.isin(set(new.k))], new],
                    ignore_index=True)
            history[sid] = state.copy()
            ids = [s["snapshot_id"] for s in tablefmt.snapshots(d)]
            assert ids == sorted(ids) and len(set(ids)) == len(ids)
        assert canon(tablefmt.read_table(spark, d).toPandas()) == \
            canon(state), seed
        for sid, st in history.items():
            assert canon(tablefmt.read_table(
                spark, d, snapshot_id=sid).toPandas()) == canon(st), (seed,
                                                                      sid)
