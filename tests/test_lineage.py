"""Checkpoint/resume + per-partition lineage tests (SURVEY.md §2.8:
stage manifests; kill-and-resume semantics; north-rule lineage rows)."""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from posmspark import lineage, synth
from posmspark.pipeline import run_pipeline


def test_stage_writes_manifest_and_resumes(spark, tmp_path):
    out_dir = str(tmp_path / "stage1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    df1 = lineage.run_stage(spark, "s1", "fp-abc", out_dir, build)
    assert df1.count() == 100 and calls["n"] == 1

    man = lineage.read_manifest(out_dir)
    assert man["stage"] == "s1"
    assert man["input_fingerprint"] == "fp-abc"
    assert man["n_rows"] == 100
    assert sum(p["rows"] for p in man["partitions"]) == 100
    assert all("partition_id" in p for p in man["partitions"])

    # same fingerprint -> resume from checkpoint, no recompute
    df2 = lineage.run_stage(spark, "s1", "fp-abc", out_dir, build)
    assert df2.count() == 100 and calls["n"] == 1

    # changed input fingerprint -> recompute
    df3 = lineage.run_stage(spark, "s1", "fp-DIFFERENT", out_dir, build)
    assert df3.count() == 100 and calls["n"] == 2


def test_stage_runs_one_job_and_resume_none(spark, tmp_path, count_jobs):
    """A checkpointed stage runs only its write job: lineage and null
    counts come from the footers just written. Resuming reads the
    schema from the checkpoint's footer, so it runs no job."""
    out_dir = str(tmp_path / "stage_jobs")

    def build():
        return spark.range(0, 1000, 1, 7).withColumn("v", F.col("id") * 2)

    _, n_write = count_jobs(
        lambda: lineage.run_stage(spark, "j", "fp", out_dir, build))
    out, n_resume = count_jobs(
        lambda: lineage.run_stage(spark, "j", "fp", out_dir, build))
    assert (n_write, n_resume) == (1, 0)
    assert lineage.read_manifest(out_dir)["n_partitions"] == 7
    assert out.count() == 1000


def test_footer_lineage_matches_file_groupby(spark, tmp_path):
    """Footer lineage equals the rows each write task put in its files
    (groupBy(input_file_name()) mapped to the part-NNNNN task index),
    with an empty task left out and maxRecordsPerFile splitting every
    other task's output over several files."""
    out_dir = str(tmp_path / "stage_files")

    def build():
        return spark.range(0, 1000, 1, 7).filter(
            F.spark_partition_id() != 3)

    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "40")
    try:
        out = lineage.run_stage(spark, "files", "fp", out_dir, build)
    finally:
        spark.conf.set(key, prev)
    truth: dict[int, int] = {}
    for r in out.groupBy(F.input_file_name().alias("f")).count().collect():
        task = int(re.match(r"part-(\d+)-", os.path.basename(r["f"]))[1])
        truth[task] = truth.get(task, 0) + r["count"]
    parts = lineage.read_manifest(out_dir)["partitions"]
    assert parts == [{"partition_id": t, "rows": n}
                     for t, n in sorted(truth.items())]
    assert [p["partition_id"] for p in parts] == [0, 1, 2, 4, 5, 6]
    assert len(out.inputFiles()) > 2 * len(parts)
    assert sum(p["rows"] for p in parts) == out.count()


def test_stage_readback_matches_inferred_schema(spark, tmp_path):
    """run_stage reads its output back with the schema it wrote (no
    footer-reading job), and a resume with the schema stored in the
    footer: both, nullability and column metadata included, must be
    the one a plain read infers; the lineage rows come back in
    partition order."""
    out_dir = str(tmp_path / "stage_schema")

    def build():
        return spark.range(0, 1000, 1, 7).select(
            F.col("id"),  # non-nullable in the built frame
            F.col("id").cast("double").alias("x", metadata={"unit": "deg"}),
            F.struct(F.col("id").alias("a"),
                     F.lit("s").alias("b")).alias("st"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.when(F.col("id") % 3 == 0, F.col("id")).alias("maybe"),
        )

    out = lineage.run_stage(spark, "schema", "fp", out_dir, build)
    inferred = spark.read.parquet(out_dir).schema
    assert out.schema == inferred
    assert out.count() == 1000
    resumed = lineage.run_stage(spark, "schema", "fp", out_dir, build)
    assert resumed.schema == inferred
    assert resumed.count() == 1000
    man = lineage.read_manifest(out_dir)
    ids = [p["partition_id"] for p in man["partitions"]]
    assert ids == sorted(ids) and man["n_rows"] == 1000
    # st is nested; ts is written as INT96, whose chunks carry no
    # statistics, so both are left out
    assert man["null_counts"] == {"id": 0, "x": 0, "maybe": 666}


def test_killed_stage_recomputes(spark, tmp_path):
    """A stage killed mid-write leaves parquet but no manifest -> the
    rerun recomputes instead of trusting a torn checkpoint."""
    out_dir = str(tmp_path / "stage2")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10)

    lineage.run_stage(spark, "s2", "fp", out_dir, build)
    os.remove(os.path.join(out_dir, lineage.MANIFEST))  # simulate kill
    lineage.run_stage(spark, "s2", "fp", out_dir, build)
    assert calls["n"] == 2
    assert lineage.read_manifest(out_dir)["n_rows"] == 10


def test_pipeline_checkpoint_resume_identical(spark, tmp_path):
    """Full pipeline: second run resumes from checkpoints and the tile
    assignments are identical (north-rule resume invariant)."""
    pages = synth.pages_df(spark, 1000)
    fp = "pages-1000-v1"
    wd = str(tmp_path / "wd")

    out1 = run_pipeline(spark, pages, workdir=wd, input_fingerprint=fp)
    tiles1 = sorted(map(tuple, out1["tiles"].collect()))

    # manifests exist for every stage
    for st in ["stage_ingest", "stage_assign", "stage_tiles"]:
        man = lineage.read_manifest(os.path.join(wd, st))
        assert man is not None and man["input_fingerprint"] == fp

    # resume: stages must be read back, not recomputed — verify by
    # poisoning nothing but checking object identity via manifest mtimes
    mtimes = {
        st: os.path.getmtime(os.path.join(wd, st, lineage.MANIFEST))
        for st in ["stage_ingest", "stage_assign", "stage_tiles"]
    }
    out2 = run_pipeline(spark, pages, workdir=wd, input_fingerprint=fp)
    tiles2 = sorted(map(tuple, out2["tiles"].collect()))
    assert tiles1 == tiles2
    for st, mt in mtimes.items():
        assert os.path.getmtime(os.path.join(wd, st, lineage.MANIFEST)) == mt


def _fingerprint(df) -> str:
    """The whole frame's fingerprint: fingerprint_partitions over one
    constant partition key."""
    fps = lineage.fingerprint_partitions(df.withColumn("_p", F.lit(0)), "_p")
    assert list(fps) == ["0"]
    return fps["0"]


def test_fingerprint_df_order_insensitive(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 3)
    a = _fingerprint(df)
    b = _fingerprint(df.repartition(7))
    assert a == b
    c = _fingerprint(df.withColumn("v", F.col("id") * 4))
    assert a != c


def test_fingerprint_no_pair_cancellation(spark):
    """ADVICE r01: xor alone pair-cancels (A^A=0); swapping two copies
    of row A for two copies of row B must change the fingerprint."""
    a = spark.createDataFrame([(1,), (1,), (3,)], "v int")
    b = spark.createDataFrame([(2,), (2,), (3,)], "v int")
    assert _fingerprint(a) != _fingerprint(b)


def _mk_input(spark, n_keys=16, rows_per_key=20, mutate_key=None):
    df = (
        spark.range(n_keys * rows_per_key)
        .withColumn("country", F.concat(F.lit("C"),
                                        (F.col("id") % n_keys).cast("string")))
        .withColumn("v", F.col("id") * 7)
    )
    if mutate_key is not None:
        df = df.withColumn(
            "v",
            F.when(F.col("country") == mutate_key, F.col("v") + 1)
            .otherwise(F.col("v")),
        )
    return df


def _part_files(out_dir, key):
    d = os.path.join(out_dir, f"country={key}")
    if not os.path.isdir(d):
        return {}
    return {f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")}


def test_incremental_recomputes_only_changed_partition(spark, tmp_path):
    """VERDICT r01 item 5: mutate 1 of 16 input partitions -> exactly
    that output partition recomputes; the other 15 keep their files."""
    out_dir = str(tmp_path / "inc")
    builds = []

    def build(df):
        builds.append(df)
        return df.groupBy("country").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))

    lineage.run_stage_incremental(
        spark, "inc", _mk_input(spark), out_dir, build, "country")
    man1 = lineage.read_manifest(out_dir)
    assert man1["n_partitions"] == 16 and len(man1["last_recomputed"]) == 16

    before = {f"C{i}": _part_files(out_dir, f"C{i}") for i in range(16)}

    out = lineage.run_stage_incremental(
        spark, "inc", _mk_input(spark, mutate_key="C5"), out_dir, build,
        "country")
    man2 = lineage.read_manifest(out_dir)
    assert man2["last_recomputed"] == ["C5"]
    assert man2["runs"] == 2
    # the rebuild saw ONLY the changed key's rows
    assert builds[-1].select("country").distinct().collect()[0][0] == "C5"
    # untouched partitions keep their exact files; C5 was rewritten
    after = {f"C{i}": _part_files(out_dir, f"C{i}") for i in range(16)}
    for i in range(16):
        k = f"C{i}"
        if k == "C5":
            assert after[k] != before[k]
        else:
            assert after[k] == before[k], f"{k} was rewritten"
    # output values correct end-to-end
    row = {r["country"]: r["sv"] for r in out.collect()}
    assert row["C5"] == sum(i * 7 + 1 for i in range(5, 320, 16))
    assert row["C0"] == sum(i * 7 for i in range(0, 320, 16))


def test_incremental_manifest_rows_match_groupby(spark, tmp_path):
    """Incremental lineage comes from the footers under each
    <col>=<key>/ directory: after a mutate-and-rerun that rewrites one
    partition, its rows, keys and order equal a groupBy of the
    output."""
    out_dir = str(tmp_path / "inc_rows")

    def build(df):
        return df.filter(F.col("v") % 3 != 0)

    lineage.run_stage_incremental(
        spark, "rows", _mk_input(spark, n_keys=5), out_dir, build, "country")
    out = lineage.run_stage_incremental(
        spark, "rows", _mk_input(spark, n_keys=5, mutate_key="C2"), out_dir,
        build, "country")
    man = lineage.read_manifest(out_dir)
    assert man["last_recomputed"] == ["C2"]
    want = [{"partition_key": r["country"], "rows": r["count"]}
            for r in out.groupBy("country").count().orderBy("country")
            .collect()]
    assert man["partitions"] == want
    assert man["n_rows"] == out.count() == sum(p["rows"] for p in want)
    assert man["null_counts"] == {"id": 0, "v": 0}


def test_incremental_removed_and_empty_keys(spark, tmp_path):
    """Removed input keys drop their output partition; a changed key
    whose rebuild emits 0 rows also drops it."""
    out_dir = str(tmp_path / "inc2")

    def build(df):
        return df.filter(F.col("v") >= 0).groupBy("country").agg(
            F.count(F.lit(1)).alias("n"))

    lineage.run_stage_incremental(
        spark, "inc2", _mk_input(spark, n_keys=4), out_dir, build, "country")
    assert lineage.read_manifest(out_dir)["n_partitions"] == 4

    # drop key C3 entirely from the input
    smaller = _mk_input(spark, n_keys=4).filter(F.col("country") != "C3")
    out = lineage.run_stage_incremental(
        spark, "inc2", smaller, out_dir, build, "country")
    man = lineage.read_manifest(out_dir)
    assert man["last_removed"] == ["C3"]
    assert not os.path.isdir(os.path.join(out_dir, "country=C3"))
    assert {r["country"] for r in out.collect()} == {"C0", "C1", "C2"}

    # mutate C2 so its rows all fail the build filter -> 0 output rows
    poisoned = smaller.withColumn(
        "v", F.when(F.col("country") == "C2", F.lit(-1)).otherwise(F.col("v")))
    out = lineage.run_stage_incremental(
        spark, "inc2", poisoned, out_dir, build, "country")
    man = lineage.read_manifest(out_dir)
    assert man["last_recomputed"] == ["C2"]
    assert not os.path.isdir(os.path.join(out_dir, "country=C2"))
    assert {r["country"] for r in out.collect()} == {"C0", "C1"}


def test_manifest_df_surface(spark, tmp_path):
    out_dir = str(tmp_path / "inc3")

    def build(df):
        return df.groupBy("country").agg(F.count(F.lit(1)).alias("n"))

    lineage.run_stage_incremental(
        spark, "inc3", _mk_input(spark, n_keys=4), out_dir, build, "country")
    lineage.run_stage_incremental(
        spark, "inc3", _mk_input(spark, n_keys=4, mutate_key="C1"), out_dir,
        build, "country")
    rows = {r["partition_key"]: r
            for r in lineage.manifest_df(spark, out_dir).collect()}
    assert set(rows) == {"C0", "C1", "C2", "C3"}
    assert rows["C1"]["recomputed_last_run"] is True
    assert rows["C0"]["recomputed_last_run"] is False
    assert all(r["rows"] == 1 for r in rows.values())
    assert all(r["input_fingerprint"] for r in rows.values())


def test_incremental_path_input_file_fingerprints(spark, tmp_path):
    """Directory input mode: fingerprints come from file metadata (no
    data scan); rewriting one partition's files recomputes only it."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _mk_input(spark, n_keys=4).write.partitionBy("country").parquet(in_dir)

    def build(df):
        return df.groupBy("country").agg(F.sum("v").alias("sv"))

    lineage.run_stage_incremental(
        spark, "pinc", in_dir, out_dir, build, "country")
    man1 = lineage.read_manifest(out_dir)
    assert len(man1["last_recomputed"]) == 4

    # no-op rerun: nothing recomputes
    lineage.run_stage_incremental(
        spark, "pinc", in_dir, out_dir, build, "country")
    assert lineage.read_manifest(out_dir)["last_recomputed"] == []

    # rewrite ONLY partition C2's files (same values -> metadata change
    # is the signal, like an Iceberg snapshot replacing files)
    (_mk_input(spark, n_keys=4).filter(F.col("country") == "C2")
     .write.mode("overwrite").parquet(in_dir + "/country=C2"))
    lineage.run_stage_incremental(
        spark, "pinc", in_dir, out_dir, build, "country")
    man3 = lineage.read_manifest(out_dir)
    assert man3["last_recomputed"] == ["C2"]


def test_incremental_rebuild_scan_is_partition_pruned(spark, tmp_path):
    """The changed-keys rebuild must reach the scan as a partition
    filter (only changed input partitions are READ, not just rebuilt)."""
    in_dir = str(tmp_path / "in2")
    out_dir = str(tmp_path / "out2")
    _mk_input(spark, n_keys=4).write.partitionBy("country").parquet(in_dir)

    plans = []

    def build(df):
        plans.append(df._jdf.queryExecution().sparkPlan().toString())
        return df.groupBy("country").agg(F.sum("v").alias("sv"))

    lineage.run_stage_incremental(
        spark, "pp", in_dir, out_dir, build, "country")
    (_mk_input(spark, n_keys=4).filter(F.col("country") == "C1")
     .write.mode("overwrite").parquet(in_dir + "/country=C1"))
    lineage.run_stage_incremental(
        spark, "pp", in_dir, out_dir, build, "country")
    scan = plans[-1]
    assert "PartitionFilters" in scan
    seg = scan.split("PartitionFilters")[1][:200]
    assert "C1" in seg, seg


def test_incremental_rejects_unsafe_partition_keys(spark, tmp_path):
    """Keys needing hive path escaping would desync dir names from raw
    key strings (silent data loss) — must be refused."""
    df = spark.createDataFrame([("a:b", 1), ("ok", 2)], "country string, v int")

    def build(d):
        return d

    with pytest.raises(ValueError, match="escap"):
        lineage.run_stage_incremental(
            spark, "bad", df, str(tmp_path / "o"), build, "country")


def test_incremental_null_partition_key_valueerror(spark, tmp_path):
    """ADVICE r02: a NULL partition key must raise the intended
    ValueError (unsupported hive default partition), not TypeError
    from _SAFE_KEY.fullmatch(None)."""
    from posmspark import lineage

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, k string")
    with pytest.raises(ValueError, match="hive path escaping"):
        lineage.run_stage_incremental(
            spark, "s", df, str(tmp_path / "out"), lambda d: d, "k")


def test_incremental_random_mutation_sequence(spark, tmp_path):
    """Fuzz r03 (bounded): random add/modify/delete partition mutations
    across reruns — the incremental output must equal a from-scratch
    build after every step (5-seed external run clean; 2 pinned)."""
    import shutil

    import numpy as np
    import pandas as pd

    for seed in (2, 4):
        rng = np.random.default_rng(seed)
        in_dir = str(tmp_path / f"in{seed}")
        out_dir = str(tmp_path / f"out{seed}")
        state = {}
        ids = iter(range(100000))

        def write_partition(key):
            pdf = pd.DataFrame(state[key], columns=["id", "val"])
            pdf["k"] = key
            spark.createDataFrame(pdf).coalesce(1).write.mode(
                "overwrite").parquet(os.path.join(in_dir, f"k={key}"))

        def build(df):
            return df.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("val").alias("sval"))

        for key in "abc":
            state[key] = [(next(ids), int(rng.integers(0, 50)))
                          for _ in range(int(rng.integers(2, 6)))]
            write_partition(key)

        for step in range(5):
            lineage.run_stage_incremental(
                spark, "agg", in_dir, out_dir, build, "k")
            got = {r["k"]: (r["n"], r["sval"])
                   for r in spark.read.parquet(out_dir).collect()}
            want = {k: (len(v), sum(x[1] for x in v))
                    for k, v in state.items()}
            assert got == want, (seed, step)
            op = rng.choice(["add", "modify", "delete", "noop"])
            if op == "add":
                key = f"n{seed}{step}"
                state[key] = [(next(ids), int(rng.integers(0, 50)))]
                write_partition(key)
            elif op == "modify" and state:
                key = rng.choice(sorted(state))
                state[key].append((next(ids), int(rng.integers(0, 50))))
                write_partition(key)
            elif op == "delete" and len(state) > 1:
                key = rng.choice(sorted(state))
                del state[key]
                shutil.rmtree(os.path.join(in_dir, f"k={key}"))
