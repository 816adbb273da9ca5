"""The benchmark's workloads: inputs, set-up, one measured job, and the
traced run that splits a job into layers.

Every job calls the shipped entry points (``pipeline.run_pipeline``,
``relops.QUERIES``) and returns the digest of its output, which the
runner compares with the input's reference.

A traced run times cumulative layer prefixes: prefix k runs the
workload's plan up to and including layer k and writes it to Spark's
noop sink, projected to the columns layer k+1 reads, so the sink does
not materialize columns the full plan prunes. A layer's self time is
prefix k minus prefix k-1; the last prefix is the full job itself.
Every prefix call runs under its own job label, and the layer counters
come from the event log (see eventlog.py).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.eventlog import EventLog
from perfbench.inputs import Inputs, dir_bytes, digests_match, pair_digest, \
    tile_digest

PAGES = 45_000
DOCUMENTS = 9_000


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def labelled(spark: SparkSession, label: str):
    """Run the block's Spark jobs under `label`, then restore the
    enclosing label."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(outer)


def timed(spark: SparkSession, label: str, fn):
    """(seconds, result) of fn() run under `label`."""
    with labelled(spark, label):
        t0 = time.monotonic()
        out = fn()
        return time.monotonic() - t0, out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Trace:
    """What a traced run measured in Python: seconds per label
    (one entry per repetition), counts, and the output checks."""

    def __init__(self):
        self.secs: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}
        self.checks: list[bool] = []
        self.notes: list[str] = []

    def add(self, key: str, seconds: float) -> None:
        self.secs.setdefault(key, []).append(seconds)

    def med(self, key: str) -> float:
        return median(self.secs.get(key, []))

    def self_times(self, layers: list[str]) -> dict[str, float]:
        """Median per-repetition difference of consecutive prefixes."""
        out, prev = {}, None
        for layer in layers:
            cur = self.secs[layer]
            out[layer] = median([c - p for c, p in zip(cur, prev)]
                                if prev else cur)
            prev = cur
        return out


def _spatial_counters(spark, pages: DataFrame) -> dict:
    """Row counters of the ingest layer and of the points it hands to
    the PIP join, from a labelled job that no layer time includes."""
    from posmspark import textx

    with labelled(spark, "counters"):
        r = textx.with_ingest_jvm(pages).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("text_ok")).cast("long")).alias("routed"),
            F.sum((F.col("text_ok") & F.col("lat").isNull())
                  .cast("long")).alias("nogeo"),
            F.sum((F.col("text_ok") & F.col("lat").isNotNull())
                  .cast("long")).alias("points"),
        ).collect()[0]
    return {
        "textx.rows_in": r["rows"],
        "textx.routed_out": r["routed"] or 0,
        "textx.geotag_null": r["nogeo"] or 0,
        "joins.rows_in": r["points"] or 0,
    }


def _matched(values: dict, matched: int) -> None:
    values["joins.matched"] = matched
    values["joins.match_frac"] = matched / max(values["joins.rows_in"], 1)


class Workload:
    name = ""

    def __init__(self, seed: int):
        self.seed = seed
        self.meta: dict = {}

    def prepare(self, inputs: Inputs) -> None:
        """Make or reuse this seed's input (never timed)."""
        raise NotImplementedError

    @property
    def rows(self) -> int:
        return self.meta["rows"]

    def setup(self, spark: SparkSession) -> None:
        """Workload set-up after get_spark: prepared state + warm-up."""
        raise NotImplementedError

    def job(self, spark: SparkSession) -> dict:
        """One measured job: {'wall_s', 'digest', ...}."""
        raise NotImplementedError

    def check(self, digest: dict) -> bool:
        return digests_match(digest, self.meta["expected"])

    def trace(self, spark: SparkSession, reps: int) -> Trace:
        raise NotImplementedError

    def layer_metrics(self, tr: Trace, log: EventLog) -> dict[str, float]:
        raise NotImplementedError


class SpatialCheckpoint(Workload):
    """The flagship pipeline, checkpointed: a write pass into a fresh
    work directory, finished by the tile aggregate, then the identical
    call, which resumes from the stage manifests."""

    name = "spatial_checkpoint"
    STAGES = ("ingest", "assign", "tiles")

    def prepare(self, inputs: Inputs) -> None:
        self.meta = inputs.pages(PAGES, self.seed)

    def _passes(self, spark, pages, write_hook=contextlib.nullcontext,
                label: str = "") -> dict:
        from posmspark import pipeline

        wd = os.path.join(os.path.dirname(self.meta["data"]), "ckpt")
        shutil.rmtree(wd, ignore_errors=True)

        def run():
            return tile_digest(pipeline.run_pipeline(
                spark, pages, workdir=wd,
                input_fingerprint=f"perfbench-seed{self.seed}")["tiles"])

        try:
            with write_hook():
                wall, first = timed(spark, f"lineage.write{label}", run)
            resume, again = timed(spark, f"lineage.resume{label}", run)
            return {"wall_s": wall, "resume_s": resume, "digest": first,
                    "resumed_same": first == again,
                    "bytes_written": dir_bytes(wd),
                    "manifests": _manifests(wd, self.STAGES)}
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    def setup(self, spark: SparkSession) -> None:
        """default_prepared() (timed), then the in-memory pipeline over
        the input's warm-up slice. The pipeline memoizes the prepared
        boundaries for the life of the process; the memo is emptied
        first, so every set-up prepares them as a fresh process does."""
        from posmspark import pipeline

        pipeline._PREPARED_CACHE.clear()
        t0 = time.monotonic()
        pipeline.default_prepared()
        self.prepare_s = time.monotonic() - t0
        warm = spark.read.parquet(*self.meta["warm"])
        tile_digest(pipeline.run_pipeline(spark, warm)["tiles"])
        self.pages = spark.read.parquet(self.meta["data"])

    def job(self, spark: SparkSession) -> dict:
        res = self._passes(spark, self.pages)
        if not res["resumed_same"]:
            res["digest"] = {"resume": "differs from the write pass"}
        return res

    def trace(self, spark: SparkSession, reps: int) -> Trace:
        from posmspark import lineage

        tr = Trace()
        real_stage, real_lineage = lineage.run_stage, lineage.partition_lineage

        @contextlib.contextmanager
        def spans(r: int):
            # run_stage looks partition_lineage up in its module, so
            # replacing both module attributes wraps every call the
            # pipeline makes, inner span included
            def run_stage(spark_, stage, *a, **kw):
                secs, out = timed(spark_, f"lineage.stage.{stage}#{r}",
                                  lambda: real_stage(spark_, stage, *a, **kw))
                tr.add(f"stage.{stage}", secs)
                return out

            def partition_lineage(df):
                secs, out = timed(df.sparkSession,
                                  f"lineage.partition_lineage#{r}",
                                  lambda: real_lineage(df))
                tr.add("partition_lineage", secs)
                return out

            lineage.run_stage = run_stage
            lineage.partition_lineage = partition_lineage
            try:
                yield
            finally:
                lineage.run_stage = real_stage
                lineage.partition_lineage = real_lineage

        for r in range(reps):
            res = self._passes(spark, self.pages, lambda: spans(r), f"#{r}")
            tr.add("full", res["wall_s"])
            tr.add("resume", res["resume_s"])
            tr.checks.append(res["resumed_same"] and self.check(res["digest"]))
            for s in self.STAGES:
                tr.add(f"stage_ms.{s}", res["manifests"][s]["wall_ms"])
        tr.values.update(_spatial_counters(spark, self.pages))
        _matched(tr.values, res["manifests"]["assign"]["n_rows"])
        tr.values["lineage.bytes_written"] = res["bytes_written"]
        return tr

    def layer_metrics(self, tr: Trace, log: EventLog) -> dict[str, float]:
        # each stage reads the previous checkpoint, so a layer's counters
        # are those of the stage that carries it, with no subtraction;
        # its self time is the stage minus the stage's lineage count job
        n = len(self.STAGES)
        pl = tr.secs["partition_lineage"]
        own = {s: median([tr.secs[f"stage.{s}"][r] - pl[r * n + i]
                          for r in range(len(tr.secs["full"]))])
               for i, s in enumerate(self.STAGES)}
        st = {s: log.totals(f"lineage.stage.{s}#0") for s in self.STAGES}
        skew = log.reduce_stage("lineage.stage.tiles#0")
        write_labels = {"lineage.partition_lineage#0",
                        *(f"lineage.stage.{s}#0" for s in self.STAGES)}
        m = dict(tr.values)
        m.update({
            "textx.self_s": own["ingest"],
            "textx.cpu_s": st["ingest"]["cpu_ns"] / 1e9,
            # the parquet files the ingest layer scans; Spark's own
            # input.bytesRead misses the column reads that parquet
            # issues from its own threads
            "textx.input_bytes": self.meta["bytes"],
            "joins.self_s": own["assign"],
            "joins.cpu_s": st["assign"]["cpu_ns"] / 1e9,
            "joins.python_bytes_sent": st["assign"]["python_bytes_sent"],
            "joins.python_bytes_returned": st["assign"]["python_bytes_returned"],
            "joins.python_run_s": st["assign"]["python_run_ms"] / 1e3,
            "tiles.self_s": own["tiles"],
            "tiles.shuffle_write_bytes": st["tiles"]["shuffle_write_bytes"],
            "tiles.shuffle_records": st["tiles"]["shuffle_write_records"],
            "tiles.spill_bytes": st["tiles"]["spill_bytes"],
            "tiles.task_skew": skew.task_skew if skew else 1.0,
            "lineage.jobs": sum(log.jobs(lbl) for lbl in write_labels),
            "lineage.partition_lineage_s": median(
                [sum(pl[r * n:(r + 1) * n]) for r in range(len(pl) // n)]),
            "lineage.resume_s": tr.med("resume"),
            "lineage.write_amp": tr.values["lineage.bytes_written"]
            / self.meta["bytes"],
            "trace.self_sum_s": sum(own.values()),
        })
        for s in self.STAGES:
            m[f"lineage.stage_ms.{s}"] = tr.med(f"stage_ms.{s}")
        return m


def _manifests(wd: str, stages) -> dict:
    from posmspark import lineage

    return {s: lineage.read_manifest(os.path.join(wd, f"stage_{s}"))
            for s in stages}


class NearDup(Workload):
    """relops' minhash_verified_dups query over seeded documents."""

    name = "near_dup"
    QUERY = "minhash_verified_dups"
    LAYERS = ("shingles", "signatures", "candidates", "verify")

    def prepare(self, inputs: Inputs) -> None:
        self.meta = inputs.documents(DOCUMENTS, self.seed)

    def _run(self, spark, sf: str) -> dict:
        from posmspark import session
        from posmspark.relops import QUERIES

        # the query stages its shingle table in a session-wide cache;
        # drop it so every run pays for the whole chain, as a one-off
        # query does
        session.release_staged()
        return pair_digest(QUERIES[self.QUERY][0](spark, sf).collect())

    def setup(self, spark: SparkSession) -> None:
        self._run(spark, self.meta["warm"])

    def job(self, spark: SparkSession) -> dict:
        t0 = time.monotonic()
        digest = self._run(spark, self.meta["sf"])
        return {"wall_s": time.monotonic() - t0, "digest": digest}

    def _chain(self, spread: DataFrame) -> dict[str, DataFrame]:
        """The query's plan up to each layer: the same calls, with the
        same arguments, that relops.q_minhash_verified_dups makes,
        including the staged (persisted) shingle table. Each call starts
        from an empty stage cache, so each prefix pays for the persist
        as the query does."""
        from posmspark import dedup, session
        from posmspark.relops import NGRAM_MAX_SHINGLE_FREQ

        session.release_staged()
        sh = session.stage_persist(dedup.shingles(spread, n=3))
        sigs = dedup.minhash_signatures(
            sh, n_bands=8, max_shingle_freq=NGRAM_MAX_SHINGLE_FREQ,
            portable_hash=True)
        return {"shingles": sh.select("doc_id", "shingle"),
                "signatures": sigs,
                "candidates": dedup.lsh_candidate_pairs(sigs)}

    def trace(self, spark: SparkSession, reps: int) -> Trace:
        from posmspark import session

        docs = spark.read.parquet(os.path.join(self.meta["sf"], "documents.parquet"))
        tr = Trace()
        for r in range(reps):
            secs, spread = timed(spark, f"session.spread_input#{r}",
                                 lambda: session.spread_input(docs))
            tr.add("session.spread_input", secs)
            for layer in self.LAYERS[:-1]:
                prefix = self._chain(spread)[layer]
                tr.add(layer, timed(spark, f"{layer}#{r}",
                                    lambda: noop(prefix))[0])
            # the last prefix is the shipped query itself
            secs, digest = timed(spark, f"verify#{r}",
                                 lambda: self._run(spark, self.meta["sf"]))
            tr.add("verify", secs)
            tr.checks.append(self.check(digest))
        tr.notes.append("spread_input repartitioned the input"
                        if spread is not docs else
                        "spread_input left the input as scanned")
        with labelled(spark, "counters"):
            tr.values.update({f"dedup.{layer}.rows_out": df.count()
                              for layer, df in self._chain(spread).items()})
            tr.values["dedup.verify.rows_out"] = digest["n_pairs"]
        session.release_staged()
        tr.add("full", tr.med("verify"))
        return tr

    def layer_metrics(self, tr: Trace, log: EventLog) -> dict[str, float]:
        self_s = tr.self_times(list(self.LAYERS))
        m = dict(tr.values)
        m["session.spread_input_s"] = tr.med("session.spread_input")
        prev, prev_stages = None, 1
        for layer in self.LAYERS:
            tot = log.totals(f"{layer}#0")
            skew = log.reduce_stage(f"{layer}#0", skip=prev_stages - 1)
            m[f"dedup.{layer}.self_s"] = self_s[layer]
            for c in ("shuffle_write_bytes", "spill_bytes"):
                m[f"dedup.{layer}.{c}"] = tot[c] - (prev[c] if prev else 0)
            m[f"dedup.{layer}.task_skew"] = skew.task_skew if skew else 1.0
            prev, prev_stages = tot, len(log.stages_of(f"{layer}#0"))
        m["trace.self_sum_s"] = sum(self_s.values())
        m[f"relops.{self.QUERY}.wall_s"] = tr.med("full")
        m["dedup.verify_yield"] = (m["dedup.verify.rows_out"]
                                   / max(m["dedup.candidates.rows_out"], 1))
        return m


WORKLOADS = {w.name: w for w in (SpatialCheckpoint, NearDup)}
