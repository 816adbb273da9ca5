"""Structured Streaming ingest for the pages table.

The reference's temporal story is batch re-runs over osmupdate diffs
(/root/reference/POSMmanagement/osmdata.py:87-134, auto_update_osm.sh);
the engine's primary resume mechanism is therefore checkpointed batch
stages (lineage.py). This module adds the genuinely-streaming variant
for continuous crawl ingestion: readStream -> the SAME transformation
chain (extract -> geocode -> cell -> broadcast PIP) -> windowed tile
aggregation with watermarked late-data handling.

The batch and streaming paths share one transformation function
(transform_pages), so semantics are tested once in batch (the oracle
suite) and the streaming test only asserts plumbing: schema, watermark,
output mode, incremental tile updates via foreachBatch.

Every micro-batch runs in the JVM: the ingest is a codegen'd
expression chain, and the PIP join is a broadcast hash join to the
prepared index table plus one Project (joins.pip_join), stateless and
shuffle-free. The index DataFrame is memoized per session, so its
Arrow table converts once per session; each batch broadcasts it and
starts no Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posmspark import textx
from posmspark.joins import PreparedBoundaries, pip_join


def transform_pages(pages: DataFrame, prepared: PreparedBoundaries,
                    spark: SparkSession) -> DataFrame:
    """Shared batch/streaming transformation: pages -> assigned points.
    Identical semantics to pipeline.run_pipeline's ingest+assign stages.
    """
    ok = textx.with_ingest_jvm(pages).filter(F.col("text_ok")).drop("text_ok")
    pts = ok.filter(F.col("lat").isNotNull()).select(
        "url", "warc_ts", "lang", "lon", "lat", "cell"
    )
    return pip_join(pts, prepared, spark, keep_unmatched=False)


def streaming_tile_counts(pages_stream: DataFrame,
                          prepared: PreparedBoundaries,
                          spark: SparkSession,
                          watermark: str = "10 minutes",
                          window: str = "5 minutes") -> DataFrame:
    """Watermarked windowed tile aggregation over a pages stream.

    Late pages beyond the watermark are dropped (state is bounded);
    output rows: (window, cell, osm_id_l0, doc_count). Broadcast PIP
    keeps the stream map-only until this single stateful aggregation.
    """
    assigned = transform_pages(pages_stream, prepared, spark)
    return (
        assigned.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("win"),
            "cell", "osm_id_l0",
        )
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cell", "osm_id_l0", "doc_count",
        )
    )


DEDUP_OUT_SCHEMA = ("content_hash string, url string,"
                    " warc_ts timestamp, text string")


def dedup_stream(pages_stream: DataFrame,
                 ttl: str | None = None) -> DataFrame:
    """Custom stateful streaming operator: first-seen content dedup.

    A crawl stream re-delivers identical page content under refetches;
    this keeps exactly the FIRST occurrence of each content hash across
    the whole stream lifetime, implemented with applyInPandasWithState
    (GroupState per content_hash). State per key is one marker row, so
    the state store stays O(distinct contents) — the streaming analog
    of the batch exact-dedup groupBy.

    ttl (VERDICT r03 item 8): optional EVENT-TIME age-out, e.g.
    '1 hour'. The exact contract (dedup forever) stays the default
    (NoTimeout); with a TTL each key's event-time timer is refreshed to
    last-seen warc_ts + ttl, and a key whose timer falls behind the
    watermark is dropped from the state store — so a long-running
    crawl's state is bounded by the distinct contents of one TTL
    window, at the cost of re-admitting content not re-seen within it.
    Event time (not processing time) keeps the operator deterministic
    for a given input sequence — the engine-wide reproducibility rule —
    and ProcessingTimeTimeout busy-loops availableNow drains (the
    engine keeps scheduling empty batches to service wall-clock
    timers), so it is also the only TTL that composes with the
    checkpointed drain-and-stop runners.

    Within a batch, "first" is deterministic: min (warc_ts, url).
    """
    import pandas as pd

    ttl_ms = (int(pd.to_timedelta(ttl).total_seconds() * 1000)
              if ttl is not None else None)
    keyed = pages_stream.withColumn(
        "content_hash", F.sha2(F.col("text").cast("binary"), 256)
    ).select("content_hash", "url", "warc_ts", "text")
    out_cols = ["content_hash", "url", "warc_ts", "text"]
    if ttl is not None:
        # EventTimeTimeout requires a watermark; 0s delay = timers fire
        # as soon as max(seen warc_ts) passes them. Event millis are
        # computed JVM-SIDE (unix_millis is timezone-correct) — a naive
        # pandas .timestamp() on the Arrow-converted column would read
        # session-local wall time as UTC and shift every expiry by the
        # session's UTC offset (review r04).
        keyed = keyed.withWatermark("warc_ts", "0 seconds").withColumn(
            "warc_ms", F.unix_millis("warc_ts"))

    def first_seen(key, pdf_iter, state):
        if state.hasTimedOut:
            # idle past TTL: no data this batch, drop the marker row
            for _ in pdf_iter:
                pass
            state.remove()
            return
        # expiry is checked IN-BAND against the stored timestamp, not
        # only via the timer: the engine fires event-time timers in
        # no-data batches, but a key that reappears after its TTL in a
        # batch WITH data must re-admit even if no timer batch ran in
        # between — admission therefore depends only on the input
        # sequence (deterministic), while the timer merely bounds how
        # long an idle marker row survives in the store.
        live = state.exists
        old_expire = 0
        if live and ttl_ms is not None:
            (old_expire,) = state.get
            live = state.getCurrentWatermarkMs() < old_expire
        if live and ttl_ms is None:
            for _ in pdf_iter:  # fast path: all rows are re-deliveries
                pass
            return
        best = None
        ms_max = None
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            if not live:
                cand = pdf.sort_values(["warc_ts", "url"]).head(1)
                if best is None or (
                    tuple(cand.iloc[0][["warc_ts", "url"]])
                    < tuple(best.iloc[0][["warc_ts", "url"]])
                ):
                    best = cand
            if ttl_ms is not None:
                m = int(pdf["warc_ms"].max())
                ms_max = m if ms_max is None else max(ms_max, m)
        if best is None and not live:
            return
        if ttl_ms is not None:
            expire_ms = max(
                ms_max + ttl_ms if ms_max is not None else 0, old_expire)
            state.update((expire_ms,))
            state.setTimeoutTimestamp(
                max(expire_ms, state.getCurrentWatermarkMs() + 1))
        else:
            state.update((1,))
        if not live:
            yield best[out_cols]

    from pyspark.sql.streaming.state import GroupStateTimeout

    # state schema: the no-TTL default keeps the original 'seen int'
    # marker, so pre-existing checkpoints keep resuming (an int->long
    # schema change is rejected by the state store's compatibility
    # check); the TTL variant stores its expiry and is a NEW operator
    # configuration with its own checkpoints.
    return keyed.groupBy("content_hash").applyInPandasWithState(
        first_seen,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=("expire_ms long" if ttl is not None
                         else "seen int"),
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout
                     if ttl is not None
                     else GroupStateTimeout.NoTimeout),
    )


def run_dedup_stream_once(pages_dir: str, out_dir: str,
                          checkpoint_dir: str, spark: SparkSession,
                          schema, ttl: str | None = None) -> dict:
    """Drain-and-stop runner for dedup_stream; rerunning with the same
    checkpoint continues the SAME state store, so a content hash first
    seen in run 1 stays deduped in run 2 (tested). Returns the last
    state-operator progress (numRowsTotal etc.) so callers can observe
    the state-store size (the TTL boundedness test)."""
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    q = (
        dedup_stream(stream, ttl=ttl)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()
    import json as _json

    ops = {}
    for p in reversed(q.recentProgress):
        d = p if isinstance(p, dict) else _json.loads(p.json)
        if d.get("stateOperators"):
            ops = d["stateOperators"][0]
            break
    return ops


def run_stream_once(pages_dir: str, out_dir: str, checkpoint_dir: str,
                    prepared: PreparedBoundaries, spark: SparkSession,
                    schema) -> None:
    """File-source stream processed with availableNow (drain-and-stop):
    the streaming-resume analog of the batch checkpoints — re-running
    with the same checkpoint_dir only processes NEW files."""
    stream = (
        spark.readStream.schema(schema).parquet(pages_dir)
    )
    tiles = streaming_tile_counts(stream, prepared, spark)
    q = (
        tiles.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()
