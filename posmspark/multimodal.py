"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns + typed metadata structs;
decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas UDFs over mapInPandas. The actual codec step is STUBBED (no
image/audio libraries in this container — see _decode_image_bytes),
but everything Spark-side is real and tested: schemas, batch shapes,
partition behavior, UDF signatures, and the deterministic fake decoder
used by tests.

Layout conventions (the 100 TB-scale part):
- media rows are stored in their own table keyed by content hash, so
  dedup collapses identical payloads before any decode
- decode stages run via mapInPandas with small
  spark.sql.execution.arrow.maxRecordsPerBatch (payloads are MBs; the
  bound is bytes per batch, not rows)
- extracted features are fixed-width float arrays -> feed ann.py
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("url", T.StringType()),
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("mime", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ])),
])

FEATURE_DIM = 16

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("kind", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
    T.StructField("decode_ok", T.BooleanType()),
    T.StructField("decode_err", T.StringType()),
])


def _decode_image_bytes(payload: bytes) -> np.ndarray:
    """STUB decoder. A real deployment plugs Pillow/libvips here:

        raise NotImplementedError("image codec not available in sandbox")

    For tests we use a deterministic fake: payloads produced by
    encode_fake_image() carry a tiny header + raw uint8 grid, which this
    decoder parses. Any other payload raises ValueError, exercising the
    per-row error routing (decode_ok=False rows, never task failure).
    """
    if payload[:4] != b"FAKE":
        raise ValueError("unknown image codec (decoder stubbed in sandbox)")
    w, h = struct.unpack("<HH", payload[4:8])
    arr = np.frombuffer(payload[8:8 + w * h], dtype=np.uint8)
    if len(arr) != w * h:
        raise ValueError("truncated payload")
    return arr.reshape(h, w)


def encode_fake_image(w: int, h: int, seed: int) -> bytes:
    """Fake payload with md5-PORTABLE pixel bytes (r05): pixel j is
    byte j%16 of md5("px|{seed}|{j//16}"), so a SQL oracle can re-derive
    the exact grid (DuckDB md5 == hashlib md5) — the same portable-draw
    rule as synth.md5_draw_expr. Same seed => same stream (images of
    different sizes share a truncated prefix, preserving the content-
    dedup fixture duplicates)."""
    n_blocks = -(-(w * h) // 16)
    stream = b"".join(
        hashlib.md5(f"px|{seed}|{b}".encode()).digest()
        for b in range(n_blocks))
    return (b"FAKE" + struct.pack("<HH", w, h) + stream[:w * h])


def _grid_features(img: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic pooled-intensity features (4x4 mean grid) — the
    shape a real embedding model would produce."""
    h, w = img.shape
    g = int(np.sqrt(dim))
    ys = np.linspace(0, h, g + 1, dtype=int)
    xs = np.linspace(0, w, g + 1, dtype=int)
    out = np.empty(dim, dtype=np.float32)
    k = 0
    for i in range(g):
        for j in range(g):
            block = img[ys[i]:ys[i + 1], xs[j]:xs[j + 1]]
            out[k] = float(block.mean()) / 255.0 if block.size else 0.0
            k += 1
    return out


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas decode + feature extraction with per-row fault
    isolation (the reference's per-feature try/except-and-continue,
    proc_functions.sql:48-52, as decode_ok/decode_err columns)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    if r.kind != "image":
                        raise ValueError(f"no decoder for kind={r.kind}")
                    img = _decode_image_bytes(bytes(r.payload))
                    feat = _grid_features(img)
                    rows.append((r.media_id, r.kind,
                                 [float(x) for x in feat], True, None))
                except Exception as e:  # noqa: BLE001 — fault ISOLATION:
                    # a malformed payload must become a decode_ok=False
                    # row, never a task failure (struct.error on
                    # truncated headers and TypeError on NULL payloads
                    # do not subclass ValueError — review-found gap)
                    rows.append((r.media_id, r.kind, None, False,
                                 f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "feature",
                               "decode_ok", "decode_err"])

    cols = ["media_id", "kind", "payload"]
    return media.select(*cols).mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = ("media_id string, kind string, payload binary,"
                 " width int, height int, resize_ok boolean,"
                 " resize_err string")


def resize_images(media: DataFrame, target_w: int = 16,
                  target_h: int = 16) -> DataFrame:
    """Image resize as mapInPandas: decode -> deterministic nearest-
    neighbor downsample in numpy -> re-encode, with the same per-row
    fault routing as extract_features (resize_ok=False rows, never a
    task failure). The numpy kernel is the stand-in for a real codec's
    scaler; the Spark plumbing (schema, batching, fault isolation,
    payload-in/payload-out shape) is the tested contract.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    if r.kind != "image":
                        raise ValueError(f"no resizer for kind={r.kind}")
                    img = _decode_image_bytes(bytes(r.payload))
                    h, w = img.shape
                    ys = (np.arange(target_h) * h) // target_h
                    xs = (np.arange(target_w) * w) // target_w
                    small = img[ys[:, None], xs[None, :]]
                    payload = (b"FAKE"
                               + struct.pack("<HH", target_w, target_h)
                               + small.astype(np.uint8).tobytes())
                    rows.append((r.media_id, r.kind, payload,
                                 target_w, target_h, True, None))
                except Exception as e:  # noqa: BLE001 — fault isolation
                    rows.append((r.media_id, r.kind, None, None, None,
                                 False, f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "width",
                               "height", "resize_ok", "resize_err"])

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema=RESIZE_SCHEMA)


def dedupe_by_content(media: DataFrame) -> DataFrame:
    """Content-hash dedup before decode: identical payloads decode once.
    At 100 TB this is the single biggest decode-cost saver."""
    hashed = media.withColumn("content_hash", F.sha2(F.col("payload"), 256))
    w_first = F.min(F.struct("media_id", "url")).alias("canonical")
    groups = hashed.groupBy("content_hash").agg(
        w_first, F.count(F.lit(1)).alias("n_copies"))
    return groups.select(
        "content_hash",
        F.col("canonical.media_id").alias("canonical_media_id"),
        "n_copies",
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per (media_id, frame_ts_ms)
    derived from metadata — the distributed work list a real frame
    extractor would consume (codec stubbed)."""
    return (
        media.filter(F.col("kind") == "video")
        # NULL duration must schedule NO frames (greatest(NULL-1, 0)
        # evaluates 0 and would emit a phantom frame_ts_ms=0 row)
        .filter(F.col("meta.duration_ms").isNotNull()
                & (F.col("meta.duration_ms") > 0))
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


def synth_media_df(spark, n_images: int = 50, n_videos: int = 10) -> DataFrame:
    """Deterministic fixture media table (seeded fake payloads)."""
    rows = []
    for i in range(n_images):
        payload = encode_fake_image(32 + (i % 3) * 16, 32, seed=i % 7)
        rows.append((
            f"img{i:04d}", f"https://media.example/img/{i}", "image",
            "image/fake", payload,
            {"width": 32 + (i % 3) * 16, "height": 32, "duration_ms": None},
        ))
    # a corrupt payload to exercise error routing
    rows.append(("imgBAD", "https://media.example/img/bad", "image",
                 "image/fake", b"NOTFAKE123",
                 {"width": None, "height": None, "duration_ms": None}))
    for i in range(n_videos):
        rows.append((
            f"vid{i:04d}", f"https://media.example/vid/{i}", "video",
            "video/fake", hashlib.sha256(str(i).encode()).digest(),
            {"width": 640, "height": 360, "duration_ms": 3000 + i * 500},
        ))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def multimodal_features_oracle_sql(n_images: int = 50,
                                   n_videos: int = 10) -> str:
    """DuckDB re-derivation of the `multimodal_features` registry query
    (rows-only -> oracle, r05). The fixture METADATA (media_id, kind,
    payload header/length, w, h, seed — the synth_media_df constants)
    enters as VALUES; everything the engine computes is re-derived in
    SQL: decode_ok from the header/kind/truncation rule
    (_decode_image_bytes), the pixel grid from the md5-portable draw
    (pixel j = byte j%16 of md5('px|seed|j//16'), encode_fake_image),
    the 4x4 pooled block means with the kernel's exact float tree
    (float32(sum/cnt/255.0), _grid_features), and the feature_sum fold
    (every term is a float32 in (0,1), so the 16-term double sum is
    EXACT and order-free — parity with Spark's aggregate())."""
    rows = []
    for i in range(n_images):
        w = 32 + (i % 3) * 16
        rows.append(f"  ('img{i:04d}', 'image', 'FAKE', {8 + w * 32}, "
                    f"{w}, 32, {i % 7})")
    rows.append("  ('imgBAD', 'image', 'NOTF', 10, NULL, NULL, NULL)")
    for i in range(n_videos):
        rows.append(f"  ('vid{i:04d}', 'video', '', 32, NULL, NULL, NULL)")
    values = ",\n".join(rows)
    return f"""
WITH fixture(media_id, kind, prefix, payload_len, w, h, seed) AS (VALUES
{values}),
ok AS (
  SELECT *,
         (kind = 'image' AND prefix = 'FAKE'
          AND payload_len - 8 >= w * h) AS decode_ok
  FROM fixture),
px AS (
  SELECT media_id, w, h, seed, j.j AS j,
         md5('px|' || seed || '|' || CAST(j.j // 16 AS VARCHAR)) AS hx
  FROM ok, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS j) j
  WHERE decode_ok),
pval AS (
  SELECT media_id, w, h,
         ((j // w) // (h // 4)) * 4 + ((j % w) // (w // 4)) AS k,
         (strpos('0123456789abcdef',
                 substr(hx, 2 * (j % 16) + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef',
                   substr(hx, 2 * (j % 16) + 2, 1)) - 1) AS val
  FROM px),
blocks AS (
  SELECT media_id, k,
         CAST(CAST(sum(val) AS DOUBLE) / count(*)
              / CAST(255.0 AS DOUBLE) AS REAL) AS f32
  FROM pval GROUP BY media_id, k),
fsum AS (
  SELECT media_id, round(sum(CAST(f32 AS DOUBLE)), 6) AS feature_sum
  FROM blocks GROUP BY media_id)
SELECT o.media_id, o.kind, o.decode_ok, f.feature_sum
FROM ok o LEFT JOIN fsum f USING (media_id)
"""
