"""Deterministic synthetic fixtures per FIXTURES.md (seed=42, no wall clock).

- boundaries: the admin polygon hierarchy (dimension table) mirroring
  posm's admin_level_N schema (/root/reference/extractor/exposm/writer.py:125-147)
  and the nepal GeoJSON fixture properties (nepal/nepal_2.geojson), including
  every pathological case FIXTURES.md mandates: non-ASCII names, null name_en,
  lowercase iso, maritime rows, a holed polygon, a self-intersecting polygon,
  an orphan level-1, and a duplicate-coverage pair for first-match tie-break.
- admin_mapping: per-country admin-level overrides
  (admin_mapping.yaml:1-17 re-expressed).
- pages: Common-Crawl-style web pages (url, warc_ts, html, text, lang) per
  BASELINE.json input_hint — generated *distributed* with pure Spark column
  expressions from spark.range(n), so the same generator scales from 2k test
  rows to the bench's multi-hundred-k rows without driver-side materialization
  (and, on a real cluster, to arbitrarily many partitions).

The html <-> text relationship is byte-exact: html = PRE + utf8(text) + POST,
and textx.extract_text recovers text byte-identically (the north-rule
invariant).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posmspark import geom

SEED = 42

# html template — fixed bytes so extraction is a pure function of html
HTML_PRE = (b'<!doctype html><html><head><meta charset="utf-8">'
            b"<title>posmspark fixture</title></head><body><article>")
HTML_POST = b"</article><footer>crawl 2025</footer></body></html>"

# hot cell center (dense urban cluster for the skew requirement)
HOT_LON, HOT_LAT = 6.13, 6.87  # inside country R1000 / strip R1100 / R1120


def md5_draw_expr(col, salt: str, mod: int):
    """Portable deterministic integer draw in [0, mod): md5 of the
    salted column, first 12 hex digits as an integer, mod. The SAME
    value is computable in DuckDB via md5_draw_sql — this pair is the
    load-bearing portability contract behind every hash-checked oracle
    that re-derives synthetic draws (pip_assignment/pip_tile_rollup,
    rand_indicators' variant); keep the two in lockstep."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 12), 16, 10
    ).cast("long") % mod


def md5_draw_sql(col_sql: str, salt: str, mod: int) -> str:
    """DuckDB twin of md5_draw_expr (see its docstring)."""
    return (f"CAST('0x' || substring(md5('{salt}' || {col_sql}), 1, 12)"
            f" AS BIGINT) % {mod}")


def rect(x0, y0, x1, y1) -> np.ndarray:
    """Closed CCW rectangle ring."""
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64
    )


def _row(osm_id, name, name_en, admin_level, iso, boundary, polys, order):
    return {
        "osm_id": osm_id,
        "name": name,
        "name_en": name_en,
        "admin_level": admin_level,  # raw OSM tag (string), mapped later (O8)
        "iso3166": iso,
        "boundary": boundary,
        "geom_wkb": geom.multipolygon_to_wkb(polys),
        "insert_order": order,  # pins first-match tie-break (R-tree insert order analog)
    }


def gen_boundaries_pdf() -> pd.DataFrame:
    """The full boundary fixture as a pandas DataFrame (small dimension).

    Layout (strictly nested, shared borders):
      R1000 'Alphaland'  lon[0,12]   lat[0,10]  iso 'aa' (must uppercase)
        level-1 strips R1100 [0,4], R1200 [4,8], R1300 [8,12]
          each strip split at lat 5 into two level-2: R11x0 (x=1 lower, 2 upper)
      R2000 'नेपाल' (name_en null -> coalesce)  lon[20,30] lat[0,10]
        admin override country: its level-1 uses raw tag '3' not default '4'
        level-1 R2100 [20,25] (with a hole), R2200 [25,30]
      R3000 'Gammaria'   lon[40,50]  lat[-10,0]
        level-1 R3100 [40,45], R3200 [45,50]; R3100 has 3 level-2 strips
      R8000 maritime boundary (filtered out, extract.py:128-137)
      R9001 self-intersecting bowtie (routed to problems, utils.py:51-70)
      R9002 orphan level-1 at lon[70,72] (no parent country -> dropped)
      R1101 duplicate of R1100's area, later insert_order (first-match keeps R1100)
    """
    rows = []
    o = iter(range(1000))
    # countries (raw OSM admin_level tag for a country is '2', extract.py:142)
    rows.append(_row("R1000", "Alphaland", "Alphaland", "2", "aa",
                     "administrative", [[rect(0, 0, 12, 10)]], next(o)))
    rows.append(_row("R2000", "नेपाल", None, "2", "Np",
                     "administrative", [[rect(20, 0, 30, 10)]], next(o)))
    rows.append(_row("R3000", "Gammaria", "Gammaria", "2", "GG",
                     "administrative", [[rect(40, -10, 50, 0)]], next(o)))
    # level-1 of Alphaland (default raw tag '4', admin_mapping.yaml:1-4)
    for k, (x0, x1) in enumerate([(0, 4), (4, 8), (8, 12)], start=1):
        rows.append(_row(f"R1{k}00", f"Alpha-{k}", f"Alpha-{k}", "4", None,
                         "administrative", [[rect(x0, 0, x1, 10)]], next(o)))
    # duplicate coverage of R1100 (tie-break fixture): same area, later order
    rows.append(_row("R1101", "Alpha-1-dup", "Alpha-1-dup", "4", None,
                     "administrative", [[rect(0, 0, 4, 10)]], next(o)))
    # level-2 of Alphaland (default raw tag '6')
    for k, (x0, x1) in enumerate([(0, 4), (4, 8), (8, 12)], start=1):
        rows.append(_row(f"R1{k}10", f"Alpha-{k}-S", None, "6", None,
                         "administrative", [[rect(x0, 0, x1, 5)]], next(o)))
        rows.append(_row(f"R1{k}20", f"Alpha-{k}-N", f"Alpha-{k}-North", "6", None,
                         "administrative", [[rect(x0, 5, x1, 10)]], next(o)))
    # level-1 of नेपाल: override raw tag '3' (like Nepal R184633 in
    # admin_mapping.yaml); R2100 carries a hole
    # hole tucked in a corner so children's representative points miss it
    hole = rect(20.5, 0.5, 21.5, 1.5)[::-1].copy()  # CW hole
    rows.append(_row("R2100", "Beta-West", "Beta-West", "3", None,
                     "administrative", [[rect(20, 0, 25, 10), hole]], next(o)))
    rows.append(_row("R2200", "Beta-East", None, "3", None,
                     "administrative", [[rect(25, 0, 30, 10)]], next(o)))
    # level-2 of नेपाल: override raw tag '5' (country override), split at lat 5
    rows.append(_row("R2110", "Beta-West-S", "Beta-West-S", "5", None,
                     "administrative", [[rect(20, 0, 25, 5), ]], next(o)))
    rows.append(_row("R2120", "Beta-West-N", "Beta-West-N", "5", None,
                     "administrative", [[rect(20, 5, 25, 10)]], next(o)))
    rows.append(_row("R2210", "Beta-East-S", "Beta-East-S", "5", None,
                     "administrative", [[rect(25, 0, 30, 5)]], next(o)))
    rows.append(_row("R2220", "Beta-East-N", "Beta-East-N", "5", None,
                     "administrative", [[rect(25, 5, 30, 10)]], next(o)))
    # level-3 of Alphaland (default raw tag '8'): Alpha-1-S split at lon 2.
    # Only used when prepare_boundaries(n_levels>=4); under the default
    # 3-level build these rows fail every tag filter and drop out.
    rows.append(_row("R1111", "Alpha-1-S-W", "Alpha-1-S-West", "8", None,
                     "administrative", [[rect(0, 0, 2, 5)]], next(o)))
    rows.append(_row("R1112", "Alpha-1-S-E", None, "8", None,
                     "administrative", [[rect(2, 0, 4, 5)]], next(o)))
    # level-1 + level-2 of Gammaria
    rows.append(_row("R3100", "Gamma-West", "Gamma-West", "4", None,
                     "administrative", [[rect(40, -10, 45, 0)]], next(o)))
    rows.append(_row("R3200", "Gamma-East", "Gamma-East", "4", None,
                     "administrative", [[rect(45, -10, 50, 0)]], next(o)))
    for k, (x0, x1) in enumerate([(40.0, 41.6666667), (41.6666667, 43.3333333),
                                  (43.3333333, 45.0)], start=1):
        rows.append(_row(f"R31{k}0", f"Gamma-W-{k}", f"Gamma-W-{k}", "6", None,
                         "administrative", [[rect(x0, -10, x1, 0)]], next(o)))
    # pathological rows
    rows.append(_row("R8000", "Maritime-Zone", "Maritime-Zone", "4", None,
                     "maritime", [[rect(0, -40, 10, -30)]], next(o)))
    bowtie = np.array([[60.0, 0.0], [62.0, 2.0], [62.0, 0.0], [60.0, 2.0],
                       [60.0, 0.0]])
    rows.append(_row("R9001", "Bowtie", "Bowtie", "4", None,
                     "administrative", [[bowtie]], next(o)))
    rows.append(_row("R9002", "Orphan", "Orphan", "4", None,
                     "administrative", [[rect(70, 0, 72, 2)]], next(o)))
    return pd.DataFrame(rows)


def gen_admin_mapping_pdf() -> pd.DataFrame:
    """Per-country raw-tag overrides (admin_mapping.yaml analog).

    Defaults: level-1 raw tag '4', level-2 raw tag '6'; R2000 overrides
    to '3'/'5' (like Nepal R184633 -> admin_level_1: 3).
    """
    return pd.DataFrame(
        [{"country_osm_id": "R2000", "admin_level_1": 3, "admin_level_2": 5}]
    )


ADMIN_DEFAULTS = {"admin_level_1": 4, "admin_level_2": 6, "admin_level_3": 8}


def pages_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages table (url, warc_ts, html, text, lang).

    Pure Spark column expressions over spark.range(n): deterministic
    (xxhash64-seeded), zero driver-side materialization, and the exact
    shape of BASELINE.json input_hint. ~70% of rows embed exactly one
    'geo: {lat:.5f}, {lon:.5f}' token; 10% of those concentrate in one
    hot cell (skew fixture); ~30% have no geotag (geocode -> null).
    """
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(0, n, 1, partitions)
    i = F.col("id")
    url = F.concat(F.lit("https://site"), (i % 97).cast("string"),
                   F.lit(".example/page/"), i.cast("string"))
    # deterministic uniform draws in [0,1) from the url hash
    h1 = F.abs(F.xxhash64(url, F.lit(1))) % 1000000 / 1000000.0
    h2 = F.abs(F.xxhash64(url, F.lit(2))) % 1000000 / 1000000.0
    h3 = F.abs(F.xxhash64(url, F.lit(3))) % 1000000 / 1000000.0
    h4 = F.abs(F.xxhash64(url, F.lit(4))) % 1000000 / 1000000.0
    has_geo = h1 < 0.7
    is_hot = h2 < 0.1  # 10% of geotagged rows -> one dense urban cell
    # uniform over the 3-country super-bbox lon[0,50] lat[-10,10]
    # (some points fall in the gaps between countries -> unmatched, by design)
    lon = F.when(is_hot, HOT_LON + (h3 - 0.5) * 0.02).otherwise(h3 * 50.0)
    lat = F.when(is_hot, HOT_LAT + (h4 - 0.5) * 0.02).otherwise(h4 * 20.0 - 10.0)
    geotag = F.format_string("geo: %.5f, %.5f", lat, lon)
    body = F.concat(
        F.lit("Document "), i.cast("string"),
        F.lit(" from the synthetic common-crawl corpus. "),
        F.when(has_geo, F.concat(geotag, F.lit(" "))).otherwise(F.lit("")),
        F.lit("Lorem ipsum dolor sit amet, token "),
        (F.abs(F.xxhash64(url, F.lit(5))) % 9973).cast("string"), F.lit("."),
    )
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ["en", "fr", "es", "de", "ne"]]),
        (i % 5 + 1).cast("int"),
    )
    ts = F.timestamp_seconds(F.lit(1735689600) + i * 137)  # 2025-01-01T00:00:00Z + i*137s
    html = F.concat(F.lit(HTML_PRE), F.encode(body, "UTF-8"), F.lit(HTML_POST))
    return df.select(
        url.alias("url"),
        ts.alias("warc_ts"),
        html.alias("html"),
        body.alias("text"),
        lang.alias("lang"),
    )


def documents_df(spark: SparkSession, n: int,
                 partitions: int | None = None) -> DataFrame:
    """Synthetic documents table (same schema as the driver's
    documents.parquet) at ARBITRARY scale, for benching the dedup/
    near-dup operators beyond the sf fixtures (BENCH/dedup_scaling.py).

    Pure JVM column expressions over spark.range(n), fully
    deterministic. Crawl-shaped duplicate structure: ~10% of docs sit
    in EXACT-duplicate clusters (identical text, cluster size <= 25),
    ~4% are near-dups of a cluster text (one appended token), ~30%
    share a boilerplate prefix (the hot-shingle skew the frequency cap
    exists for); everything else is unique hash-seeded token text over
    a 5000-word vocabulary.
    """
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(0, n, 1, partitions)
    i = F.col("id")
    cls = F.abs(F.xxhash64(i, F.lit(1))) % 100
    # dup/near-dup classes share a representative id -> identical body
    rep = F.when(cls < 14, i - i % 25).otherwise(i)
    df = df.select(
        i.alias("doc_id"), cls.alias("_cls"), rep.alias("_rep"),
        (F.abs(F.xxhash64(rep, F.lit(2))) % 40 + 25).alias("_nt"),
    )
    # token k of a doc = 'w<hash(rep, k) % vocab>'; _rep/_nt are
    # precomputed columns (only the per-token hash runs per element)
    body = F.expr(
        "concat_ws(' ', transform(sequence(1, CAST(_nt AS INT)),"
        " k -> concat('w', CAST(abs(xxhash64(_rep, CAST(k AS BIGINT), 3))"
        " % 5000 AS STRING))))"
    )
    boiler = F.when(
        F.abs(F.xxhash64(F.col("_rep"), F.lit(4))) % 100 < 30,
        F.lit("all rights reserved by example corp "),
    ).otherwise(F.lit(""))
    near_tail = F.when(
        (F.col("_cls") >= 10) & (F.col("_cls") < 14),
        F.concat(F.lit(" nd"), F.col("doc_id").cast("string")),
    ).otherwise(F.lit(""))
    text = F.concat(boiler, body, near_tail)
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ["en", "fr", "es", "de", "ne"]]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    source = F.concat(
        F.lit("s"),
        (F.abs(F.xxhash64(F.col("doc_id"), F.lit(6))) % 20).cast("string"))
    return df.select(
        "doc_id",
        text.alias("text"),
        lang.alias("lang"),
        source.alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )
