"""Raster<->vector tile aggregation with explicit skew handling.

Re-expresses the reference's per-country/per-state tile trees
(/root/reference/extractor/prepare_topojson.py:87-162 and the GeoJSON
fan-out of generate_geojson.py:144-377) as distributed aggregations:

- raster side: per-cell document stats over the assigned pages table
- vector side: per-admin-polygon rollups (the reference's level 2->1->0
  re-aggregation, proc_functions.sql:104-197, as one rollup pass)
- tile assignment: cell stats joined back to covering polygons

Skew: dense urban cells concentrate documents (the mandated hot-cell
fixture). Exact distinct-url counts are computed in two phases — a
(cell, url) dedup first, whose shuffle key spreads a hot cell over many
reducers — plus AQE skew splitting for the final exchange. Plain counts
use Spark's built-in map-side partial agg.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def cell_tile_stats(assigned: DataFrame) -> DataFrame:
    """Per-cell doc_count + exact distinct_urls, skew-safe.

    Two-phase: (cell, url) dedup is salted implicitly by the url hash
    (the shuffle key is (cell, url), so a hot cell spreads over many
    reducers); the second phase aggregates tiny per-cell partials.
    """
    per_url = assigned.groupBy("cell", "url").agg(
        F.count(F.lit(1)).alias("dup_docs")
    )
    return per_url.groupBy("cell").agg(
        F.sum("dup_docs").alias("doc_count"),
        F.count(F.lit(1)).alias("distinct_urls"),
    )


def cell_admin_tile_stats(assigned: DataFrame) -> DataFrame:
    """Tile assignment: per (cell, admin polygon) stats — the join of the
    raster grid to the vector layer (SURVEY.md O22)."""
    return (
        assigned.filter(F.col("osm_id_l0").isNotNull())
        .groupBy("cell", "osm_id_l0", "osm_id_l1", "osm_id_l2")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.approx_count_distinct("url").alias("approx_urls"),
        )
    )


def admin_rollup(assigned: DataFrame) -> DataFrame:
    """Hierarchy re-aggregation levels 2->1->0 as ONE rollup pass
    (replaces the reference's three sequential PL/pgSQL passes,
    proc_functions.sql:104-197)."""
    return (
        assigned.filter(F.col("osm_id_l0").isNotNull())
        .rollup("osm_id_l0", "osm_id_l1", "osm_id_l2")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.countDistinct("url").alias("distinct_urls"),
        )
    )


def boundary_tile_areas(spark, prepared) -> DataFrame:
    """Vector side of the raster<->vector tile join made EXACT: the
    area of each boundary polygon inside each of its covering cells.

    FULL cells (entirely inside, cover classification) contribute the
    whole cell box without touching geometry; boundary cells clip the
    polygon to the cell window (Sutherland-Hodgman, geom.clip_*). The
    cover table distributes as ordinary rows, the polygons broadcast —
    same scale shape as the PIP join. Per polygon, the cell areas sum
    to the polygon's exact area (tested): the grid partitions it.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from posmspark import cells, geom

    bc = spark.sparkContext.broadcast(prepared.polys_by_id)

    @pandas_udf(T.DoubleType())
    def tile_area(cell: pd.Series, osm_id: pd.Series,
                  full: pd.Series) -> pd.Series:
        polys_by_id = bc.value
        c = cell.to_numpy(dtype=np.int64)
        x0, y0, x1, y1 = cells.cell_bounds(c)
        out = np.zeros(len(c), dtype=np.float64)
        for i in range(len(c)):
            if full.iloc[i]:
                out[i] = (x1[i] - x0[i]) * (y1[i] - y0[i])
            else:
                clipped = geom.clip_multipolygon_bbox(
                    polys_by_id[osm_id.iloc[i]],
                    (x0[i], y0[i], x1[i], y1[i]))
                out[i] = sum(geom.ring_area(r) for rings in clipped
                             for r in rings)
        return pd.Series(out)

    # the cover table carries one row per POLYGON PART; a multi-part
    # polygon (archipelago) can cover the same cell with several parts,
    # and clipping the whole multipolygon once per row would double-
    # count. Collapse to one row per (cell, osm_id): if ANY part covers
    # the cell fully the cell is entirely inside (parts are disjoint).
    cov = (
        prepared.cover_df(spark)
        .groupBy("cell", "osm_id", "adminlevel")
        .agg(F.max("full").alias("full"))
    )
    return cov.withColumn(
        "tile_area", tile_area(F.col("cell"), F.col("osm_id"),
                               F.col("full"))
    ).select("osm_id", "adminlevel", "cell", "full", "tile_area")


def tile_clip_areas_oracle_sql() -> str:
    """DuckDB re-derivation of the PER-CELL `tile_clip_areas` registry
    query (rows-only -> oracle, r05) — the deepest geometry oracle in
    the repo: the prepared ring vertices enter as VALUES and SQL
    re-derives the ENTIRE pipeline bit-for-bit:

    1. the cell cover (cells.cover_polygon): per-part bbox cell ranges
       (incl. the -1e-12 upper nudge), edge sampling at step
       min(w,h)/2 with numpy.linspace's exact float semantics
       (t_k = k * (1/n), endpoint forced to 1.0), 8-neighborhood
       dilation, center ray-crossing parity with the identical
       points_in_rings expression tree, full = inside AND NOT boundary,
       then the (cell, osm_id) part-collapse with bool_or(full);
    2. Morton cell ids via the same five spread steps as
       cells.ij_to_cell (res tag in bits 58+);
    3. FULL cells: the cell_bounds box-area expression
       ((x0+w)-x0)*((y0+h)-y0);
    4. boundary cells: four chained Sutherland-Hodgman half-plane
       passes (geom.clip_ring_bbox: emit-current/emit-intersection per
       edge with the exact t=(c-a)/(b-a) parametrization, <3-point
       rings dropped), signed shoelace per ring replicating numpy's
       pairwise summation tree (sequential below 8 terms, the 8-leaf
       accumulator tree + sequential tail for 8..15 — clipped fixture
       rings never exceed 8 vertices), the |area| < 1e-18 ring drop,
       the outer-must-survive part rule, and the ordered python-sum
       fold over surviving rings.

    Verified bit-exact (not just round-9-exact) against the numpy
    kernels on every one of the 16,975 cover rows / 5,531 boundary
    cells before rounding. The query ignores sf_dir (fixture
    boundaries), so in-suite parity == the driver's gate.
    """
    from posmspark import synth
    from posmspark.joins import COVER_RES, prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(),
        n_levels=4)
    res = COVER_RES
    nf = float(2 ** res)
    w, h = 360.0 / nf, 180.0 / nf
    nmax = float(2 ** res - 1)
    step = min(w, h) / 2.0
    wl = f"CAST({w!r} AS DOUBLE)"
    hl = f"CAST({h!r} AS DOUBLE)"

    vert_rows, edge_rows = [], []
    for r in prepared.levels_pdf.itertuples(index=False):
        oid = str(r.osm_id).replace("'", "''")
        for part, rings in enumerate(prepared.polys_by_id[r.osm_id]):
            for ring_i, ring in enumerate(rings):
                rr = np.asarray(ring, dtype=np.float64)
                a = rr[:-1] if np.allclose(rr[0], rr[-1]) else rr
                n = len(a)
                for s in range(n):
                    vert_rows.append(
                        f"('{oid}',{int(r.adminlevel)},{part},{ring_i},{s},"
                        f"CAST({float(a[s, 0])!r} AS DOUBLE),"
                        f"CAST({float(a[s, 1])!r} AS DOUBLE))")
                    x2 = float(a[(s + 1) % n, 0])
                    y2 = float(a[(s + 1) % n, 1])
                    edge_rows.append(
                        f"('{oid}',{int(r.adminlevel)},{part},"
                        f"CAST({float(a[s, 0])!r} AS DOUBLE),"
                        f"CAST({float(a[s, 1])!r} AS DOUBLE),"
                        f"CAST({x2!r} AS DOUBLE),CAST({y2!r} AS DOUBLE))")

    def clip_pass(prev, name, cin, nin, ix, iy):
        grp = "osm_id, lvl, gi, gj, part, ring"
        return f"""
{name}_n AS (
  SELECT *, coalesce(lead(x) OVER w, first_value(x) OVER w) AS nx,
            coalesce(lead(y) OVER w, first_value(y) OVER w) AS ny
  FROM {prev}
  WINDOW w AS (PARTITION BY {grp} ORDER BY seq)),
{name}_e AS (
  SELECT osm_id, lvl, gi, gj, part, ring, x0, y0, x1, y1,
         seq * 2 AS sk, x AS px, y AS py
  FROM {name}_n WHERE {cin}
  UNION ALL
  SELECT osm_id, lvl, gi, gj, part, ring, x0, y0, x1, y1,
         seq * 2 + 1 AS sk, {ix} AS px, {iy} AS py
  FROM {name}_n WHERE ({cin}) <> ({nin})),
{name} AS (
  SELECT osm_id, lvl, gi, gj, part, ring, x0, y0, x1, y1,
         row_number() OVER (PARTITION BY {grp} ORDER BY sk) - 1 AS seq,
         px AS x, py AS y
  FROM {name}_e
  QUALIFY count(*) OVER (PARTITION BY {grp}) >= 3)"""

    p1 = clip_pass("clip0", "c1", "x >= x0", "nx >= x0",
                   "x0", "y + ((x0 - x) / (nx - x)) * (ny - y)")
    p2 = clip_pass("c1", "c2", "x <= x1", "nx <= x1",
                   "x1", "y + ((x1 - x) / (nx - x)) * (ny - y)")
    p3 = clip_pass("c2", "c3", "y >= y0", "ny >= y0",
                   "x + ((y0 - y) / (ny - y)) * (nx - x)", "y0")
    p4 = clip_pass("c3", "c4", "y <= y1", "ny <= y1",
                   "x + ((y1 - y) / (ny - y)) * (nx - x)", "y1")

    masks = [
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]
    spread_i, spread_j = "gi", "gj"
    for shift, mask in masks:
        spread_i = f"((({spread_i} << {shift}) | {spread_i}) & {mask})"
        spread_j = f"((({spread_j} << {shift}) | {spread_j}) & {mask})"
    cell_expr = f"(({spread_i} | ({spread_j} << 1)) | {res << 58})"

    def clipped(vexpr, lo, hi, off, span):
        return (f"CAST(greatest(CAST(0.0 AS DOUBLE), least("
                f"CAST({nmax!r} AS DOUBLE), floor(({vexpr} + "
                f"CAST({off!r} AS DOUBLE)) / CAST({span!r} AS DOUBLE)"
                f"{hi}))) AS BIGINT)")

    nudge = " - CAST(1e-12 AS DOUBLE)"
    return f"""
WITH verts(osm_id, lvl, part, ring, seq, x, y) AS (VALUES
{",".join(vert_rows)}),
edges(osm_id, lvl, part, x1, y1, x2, y2) AS (VALUES
{",".join(edge_rows)}),
pbox AS (
  SELECT osm_id, lvl, part,
         {clipped('min(x)', 0, '', 180.0, w)} AS i0,
         {clipped('max(x)', 0, nudge, 180.0, w)} AS i1,
         {clipped('min(y)', 0, '', 90.0, h)} AS j0,
         {clipped('max(y)', 0, nudge, 90.0, h)} AS j1
  FROM verts GROUP BY osm_id, lvl, part),
esamp AS (
  SELECT osm_id, lvl, part, x1, y1, x2, y2,
         greatest(1, CAST(ceil(greatest(abs(x2 - x1), abs(y2 - y1))
                               / CAST({step!r} AS DOUBLE)) AS BIGINT)) AS ns
  FROM edges),
samp AS (
  SELECT osm_id, lvl, part,
         CAST(floor((x1 + t * (x2 - x1) + CAST(180.0 AS DOUBLE))
                    / {wl}) AS BIGINT) AS si,
         CAST(floor((y1 + t * (y2 - y1) + CAST(90.0 AS DOUBLE))
                    / {hl}) AS BIGINT) AS sj
  FROM (SELECT *, CASE WHEN g.k = ns THEN CAST(1.0 AS DOUBLE)
                       ELSE CAST(g.k AS DOUBLE)
                            * (CAST(1.0 AS DOUBLE) / CAST(ns AS DOUBLE))
                  END AS t
        FROM esamp,
             LATERAL (SELECT unnest(generate_series(0, ns)) AS k) g)),
bdil AS (
  SELECT DISTINCT s.osm_id, s.lvl, s.part,
                  s.si + o1.oi AS bi, s.sj + o2.oj AS bj
  FROM samp s, (VALUES (-1),(0),(1)) o1(oi), (VALUES (-1),(0),(1)) o2(oj)),
bnd AS (
  SELECT b.osm_id, b.lvl, b.part, b.bi, b.bj
  FROM bdil b JOIN pbox p USING (osm_id, lvl, part)
  WHERE b.bi BETWEEN p.i0 AND p.i1 AND b.bj BETWEEN p.j0 AND p.j1),
grid AS (
  SELECT p.osm_id, p.lvl, p.part, gi.i AS gi, gj.j AS gj,
         CAST(-180.0 AS DOUBLE)
           + (CAST(gi.i AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {wl} AS cx,
         CAST(-90.0 AS DOUBLE)
           + (CAST(gj.j AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {hl} AS cy
  FROM pbox p,
       LATERAL (SELECT unnest(generate_series(p.i0, p.i1)) AS i) gi,
       LATERAL (SELECT unnest(generate_series(p.j0, p.j1)) AS j) gj),
ginside AS (
  SELECT g.osm_id, g.lvl, g.part, g.gi, g.gj,
         SUM(CASE WHEN (e.y1 > g.cy) <> (e.y2 > g.cy)
                   AND g.cx < (e.x2 - e.x1) * (g.cy - e.y1)
                              / (e.y2 - e.y1) + e.x1
             THEN 1 ELSE 0 END) % 2 = 1 AS inside
  FROM grid g JOIN edges e USING (osm_id, lvl, part)
  GROUP BY g.osm_id, g.lvl, g.part, g.gi, g.gj),
partcov AS (
  SELECT i.osm_id, i.lvl, i.part, i.gi, i.gj,
         (i.inside AND b.bi IS NULL) AS pfull
  FROM ginside i LEFT JOIN bnd b
    ON b.osm_id = i.osm_id AND b.lvl = i.lvl AND b.part = i.part
   AND b.bi = i.gi AND b.bj = i.gj
  WHERE i.inside OR b.bi IS NOT NULL),
cellcov AS (
  SELECT osm_id, lvl, gi, gj, bool_or(pfull) AS ffull
  FROM partcov GROUP BY osm_id, lvl, gi, gj),
bcell AS (
  SELECT osm_id, lvl, gi, gj FROM cellcov WHERE NOT ffull),
clip0 AS (
  SELECT b.osm_id, b.lvl, b.gi, b.gj, v.part, v.ring, v.seq, v.x, v.y,
         CAST(-180.0 AS DOUBLE) + CAST(b.gi AS DOUBLE) * {wl} AS x0,
         CAST(-90.0 AS DOUBLE) + CAST(b.gj AS DOUBLE) * {hl} AS y0,
         (CAST(-180.0 AS DOUBLE) + CAST(b.gi AS DOUBLE) * {wl})
           + {wl} AS x1,
         (CAST(-90.0 AS DOUBLE) + CAST(b.gj AS DOUBLE) * {hl})
           + {hl} AS y1
  FROM bcell b JOIN verts v
    ON v.osm_id = b.osm_id AND v.lvl = b.lvl),
{p1},
{p2},
{p3},
{p4},
terms AS (
  SELECT osm_id, lvl, gi, gj, part, ring, seq,
         x * coalesce(lead(y) OVER w, first_value(y) OVER w)
         - coalesce(lead(x) OVER w, first_value(x) OVER w) * y AS term
  FROM c4
  WINDOW w AS (PARTITION BY osm_id, lvl, gi, gj, part, ring
               ORDER BY seq)),
rarea0 AS (
  SELECT osm_id, lvl, gi, gj, part, ring, list(term ORDER BY seq) AS ts
  FROM terms GROUP BY osm_id, lvl, gi, gj, part, ring),
rarea AS (
  SELECT osm_id, lvl, gi, gj, part, ring,
         CASE WHEN len(ts) < 8
              THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
                               (a, b) -> a + b)
              ELSE list_reduce(list_prepend(
                     ((ts[1] + ts[2]) + (ts[3] + ts[4]))
                     + ((ts[5] + ts[6]) + (ts[7] + ts[8])), ts[9:]),
                   (a, b) -> a + b)
         END / CAST(2.0 AS DOUBLE) AS area
  FROM rarea0),
rkeep AS (SELECT * FROM rarea WHERE abs(area) >= CAST(1e-18 AS DOUBLE)),
rfinal AS (
  SELECT r.* FROM rkeep r
  JOIN (SELECT DISTINCT osm_id, lvl, gi, gj, part
        FROM rkeep WHERE ring = 0) o
    ON r.osm_id = o.osm_id AND r.lvl = o.lvl AND r.gi = o.gi
   AND r.gj = o.gj AND r.part = o.part),
clipsum AS (
  SELECT osm_id, lvl, gi, gj,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(area ORDER BY part, ring)),
                     (a, c) -> a + c) AS tile_area
  FROM rfinal GROUP BY osm_id, lvl, gi, gj),
outrows AS (
  SELECT c.osm_id, c.lvl, c.gi, c.gj, c.ffull,
         CASE WHEN c.ffull THEN
           (((CAST(-180.0 AS DOUBLE) + CAST(c.gi AS DOUBLE) * {wl}) + {wl})
            - (CAST(-180.0 AS DOUBLE) + CAST(c.gi AS DOUBLE) * {wl}))
           * (((CAST(-90.0 AS DOUBLE) + CAST(c.gj AS DOUBLE) * {hl}) + {hl})
              - (CAST(-90.0 AS DOUBLE) + CAST(c.gj AS DOUBLE) * {hl}))
         ELSE coalesce(s.tile_area, CAST(0.0 AS DOUBLE)) END AS tile_area
  FROM cellcov c LEFT JOIN clipsum s
    ON s.osm_id = c.osm_id AND s.lvl = c.lvl
   AND s.gi = c.gi AND s.gj = c.gj)
SELECT osm_id, lvl AS adminlevel, {cell_expr} AS cell, ffull AS full,
       round(tile_area, 9) AS tile_area
FROM outrows
"""
