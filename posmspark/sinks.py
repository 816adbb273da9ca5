"""Export sinks: .poly (Osmosis polygon-filter format), GeoJSON-shaped
rows, partitioned Parquet.

- .poly re-implements the byte-level golden layout of
  /root/reference/extractor/extract_poly.py:72-156: name header; per
  ring an index line (1-based within its polygon, '!'-prefixed for
  holes); coordinate rows formatted '   %.6E   %.6E'
  (extract_poly.py:135); 'END' per ring and a final 'END'.
- GeoJSON rows reproduce the field layout of
  generate_geojson.py:50-98 / exposm/utils.py:73-102 as
  to_json(struct(...)) columns (a distributed sink, not a driver loop).

Formatting runs distributed in applyInPandas over boundary groups; the
final text lands one row per feature so any executor count produces
identical bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from posmspark import geom


def format_poly(name: str, polys: list[list[np.ndarray]]) -> str:
    """Byte-exact .poly text for one multipolygon (extract_poly.py:116-137).

    Ring indexes are 1-based per polygon; holes prefixed '!'; coordinates
    '   %.6E   %.6E' (x=lon, y=lat); END per ring + final END.
    """
    lines = [name]
    for rings in polys:
        for i, ring in enumerate(rings):
            lines.append(str(i + 1) if i == 0 else f"!{i + 1}")
            for x, y in np.asarray(ring, dtype=np.float64):
                lines.append("   %.6E   %.6E" % (x, y))
            lines.append("END")
    lines.append("END")
    return "\n".join(lines) + "\n"


def prepare_outline(polys: list[list[np.ndarray]],
                    buffer_distance: float = 0.1,
                    simplify_distance: float = 0.01,
                    max_iter: int = 10) -> list[list[np.ndarray]]:
    """Buffer-then-simplify with the adaptive containment loop of
    extract_poly.py:51-69 (checkGeom): shrink the simplify tolerance 10%
    and grow the buffer 10% until the outline contains the original
    (vertex-containment check, vectorized)."""
    orig_pts = np.vstack([r for rings in polys for r in rings])
    buf, tol = buffer_distance, simplify_distance
    for _ in range(max_iter):
        out = []
        for rings in polys:
            outer = geom.buffer_ring(rings[0], buf)
            simp = geom.simplify_ring_closed(outer, tol)
            out.append([simp])
        contained = np.zeros(len(orig_pts), dtype=bool)
        for rings_out in out:
            contained |= geom.points_in_rings(
                orig_pts[:, 0], orig_pts[:, 1], rings_out)
        if contained.all():
            return out
        tol *= 0.9
        buf *= 1.1
    return out


def poly_export_df(spark: SparkSession, prepared, level: int = 0,
                   buffer_distance: float = 0.1,
                   simplify_distance: float = 0.01) -> DataFrame:
    """(osm_id, poly_name, poly_text) for every boundary at `level` —
    the distributed S10 sink. Formatting happens per group inside
    applyInPandas; polygons ship via broadcast."""
    bc = spark.sparkContext.broadcast(prepared.polys_by_id)

    rows = prepared.levels_pdf.query(f"adminlevel == {level}")[
        ["osm_id", "iso3166"]
    ]
    src = spark.createDataFrame(rows)

    schema = T.StructType([
        T.StructField("osm_id", T.StringType()),
        T.StructField("poly_name", T.StringType()),
        T.StructField("poly_text", T.StringType()),
    ])

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        polys_by_id = bc.value
        out = []
        for r in pdf.itertuples(index=False):
            name = (f"{r.iso3166}_{r.osm_id}"
                    if isinstance(r.iso3166, str) else r.osm_id)
            outline = prepare_outline(polys_by_id[r.osm_id],
                                      buffer_distance, simplify_distance)
            out.append((r.osm_id, name, format_poly(name, outline)))
        return pd.DataFrame(out, columns=["osm_id", "poly_name", "poly_text"])

    return src.groupBy("osm_id").applyInPandas(
        lambda key, pdf: emit(pdf), schema=schema
    )


def geojson_feature_df(spark: SparkSession, prepared) -> DataFrame:
    """One GeoJSON Feature JSON string per boundary (S9 sink shape:
    typed properties osm_id/name/name_en/adminlevel/is_in like
    exposm/utils.py:83-99, geometry as MultiPolygon coordinates)."""
    import json

    rows = []
    for r in prepared.levels_pdf.itertuples(index=False):
        polys = prepared.polys_by_id[r.osm_id]
        coords = [[ring.tolist() for ring in rings] for rings in polys]
        feat = {
            "type": "Feature",
            "properties": {
                "osm_id": r.osm_id,
                "name": r.name,
                "name_en": r.name_en,
                "adminlevel": int(r.adminlevel),
                "is_in": r.is_in,
            },
            "geometry": {"type": "MultiPolygon", "coordinates": coords},
        }
        rows.append((r.osm_id, int(r.adminlevel),
                     json.dumps(feat, ensure_ascii=False, sort_keys=True)))
    return spark.createDataFrame(
        rows, "osm_id string, adminlevel int, feature_json string"
    )


def dual_geojson_feature_df(spark: SparkSession, prepared,
                            tol: float = 0.05) -> DataFrame:
    """Natural + simplified geometry variant per boundary feature —
    the reference emits both per level (generate_geojson.py:203-221,
    8 files per country). The simplified variant comes from
    shared-edge-consistent simplification run over each level's mesh,
    so shared borders remain IDENTICAL polylines on both owners
    (watertight, like toTopoGeom + ST_Simplify(topo),
    proc_functions.sql:27-82,219).

    Output: (osm_id, adminlevel, variant, n_points, area, feature_json).
    """
    import json

    from posmspark import dissolve

    props_by_id = {
        r.osm_id: r for r in prepared.levels_pdf.itertuples(index=False)
    }
    rows = []
    for lv in sorted(prepared.levels_pdf.adminlevel.unique()):
        ids = list(
            prepared.levels_pdf.query("adminlevel == @lv")
            .sort_values("insert_order").osm_id
        )
        mesh = {oid: prepared.polys_by_id[oid] for oid in ids}
        simplified = dissolve.shared_edge_simplify(mesh, tol=tol)
        for variant, geoms in (("natural", mesh), ("simplified", simplified)):
            for oid in ids:
                polys = geoms[oid]
                r = props_by_id[oid]
                coords = [[ring.tolist() for ring in rings]
                          for rings in polys]
                feat = {
                    "type": "Feature",
                    "properties": {
                        "osm_id": oid,
                        "name": r.name,
                        "name_en": r.name_en,
                        "adminlevel": int(r.adminlevel),
                        "is_in": r.is_in,
                        "variant": variant,
                    },
                    "geometry": {"type": "MultiPolygon",
                                 "coordinates": coords},
                }
                area = sum(
                    geom.ring_area(rings[0])
                    + sum(geom.ring_area(h) for h in rings[1:])
                    for rings in polys
                )
                rows.append((
                    oid, int(r.adminlevel), variant,
                    int(sum(len(ring) for rings in polys for ring in rings)),
                    float(area),
                    json.dumps(feat, ensure_ascii=False, sort_keys=True),
                ))
    return spark.createDataFrame(
        rows,
        "osm_id string, adminlevel int, variant string, n_points long,"
        " area double, feature_json string",
    )


def package_boundary_zips(spark: SparkSession, prepared, out_dir: str,
                          tol: float = 0.05) -> DataFrame:
    """S12: per-country ZIP packaging of the exported GeoJSON artifacts
    (generate_geojson.py:117-141 runs `zip -j -r` over the per-country
    export dir; same artifact here without shelling out).

    Each country zip carries one FeatureCollection per (level, variant)
    — admin_level_<N>_<variant>.geojson, natural + simplified — holding
    the country's own feature at level 0 and its descendants below.
    Returns a manifest DataFrame (country, file_name, n_features,
    n_bytes) for lineage accounting.
    """
    import json
    import os
    import zipfile

    feats = dual_geojson_feature_df(spark, prepared, tol=tol).collect()
    by_id = {}
    for r in feats:
        by_id.setdefault(r["osm_id"], {})[r["variant"]] = r

    lv = prepared.levels_pdf
    country_of = {}
    for r in lv.itertuples(index=False):
        cur = r
        seen = set()
        while cur.is_in is not None and cur.osm_id not in seen:
            seen.add(cur.osm_id)
            parents = lv[lv.osm_id == cur.is_in]
            if not len(parents):
                break
            cur = next(parents.itertuples(index=False))
        country_of[r.osm_id] = cur.osm_id

    os.makedirs(out_dir, exist_ok=True)
    rows = []
    for country in sorted(lv.query("adminlevel == 0").osm_id):
        members = {}
        for r in lv.itertuples(index=False):
            if country_of[r.osm_id] != country:
                continue
            for variant in ("natural", "simplified"):
                name = f"admin_level_{int(r.adminlevel)}_{variant}.geojson"
                members.setdefault(name, []).append(
                    json.loads(by_id[r.osm_id][variant]["feature_json"]))
        zpath = os.path.join(out_dir, f"{country}.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            for name in sorted(members):
                fc = {"type": "FeatureCollection", "features": members[name]}
                payload = json.dumps(fc, ensure_ascii=False, sort_keys=True)
                zf.writestr(name, payload)
                rows.append((country, name, len(members[name]),
                             len(payload.encode("utf-8"))))
    return spark.createDataFrame(
        rows, "country string, file_name string, n_features long,"
              " n_bytes long",
    ).orderBy("country", "file_name")


def read_geojson_features(spark: SparkSession, df: DataFrame) -> "pd.DataFrame":
    """GeoJSON source (S4, exposm/reader.py:95-97 analog): parse Feature
    JSON rows back into the boundary input shape (osm_id, name, name_en,
    adminlevel, is_in, rings) — round-trips geojson_feature_df."""
    import json

    rows = []
    for r in df.select("feature_json").collect():
        feat = json.loads(r["feature_json"])
        props = feat["properties"]
        polys = [
            [np.asarray(ring, dtype=np.float64) for ring in poly]
            for poly in feat["geometry"]["coordinates"]
        ]
        rows.append(
            {
                "osm_id": props["osm_id"],
                "name": props.get("name"),
                "name_en": props.get("name_en"),
                "adminlevel": props.get("adminlevel"),
                "is_in": props.get("is_in"),
                "geom_wkb": geom.multipolygon_to_wkb(polys),
            }
        )
    return pd.DataFrame(rows)


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """S8/O10 level fan-out as ONE partitioned write (no 10 passes)."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


POLY_ORACLE_BODY = r"""
dir AS (
  SELECT oid, part, CASE WHEN sum(ct) > 0 THEN CAST(1.0 AS DOUBLE)
                         ELSE CAST(-1.0 AS DOUBLE) END AS sgn
  FROM (SELECT oid, part,
               x * coalesce(lead(y) OVER wd, first_value(y) OVER wd)
               - coalesce(lead(x) OVER wd, first_value(x) OVER wd) * y AS ct
        FROM verts WINDOW wd AS (PARTITION BY oid, part ORDER BY seq))
  GROUP BY oid, part),
nbr AS (
  SELECT v.*,
         v.x - coalesce(lag(v.x)  OVER wn, last_value(v.x)  OVER wnf) AS e1x,
         v.y - coalesce(lag(v.y)  OVER wn, last_value(v.y)  OVER wnf) AS e1y,
         coalesce(lead(v.x) OVER wn, first_value(v.x) OVER wnf) - v.x AS e2x,
         coalesce(lead(v.y) OVER wn, first_value(v.y) OVER wnf) - v.y AS e2y
  FROM verts v
  WINDOW wn AS (PARTITION BY oid, part ORDER BY seq),
         wnf AS (PARTITION BY oid, part ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)),
-- unit edge tangents (zero-length guard 1.0), outward normals
-- (right normal for CCW, negated otherwise), vertex normal sum,
-- renormalized, offset by DIST: bit-for-bit geom.buffer_ring
bufp AS (
  SELECT oid, part, seq,
         x + nvx / lnv * CAST({DIST} AS DOUBLE) AS bx,
         y + nvy / lnv * CAST({DIST} AS DOUBLE) AS by_
  FROM (SELECT *, CASE WHEN sqrt(nvx * nvx + nvy * nvy) = 0
                       THEN CAST(1.0 AS DOUBLE)
                       ELSE sqrt(nvx * nvx + nvy * nvy) END AS lnv
        FROM (SELECT n2.oid, n2.part, n2.seq, n2.x, n2.y,
                     d.sgn * (e1y / l1) + d.sgn * (e2y / l2) AS nvx,
                     d.sgn * (-(e1x / l1)) + d.sgn * (-(e2x / l2)) AS nvy
              FROM (SELECT *,
                      CASE WHEN sqrt(e1x * e1x + e1y * e1y) = 0
                           THEN CAST(1.0 AS DOUBLE)
                           ELSE sqrt(e1x * e1x + e1y * e1y) END AS l1,
                      CASE WHEN sqrt(e2x * e2x + e2y * e2y) = 0
                           THEN CAST(1.0 AS DOUBLE)
                           ELSE sqrt(e2x * e2x + e2y * e2y) END AS l2
                    FROM nbr) n2
              JOIN dir d ON d.oid = n2.oid AND d.part = n2.part))),
bn AS (SELECT oid, part, count(*) AS n FROM bufp GROUP BY oid, part),
-- closed buffered ring: indices 0..n with point n = point 0
bufc AS (
  SELECT * FROM bufp
  UNION ALL
  SELECT b.oid, b.part, n.n, b.bx, b.by_
  FROM bufp b JOIN bn n ON n.oid = b.oid AND n.part = b.part
  WHERE b.seq = 0),
-- Douglas-Peucker on the closed ring: shared kernel fragment
{DP_CTES},
keptseq AS (
  SELECT oid, part, 0 AS seq FROM bn
  UNION
  SELECT oid, part, n FROM bn
  UNION
  SELECT s.oid, s.part, s.k
  FROM dp d3 JOIN splits s ON s.oid = d3.oid AND s.part = d3.part
   AND s.a = d3.a AND s.b = d3.b AND s.d > CAST({TOL} AS DOUBLE)),
-- simplify_ring_closed fallback: < 4 kept (or < 3 input) keeps ALL
keptn AS (
  SELECT k.oid, k.part, count(*) AS nk, any_value(n.n) AS n
  FROM keptseq k JOIN bn n ON n.oid = k.oid AND n.part = k.part
  GROUP BY k.oid, k.part),
kept AS (
  SELECT c.oid, c.part, c.seq, c.bx, c.by_,
         row_number() OVER (PARTITION BY c.oid, c.part
                            ORDER BY c.seq) AS ord
  FROM bufc c
  JOIN keptn kn ON kn.oid = c.oid AND kn.part = c.part
  LEFT JOIN keptseq ks ON ks.oid = c.oid AND ks.part = c.part
                      AND ks.seq = c.seq
  WHERE kn.nk < 4 OR kn.n + 1 < 3 OR ks.seq IS NOT NULL),
-- containment check (prepare_outline iteration-1 termination): every
-- original vertex even-odd inside its feature's simplified outline
kedge AS (
  SELECT oid, part, bx AS ux, by_ AS uy,
         coalesce(lead(bx) OVER wk, first_value(bx) OVER wk) AS vx,
         coalesce(lead(by_) OVER wk, first_value(by_) OVER wk) AS vy
  FROM kept WINDOW wk AS (PARTITION BY oid, part ORDER BY ord)),
pin AS (
  SELECT p.oid, p.pseq, e.part,
         sum(CASE WHEN (e.uy > p.py) <> (e.vy > p.py)
                   AND p.px < (e.vx - e.ux) * (p.py - e.uy)
                             / (e.vy - e.uy) + e.ux
                  THEN 1 ELSE 0 END) % 2 = 1 AS inside
  FROM origp p JOIN kedge e ON e.oid = p.oid
  GROUP BY p.oid, p.pseq, e.part),
contain AS (
  SELECT oid, bool_and(any_inside) AS all_in
  FROM (SELECT oid, pseq, bool_or(inside) AS any_inside
        FROM pin GROUP BY oid, pseq)
  GROUP BY oid),
lines AS (
  SELECT oid, part, CAST(0 AS BIGINT) AS lseq, '1' AS line FROM bn
  UNION ALL
  SELECT oid, part, ord, printf('   %.6E   %.6E', bx, by_) FROM kept
  UNION ALL
  SELECT k.oid, k.part, max(k.ord) + 1, 'END'
  FROM kept k GROUP BY k.oid, k.part),
ptext AS (
  SELECT oid, string_agg(line, chr(10) ORDER BY part, lseq) AS body
  FROM lines GROUP BY oid)
SELECT m.oid AS osm_id, m.pname AS poly_name,
       CASE WHEN c.all_in
            THEN m.pname || chr(10) || t.body || chr(10) || 'END'
                 || chr(10)
            ELSE '__ORACLE_CONTAINMENT_ITER_GT_1__' END AS poly_text
FROM meta m
JOIN ptext t ON t.oid = m.oid
JOIN contain c ON c.oid = m.oid
ORDER BY osm_id
"""
from posmspark.dissolve import dp_interval_ctes  # noqa: E402

POLY_ORACLE_BODY = POLY_ORACLE_BODY.replace(
    "{DP_CTES}", dp_interval_ctes(
        keys=["oid", "part"], pos="seq", x="bx", y="by_",
        pts="bufc", dom="SELECT oid, part, n AS hi FROM bn",
        tol="CAST({TOL} AS DOUBLE)"))



def poly_export_oracle_sql(level: int = 0, buffer_distance: float = 0.1,
                           simplify_distance: float = 0.01,
                           prepared=None) -> str:
    """DuckDB twin of the `poly_export` registry query (S10,
    extract_poly.py:51-69,116-137): re-derives the BYTE-EXACT .poly
    text in SQL — vertex-normal buffer (IEEE div/sqrt are correctly
    rounded in both engines, so every offset coordinate is
    bit-identical), Douglas-Peucker with geom.douglas_peucker's
    clip/projection expression tree, and printf('%.6E') which matches
    Python's %-formatting byte-for-byte (pinned in tests). The adaptive
    containment loop terminates on iteration 1 iff every original
    vertex falls inside the simplified outline; the oracle derives that
    check in SQL and emits a sentinel (guaranteed driver mismatch) if a
    fixture ever needed iteration 2, rather than silently echoing."""
    if prepared is None:
        from posmspark import synth
        from posmspark.joins import prepare_boundaries

        prepared = prepare_boundaries(
            synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf())
    lvp = prepared.levels_pdf
    vrows, meta, orig = [], [], []
    for r in lvp[lvp.adminlevel == level].itertuples(index=False):
        oid = r.osm_id
        o = str(oid).replace("'", "''")
        pname = (f"{r.iso3166}_{oid}" if isinstance(r.iso3166, str)
                 else str(oid))
        meta.append(f"('{o}','{pname.replace(chr(39), chr(39) * 2)}')")
        pseq = 0
        for part, rings in enumerate(prepared.polys_by_id[oid]):
            outer = np.asarray(rings[0], dtype=np.float64)
            for sq, (x, y) in enumerate(outer[:-1]):
                vrows.append(f"('{o}',{part},{sq},"
                             f"CAST('{float(x)!r}' AS DOUBLE),"
                             f"CAST('{float(y)!r}' AS DOUBLE))")
            for ring in rings:
                for x, y in np.asarray(ring, dtype=np.float64):
                    orig.append(f"('{o}',{pseq},"
                                f"CAST('{float(x)!r}' AS DOUBLE),"
                                f"CAST('{float(y)!r}' AS DOUBLE))")
                    pseq += 1
    body = POLY_ORACLE_BODY.replace(
        "{DIST}", f"'{float(buffer_distance)!r}'").replace(
        "{TOL}", f"'{float(simplify_distance)!r}'")
    return (
        "\nWITH RECURSIVE verts(oid, part, seq, x, y) AS (VALUES\n"
        + ",".join(vrows)
        + "),\norigp(oid, pseq, px, py) AS (VALUES\n" + ",".join(orig)
        + "),\nmeta(oid, pname) AS (VALUES\n" + ",".join(meta) + "),"
        + body
    )


def zip_package_counts_oracle_sql(prepared=None) -> str:
    """DuckDB twin of the `zip_package_counts` registry query (S12,
    generate_geojson.py:117-141): the per-country ZIP packaging
    manifest minus its n_bytes column (exact UTF-8 json.dumps payload
    lengths are shortest-float-repr and stay rows-only on the
    `zip_package_manifest` entry). The oracle independently re-derives
    the country-of assignment — package_boundary_zips' driver-side
    parent-pointer walk — as a recursive CTE over (osm_id, is_in), then
    the per-(country, level, variant) member counts and file names.
    The fixture hierarchy is acyclic; on a cyclic is_in the engine's
    seen-set walk terminates while the recursion is cut at depth 64,
    surfacing the divergence as a loud mismatch instead of a hang."""
    if prepared is None:
        from posmspark import synth
        from posmspark.joins import prepare_boundaries

        prepared = prepare_boundaries(
            synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(),
            n_levels=4)
    rows = []
    for r in prepared.levels_pdf.itertuples(index=False):
        o = str(r.osm_id).replace("'", "''")
        isin = (  # NULL for roots, matching the engine's None
            "CAST(NULL AS VARCHAR)" if r.is_in is None
            or (isinstance(r.is_in, float) and r.is_in != r.is_in)
            else "'" + str(r.is_in).replace("'", "''") + "'")
        rows.append(f"('{o}',{int(r.adminlevel)},{isin})")
    return (
        "\nWITH RECURSIVE lv(osm_id, adminlevel, is_in) AS (VALUES\n"
        + ",".join(rows) + """),
walk(osm_id, adminlevel, cur, cur_isin, depth) AS (
  SELECT osm_id, adminlevel, osm_id, is_in, 0 FROM lv
  UNION ALL
  SELECT w.osm_id, w.adminlevel, p.osm_id, p.is_in, w.depth + 1
  FROM walk w JOIN lv p ON p.osm_id = w.cur_isin
  WHERE w.depth < 64),
assigned AS (
  SELECT osm_id, adminlevel, arg_max(cur, depth) AS country
  FROM walk GROUP BY osm_id, adminlevel),
counts AS (
  SELECT a.country, a.adminlevel, count(*) AS n_features
  FROM assigned a
  JOIN lv c ON c.osm_id = a.country AND c.adminlevel = 0
  GROUP BY a.country, a.adminlevel)
SELECT c.country,
       printf('admin_level_%d_%s.geojson', c.adminlevel, v.variant)
         AS file_name,
       c.n_features
FROM counts c
JOIN (SELECT unnest(['natural', 'simplified']) AS variant) v ON TRUE
ORDER BY country, file_name
""")
