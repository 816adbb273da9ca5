"""TopoJSON-style quantized topology output (S11).

The reference builds per-country TopoJSON tile trees with the topojson
CLI (prepare_topojson.py:87-162: quantized arcs, shared borders stored
once). This re-expresses that artifact from scratch on top of the
engine's shared-edge chain machinery (dissolve._mesh_segments /
ring_chain_pieces):

- every border polyline between the same owner pair becomes ONE arc,
  referenced by both owners (negative/~i reference = reversed walk,
  the TopoJSON convention), so the artifact is watertight by structure
- arcs are quantized to an integer grid via a transform
  {scale, translate} and delta-encoded, exactly the TopoJSON wire form

A decoder is included so tests can verify the round trip: decoded
borders are bit-identical across owners (same arc), and every point is
within one quantization step of the source geometry.
"""

from __future__ import annotations

import numpy as np

from posmspark.dissolve import _key, _mesh_segments, ring_chain_pieces


def topology(polys_by_id: dict[str, list[list[np.ndarray]]],
             quantization: int = 100_000,
             object_name: str = "boundaries") -> dict:
    """Build a quantized shared-arc topology dict (TopoJSON shape)."""
    _, seg_owners, rings_split = _mesh_segments(polys_by_id)

    pts = np.vstack([
        ring for polys in polys_by_id.values()
        for rings in polys for ring in rings
    ])
    x0, y0 = float(pts[:, 0].min()), float(pts[:, 1].min())
    x1, y1 = float(pts[:, 0].max()), float(pts[:, 1].max())
    q = max(int(quantization), 2)
    kx = (x1 - x0) / (q - 1) or 1.0
    ky = (y1 - y0) / (q - 1) or 1.0

    def quantize(path: np.ndarray) -> np.ndarray:
        gx = np.round((path[:, 0] - x0) / kx).astype(np.int64)
        gy = np.round((path[:, 1] - y0) / ky).astype(np.int64)
        g = np.column_stack([gx, gy])
        # collapse consecutive duplicates (spec) but keep >= 2 points
        keep = np.ones(len(g), dtype=bool)
        keep[1:] = (np.diff(g, axis=0) != 0).any(axis=1)
        g = g[keep]
        if len(g) == 1:
            g = np.vstack([g, g])
        out = g.copy()
        out[1:] -= g[:-1]  # delta encoding
        return out

    arcs: list[np.ndarray] = []
    arc_index: dict[tuple, int] = {}
    geometries = []
    for oid in sorted(rings_split):
        poly_arcs = []
        for rings in rings_split[oid]:
            ring_refs_list = []
            for ring in rings:
                refs = []
                for _oset, path in ring_chain_pieces(ring, seg_owners):
                    a, b = _key(path[0]), _key(path[-1])
                    if a == b and len(path) > 2:
                        # closed chain (enclave): direction-canonical
                        # so both owners share ONE arc (reversed ref)
                        flip = _key(path[1]) > _key(path[-2])
                    else:
                        flip = not (a <= b)
                    p = path[::-1] if flip else path
                    ck = tuple(_key(v) for v in p)
                    if ck not in arc_index:
                        arc_index[ck] = len(arcs)
                        arcs.append(quantize(p))
                    i = arc_index[ck]
                    refs.append(~i if flip else i)
                ring_refs_list.append(refs)
            poly_arcs.append(ring_refs_list)
        geometries.append(
            {"type": "MultiPolygon", "id": oid, "arcs": poly_arcs})

    return {
        "type": "Topology",
        "transform": {"scale": [kx, ky], "translate": [x0, y0]},
        "arcs": [a.tolist() for a in arcs],
        "objects": {
            object_name: {"type": "GeometryCollection",
                          "geometries": geometries}
        },
    }


def decode(topo: dict, object_name: str = "boundaries"
           ) -> dict[str, list[list[np.ndarray]]]:
    """Inverse of topology(): expand delta-encoded quantized arcs back
    to lon/lat rings per object id."""
    kx, ky = topo["transform"]["scale"]
    x0, y0 = topo["transform"]["translate"]
    abs_arcs = []
    for deltas in topo["arcs"]:
        g = np.cumsum(np.asarray(deltas, dtype=np.int64), axis=0)
        abs_arcs.append(
            np.column_stack([g[:, 0] * kx + x0, g[:, 1] * ky + y0]))

    out: dict[str, list[list[np.ndarray]]] = {}
    for geo in topo["objects"][object_name]["geometries"]:
        polys = []
        for ring_refs_list in geo["arcs"]:
            rings = []
            for refs in ring_refs_list:
                parts = []
                for ref in refs:
                    arc = abs_arcs[~ref][::-1] if ref < 0 else abs_arcs[ref]
                    parts.append(arc[:-1])
                ring = np.vstack(parts + [parts[0][:1]])
                rings.append(ring)
            polys.append(rings)
        out[geo["id"]] = polys
    return out


def topology_tree_by_parent(spark, prepared, out_dir: str | None = None,
                            quantization: int = 100_000):
    """Distributed per-parent TopoJSON tile-tree build.

    The reference walks the admin tree on one node and shells out to
    the topojson CLI once per directory (prepare_topojson.py:76-160:
    each parent dir gets a topojson of its direct children plus the
    parent itself flagged is_boundary). Here every (parent, children)
    group is ONE applyInPandas task — the parallelism axis is parents,
    exactly like dissolve_by_parent — and the quantized shared-arc
    artifact (transform + delta-encoded arcs) is written from the task
    when out_dir is given ({out_dir}/{parent}/geometry.topojson.json,
    staged via tmp+rename). Returns one row per group member:
    (parent_osm_id, osm_id, is_boundary, n_arc_refs, n_shared_arcs,
    n_quantized_points, artifact_bytes).
    """
    import json
    import os

    import pandas as pd
    from pyspark.sql import types as T

    # the artifact tree is a per-run product: build into a sibling
    # temp dir and swap it in only AFTER the job succeeds, so removed
    # parents can't survive as stale directories AND a failed rebuild
    # can't destroy the previous good tree (review r03: the earlier
    # eager rmtree wiped the tree at plan-construction time)
    build_dir = None if out_dir is None else out_dir + ".build"
    if build_dir is not None:
        import shutil

        shutil.rmtree(build_dir, ignore_errors=True)

    bc = spark.sparkContext.broadcast(prepared.polys_by_id)
    lp = prepared.levels_pdf
    rows = []
    for lv in sorted(lp.adminlevel.unique()):
        kids = lp[lp.adminlevel == lv + 1]
        # one hash-groupby, not a per-parent boolean scan over all
        # children (O(parents x children) on the driver — review r03)
        members_by_parent = {
            p: g.osm_id.tolist() for p, g in kids.groupby("is_in")}
        for parent in lp[lp.adminlevel == lv].osm_id:
            members = members_by_parent.get(parent)
            if not members:
                continue  # leaf: no directory/topology of its own
            rows.append((parent, parent, True))
            rows.extend((parent, m, False) for m in members)
    # explicit schema: an all-object empty pandas frame (zero groups)
    # fails inference (ADVICE r03)
    src = spark.createDataFrame(
        pd.DataFrame(rows, columns=["parent_osm_id", "osm_id",
                                    "is_boundary"]),
        schema="parent_osm_id string, osm_id string, is_boundary boolean",
    )

    schema = T.StructType([
        T.StructField("parent_osm_id", T.StringType()),
        T.StructField("osm_id", T.StringType()),
        T.StructField("is_boundary", T.BooleanType()),
        T.StructField("n_arc_refs", T.LongType()),
        T.StructField("n_shared_arcs", T.LongType()),
        T.StructField("n_quantized_points", T.LongType()),
        T.StructField("artifact_bytes", T.LongType()),
    ])

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        polys_by_id = bc.value
        parent = key[0]
        mesh = {oid: polys_by_id[oid] for oid in pdf["osm_id"]
                if oid in polys_by_id}
        t = topology(mesh, quantization=quantization)
        payload = json.dumps(t, separators=(",", ":")).encode()
        if build_dir is not None:
            d = os.path.join(build_dir, parent)
            os.makedirs(d, exist_ok=True)
            final = os.path.join(d, "geometry.topojson.json")
            tmp = final + f".tmp{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(payload)
            os.replace(tmp, final)
        stats = {s["osm_id"]: s for s in arc_stats(t)}
        is_b = dict(zip(pdf["osm_id"], pdf["is_boundary"]))
        return pd.DataFrame([
            {
                "parent_osm_id": parent,
                "osm_id": oid,
                "is_boundary": bool(is_b.get(oid, False)),
                "n_arc_refs": s["n_arc_refs"],
                "n_shared_arcs": s["n_shared_arcs"],
                "n_quantized_points": s["n_quantized_points"],
                "artifact_bytes": len(payload),
            }
            for oid, s in sorted(stats.items())
        ])

    result = src.groupBy("parent_osm_id").applyInPandas(run, schema=schema)
    if build_dir is None:
        return result
    # artifacts require the swap: run the job NOW (the checkpoint also
    # makes re-reads of the returned frame cheap), then promote the
    # finished build atomically-enough (old tree stays intact on any
    # executor failure above)
    import shutil

    result = result.localCheckpoint()
    os.makedirs(build_dir, exist_ok=True)  # degenerate: zero groups
    # the applyInPandas tasks wrote artifacts into build_dir from the
    # EXECUTORS; the swap below runs on the driver. On a deployment
    # where they don't share a filesystem (a real cluster writes to
    # object storage instead — S11 docstring), build_dir would be
    # empty/partial here and the swap would replace a good tree with a
    # broken one. Verify every parent directory the job reported
    # actually landed before destroying anything (ADVICE r03).
    expected = {r["parent_osm_id"]
                for r in result.select("parent_osm_id").distinct().collect()}
    landed_missing = sorted(
        p for p in expected
        if not os.path.isfile(
            os.path.join(build_dir, p, "geometry.topojson.json")))
    if landed_missing:
        raise RuntimeError(
            f"topology artifacts for {landed_missing} not visible in "
            f"{build_dir}: executors and driver do not share a "
            "filesystem — point out_dir at shared storage; the previous "
            "tree was left untouched")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(build_dir, out_dir)
    return result


def arc_stats(topo: dict, object_name: str = "boundaries") -> list[dict]:
    """Per-object summary rows for the driver query: arcs referenced,
    shared arcs (referenced by >1 object), quantized points."""
    ref_count: dict[int, int] = {}
    per_obj: dict[str, list[int]] = {}
    for geo in topo["objects"][object_name]["geometries"]:
        ids = []
        for ring_refs_list in geo["arcs"]:
            for refs in ring_refs_list:
                for ref in refs:
                    i = ~ref if ref < 0 else ref
                    ids.append(i)
                    ref_count[i] = ref_count.get(i, 0) + 1
        per_obj[geo["id"]] = ids
    rows = []
    for oid in sorted(per_obj):
        ids = per_obj[oid]
        rows.append({
            "osm_id": oid,
            "n_arc_refs": len(ids),
            "n_shared_arcs": sum(1 for i in set(ids) if ref_count[i] > 1),
            "n_quantized_points": int(
                sum(len(topo["arcs"][i]) for i in set(ids))),
        })
    return rows


TOPO_ORACLE_TAIL = """,
-- per-group TopoJSON transform (bbox over the raw mesh coords)
tf AS (
  SELECT gid, min(x) AS x0, min(y) AS y0,
         CASE WHEN (max(x) - min(x)) / CAST({QM1} AS DOUBLE) = 0
              THEN CAST(1.0 AS DOUBLE)
              ELSE (max(x) - min(x)) / CAST({QM1} AS DOUBLE) END AS sx,
         CASE WHEN (max(y) - min(y)) / CAST({QM1} AS DOUBLE) = 0
              THEN CAST(1.0 AS DOUBLE)
              ELSE (max(y) - min(y)) / CAST({QM1} AS DOUBLE) END AS sy
  FROM verts GROUP BY gid),
-- canonical-order point rows per piece with RAW coords (the engine
-- quantizes the raw canonical path, not the grid reconstruction)
tpts0 AS (
  SELECT gid, oid, part, ring, piece, 0 AS ppos, kx, ky, rx, ry
  FROM (SELECT *, min(rk) OVER (PARTITION BY oid, part, ring, piece)
                    AS mrk
        FROM chained)
  WHERE rk = mrk
  UNION ALL
  SELECT gid, oid, part, ring, piece,
         row_number() OVER (PARTITION BY oid, part, ring, piece
                            ORDER BY rk) AS ppos,
         nkx, nky, nrx, nry
  FROM chained),
tcan AS MATERIALIZED (
  SELECT q.gid, q.oid, q.part, q.ring, q.piece,
         CASE WHEN f.flip THEN f.np - 1 - q.ppos ELSE q.ppos END AS cpos,
         q.kx, q.ky, q.rx, q.ry
  FROM tpts0 q JOIN pflip f
    ON f.oid = q.oid AND f.part = q.part AND f.ring = q.ring
   AND f.piece = q.piece),
-- arc identity = canonical snap-key sequence (topology()'s arc_index)
arcid AS MATERIALIZED (
  SELECT gid, oid, part, ring, piece,
         string_agg(CAST(kx AS VARCHAR) || ':' || CAST(ky AS VARCHAR),
                    ',' ORDER BY cpos) AS ak
  FROM tcan GROUP BY gid, oid, part, ring, piece),
refcnt AS (SELECT gid, ak, count(*) AS rc FROM arcid GROUP BY gid, ak),
-- arc representative = first piece in the engine's iteration order
-- (sorted REAL osm_id, then poly/ring/chain order). The VALUES object
-- ids are running-index surrogates whose string order is neither
-- numeric nor the engine's sorted-id order, so rank via meta's osm_id
arcrep AS (
  SELECT gid, ak, oid, part, ring, piece FROM (
    SELECT a.gid, a.ak, a.oid, a.part, a.ring, a.piece,
           row_number() OVER (PARTITION BY a.gid, a.ak
                              ORDER BY m.osm_id, a.part, a.ring,
                                       a.piece) AS rn
    FROM arcid a JOIN meta m ON m.cid = a.oid) WHERE rn = 1),
-- quantized point count per arc: ties-to-even grid snap (CAST ==
-- np.round), consecutive-duplicate collapse, floor of 2 points
qcoll AS (
  SELECT gid, ak, count(*) AS nq0 FROM (
    SELECT r.gid, r.ak, t.cpos,
           CAST((t.rx - f.x0) / f.sx AS BIGINT) AS gx,
           CAST((t.ry - f.y0) / f.sy AS BIGINT) AS gy,
           lag(CAST((t.rx - f.x0) / f.sx AS BIGINT))
             OVER wq AS pgx,
           lag(CAST((t.ry - f.y0) / f.sy AS BIGINT))
             OVER wq AS pgy
    FROM arcrep r
    JOIN tcan t ON t.gid = r.gid AND t.oid = r.oid AND t.part = r.part
               AND t.ring = r.ring AND t.piece = r.piece
    JOIN tf f ON f.gid = r.gid
    WINDOW wq AS (PARTITION BY r.gid, r.ak ORDER BY t.cpos))
  WHERE pgx IS NULL OR gx <> pgx OR gy <> pgy
  GROUP BY gid, ak),
nqp AS (SELECT gid, ak, CASE WHEN nq0 < 2 THEN 2 ELSE nq0 END AS nq
        FROM qcoll),
objarc AS (SELECT DISTINCT gid, oid, ak FROM arcid),
stats AS (
  SELECT o.gid, o.oid,
         sum(CASE WHEN rc.rc > 1 THEN 1 ELSE 0 END) AS n_shared,
         CAST(sum(n.nq) AS BIGINT) AS n_qpts
  FROM objarc o
  JOIN refcnt rc ON rc.gid = o.gid AND rc.ak = o.ak
  JOIN nqp n ON n.gid = o.gid AND n.ak = o.ak
  GROUP BY o.gid, o.oid),
nrefs AS (SELECT gid, oid, count(*) AS n_refs
          FROM arcid GROUP BY gid, oid)
SELECT m.parent_osm_id, m.osm_id, m.is_boundary,
       CAST(r.n_refs AS BIGINT) AS n_arc_refs,
       CAST(s.n_shared AS BIGINT) AS n_shared_arcs,
       s.n_qpts AS n_quantized_points
FROM meta m
JOIN nrefs r ON r.oid = m.cid
JOIN stats s ON s.oid = m.cid
ORDER BY m.parent_osm_id, m.osm_id
"""


def topojson_arc_stats_oracle_sql(quantization: int = 100_000,
                                  prepared=None) -> str:
    """DuckDB twin of the `topojson_arc_stats` registry query (S11,
    prepare_topojson.py:87-162): per (parent group, object) the arc
    reference count, shared-arc count, and quantized point total,
    re-derived in SQL from raw ring-vertex VALUES via the shared chain
    CTEs (owner-set runs, rotation + direction canonicalization) plus
    a topo tail: arc identity = canonical snap-key sequence, transform
    = per-group bbox / (q-1), grid snap with ties-to-even CAST
    (== np.round), consecutive-duplicate collapse with a 2-point
    floor, and the engine's first-in-sorted-order arc representative.
    artifact_bytes stays rows-only on `topojson_export` (json.dumps
    shortest-float-repr). Objects appear in multiple groups (a level-1
    feature is a child in one and the boundary of its own), so VALUES
    object ids are a per-(group, object) running index — unique by
    construction, no delimiter collisions — and meta maps them back."""
    from posmspark.dissolve import SIMPLIFY_ORACLE_BODY, SNAP

    if prepared is None:
        from posmspark import synth
        from posmspark.joins import prepare_boundaries

        prepared = prepare_boundaries(
            synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(),
            n_levels=4)
    lp = prepared.levels_pdf
    vrows, meta = [], []
    for lv in sorted(lp.adminlevel.unique()):
        kids = lp[lp.adminlevel == lv + 1]
        members_by_parent = {
            p: g.osm_id.tolist() for p, g in kids.groupby("is_in")}
        for parent in lp[lp.adminlevel == lv].osm_id:
            members = members_by_parent.get(parent)
            if not members:
                continue
            g = str(parent).replace("'", "''")
            for oid in [parent] + list(members):
                if oid not in prepared.polys_by_id:
                    continue
                o = str(oid).replace("'", "''")
                # composite id must be collision-free even when osm_ids
                # contain the delimiter, so key on a running index
                cid = f"c{len(meta)}"
                meta.append(f"('{cid}','{g}','{o}',"
                            f"{'true' if oid == parent else 'false'})")
                for part, rings in enumerate(prepared.polys_by_id[oid]):
                    for ri, ring in enumerate(rings):
                        rr = np.asarray(ring, dtype=np.float64)
                        a = rr[:-1] if np.allclose(rr[0], rr[-1]) else rr
                        for sq in range(len(a)):
                            vrows.append(
                                f"('{g}','{cid}',{part},{ri},{sq},"
                                f"CAST('{float(a[sq, 0])!r}' AS DOUBLE),"
                                f"CAST('{float(a[sq, 1])!r}' AS DOUBLE))")
    body = (SIMPLIFY_ORACLE_BODY + TOPO_ORACLE_TAIL).replace(
        "{S}", f"'{SNAP!r}'").replace(
        "{QM1}", str(max(int(quantization), 2) - 1))
    return (
        "\nWITH RECURSIVE verts(gid, oid, part, ring, seq, x, y)"
        " AS (VALUES\n" + ",".join(vrows)
        + "),\nmeta(cid, parent_osm_id, osm_id, is_boundary) AS (VALUES\n"
        + ",".join(meta) + "),\n" + body
    )
