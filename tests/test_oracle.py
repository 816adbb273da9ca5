"""Mirror of the driver's correctness gate: run every registry query on
Spark AND its DuckDB oracle SQL at sf0.001, compare row count, column
names, and order-insensitive values (floats to 1e-9 rel)."""

import math
import os

import duckdb
import pytest

from posmspark.relops import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def _rows_to_sorted(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _kind(dtype):
    # Collapse numpy dtype kinds the way the driver's hasher distinguishes
    # stringified cells: ints render "180", floats "180.0".
    k = dtype.kind
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    return "other"


#: Registry entries whose oracle SQL lives outside relops.QUERIES
#: (pipeline.py / lineage.py / tablefmt.py / dedup.py) — mirror the
#: driver gate for them too, so a drift in the portable-draw/cell/
#: haversine/FNV SQL twins is caught in-suite before the driver runs
#: (VERDICT r04 item 1).
EXTERNAL_ORACLE_NAMES = [
    "pip_assignment",
    "pip_tile_rollup",
    "cell_tile_stats",
    "knn_cellring",
    "streaming_tile_counts",
    "streaming_dedup",
    "byte_identity_audit",
    "problems_routing",
    "incremental_manifest",
    "table_snapshots",
    "simhash_near_pairs",
    "multimodal_features",
    "tile_clip_areas",
    "dissolve_parents",
    "residual_holes",
    "simplify_mesh_stats",
    "dual_export",
    "poly_export",
    "zip_package_counts",
    "topojson_arc_stats",
    "shapefile_source",
    "ann_lsh_topk",
    "ann_ivf_probe_topk",
]


def _compare(name, sdf, ddb, sql):
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    rel = ddb.sql(sql)
    duck_cols = [c.lower() for c in rel.columns]
    duck_rows = rel.fetchall()
    spdf = sdf.toPandas()
    dpdf = rel.df()
    for c in spdf.columns:
        cl = c.lower()
        dc = next(d for d in dpdf.columns if d.lower() == cl)
        assert _kind(spdf[c].dtype) == _kind(dpdf[dc].dtype), (
            f"{name}.{c}: pandas dtype kind {spdf[c].dtype} (spark) vs "
            f"{dpdf[dc].dtype} (oracle) — driver hasher would mismatch")
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}")
    a = _rows_to_sorted(spark_rows, spark_cols)
    b = _rows_to_sorted(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_tile_clip_oracle_ring_size_within_pairwise_tree():
    """ADVICE r05: tile_clip_areas_oracle_sql's shoelace CTE mirrors the
    numpy pairwise summation only for rings with < 16 terms (explicit
    8-leaf tree + sequential tail). The fixture's clipped rings never
    exceed that today; this assert makes a future fixture that does
    fail LOUDLY here instead of producing a subtle bitwise float
    divergence in the driver's hash gate."""
    import numpy as np

    from posmspark import cells, geom, synth
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(),
        n_levels=4)
    # same per-(cell, osm_id) collapse as tiles.boundary_tile_areas
    cov = (prepared.cover_pdf.groupby(["cell", "osm_id"])["full"]
           .max().reset_index())
    max_verts = 0
    for r in cov[~cov["full"]].itertuples(index=False):
        x0, y0, x1, y1 = (float(a[0]) for a in cells.cell_bounds(
            np.array([r.cell], dtype=np.int64)))
        clipped = geom.clip_multipolygon_bbox(
            prepared.polys_by_id[r.osm_id], (x0, y0, x1, y1))
        for crings in clipped:
            for ring in crings:
                max_verts = max(max_verts, len(ring))
    assert 0 < max_verts <= 15, (
        f"a clipped ring has {max_verts} vertices; the oracle's "
        "pairwise-sum CTE only matches numpy up to 15 terms — extend "
        "the tree in tiles.tile_clip_areas_oracle_sql first")


@pytest.mark.parametrize("name", EXTERNAL_ORACLE_NAMES)
def test_external_query_matches_oracle(spark, ddb, name):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    sdf = entry.queries()[name](spark, SF_DIR)
    _compare(name, sdf, ddb, entry.oracle_sql()[name])


@pytest.mark.parametrize("name", [n for n, (_, sql) in QUERIES.items() if sql])
def test_query_matches_oracle(spark, ddb, name):
    fn, sql = QUERIES[name]
    _compare(name, fn(spark, SF_DIR), ddb, sql)


def test_md5_draw_pair_identical(spark):
    """The shared portable-draw helper pair (synth.md5_draw_expr /
    md5_draw_sql) is the load-bearing contract behind the hash-checked
    flagship oracles — pin Spark and DuckDB producing the identical
    integer for the same inputs."""
    import duckdb as _duckdb

    from pyspark.sql import functions as F

    from posmspark import synth

    df = spark.range(0, 200).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("u"))
    got = {r["u"]: r["k"] for r in df.select(
        "u", synth.md5_draw_expr(F.col("u"), "s|", 1000000).alias("k")
    ).collect()}
    con = _duckdb.connect()
    sql = synth.md5_draw_sql("u", "s|", 1000000)
    exp = dict(con.sql(
        f"SELECT u, {sql} AS k FROM "
        f"(SELECT 'u' || CAST(range AS VARCHAR) AS u FROM range(200))"
    ).fetchall())
    assert got == exp


def test_simplify_oracle_wiggly_chain_drops_points(spark):
    """The registry fixture's rect chains keep every point at tol=0.05,
    so the driver row alone never exercises the oracle's DP recursion.
    Pin the drop path here: a mesh whose shared border wiggles at
    +/-0.02 (droppable) with one 0.5 excursion (kept) must simplify,
    and the SQL oracle must agree with simplify_mesh_global bit-exactly
    on the kept-point counts."""
    import duckdb as _duckdb
    import numpy as np
    import pandas as pd

    from posmspark import synth
    from posmspark.dissolve import (simplify_mesh_global,
                                    simplify_mesh_stats_oracle_sql)
    from posmspark.joins import prepare_boundaries

    ys = np.arange(1.0, 10.0)
    amp = np.where(ys == 5.0, 0.5, np.where(ys % 2 == 0, 0.02, -0.02))
    border = np.column_stack([5.0 + amp, ys])  # (5,0) .. interior .. (5,10)
    left = np.vstack([[[0.0, 0.0], [5.0, 0.0]], border,
                      [[5.0, 10.0], [0.0, 10.0], [0.0, 0.0]]])
    right = np.vstack([[[5.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.0, 10.0]],
                       border[::-1], [[5.0, 0.0]]])
    rows = [
        synth._row("C1", "Wiggland", "Wiggland", "2", "ww",
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 0),
        synth._row("P1", "Wig-1", "Wig-1", "4", None,
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 1),
        synth._row("K1", "Wig-1-W", "Wig-1-West", "6", None,
                   "administrative", [[left]], 2),
        synth._row("K2", "Wig-1-E", "Wig-1-East", "6", None,
                   "administrative", [[right]], 3),
    ]
    prepared = prepare_boundaries(pd.DataFrame(rows),
                                  synth.gen_admin_mapping_pdf())
    sdf = simplify_mesh_global(spark, prepared, child_level=2, tol=0.05) \
        .select("osm_id", "parent_osm_id", "n_points_before",
                "n_points_after")
    got = {r["osm_id"]: r for r in sdf.collect()}
    assert set(got) == {"K1", "K2"}
    for r in got.values():  # DP actually dropped the +/-0.02 wiggles
        assert r["n_points_after"] < r["n_points_before"]
        assert r["n_points_after"] >= 5  # but kept the 0.5 excursion
    sql = simplify_mesh_stats_oracle_sql(prepared=prepared)
    _compare("simplify_wiggly", sdf, _duckdb.connect(), sql)


def test_dual_export_oracle_wiggly_and_dropped_shell(spark):
    """dual_export oracle on the two paths the registry fixture can't
    reach: (a) a wiggly shared border whose +/-0.02 points DP-drops
    (simplified area != natural area), checked against
    dual_geojson_feature_df; (b) the dropped-shell sliver mesh
    (test_dissolve.py) where a whole part and its hole vanish, checked
    against shared_edge_simplify + ring_area directly."""
    import types

    import duckdb as _duckdb
    import numpy as np
    import pandas as pd

    from posmspark import dissolve, geom, sinks, synth
    from posmspark.dissolve import dual_export_oracle_sql
    from posmspark.joins import prepare_boundaries
    from pyspark.sql import functions as F

    # (a) wiggly border mesh through the real dual export
    ys = np.arange(1.0, 10.0)
    amp = np.where(ys == 5.0, 0.5, np.where(ys % 2 == 0, 0.02, -0.02))
    border = np.column_stack([5.0 + amp, ys])
    left = np.vstack([[[0.0, 0.0], [5.0, 0.0]], border,
                      [[5.0, 10.0], [0.0, 10.0], [0.0, 0.0]]])
    right = np.vstack([[[5.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.0, 10.0]],
                       border[::-1], [[5.0, 0.0]]])
    rows = [
        synth._row("C1", "Wiggland", "Wiggland", "2", "ww",
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 0),
        synth._row("P1", "Wig-1", "Wig-1", "4", None,
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 1),
        synth._row("K1", "Wig-1-W", "Wig-1-West", "6", None,
                   "administrative", [[left]], 2),
        synth._row("K2", "Wig-1-E", "Wig-1-East", "6", None,
                   "administrative", [[right]], 3),
    ]
    prepared = prepare_boundaries(pd.DataFrame(rows),
                                  synth.gen_admin_mapping_pdf())
    sdf = (sinks.dual_geojson_feature_df(spark, prepared, tol=0.05)
           .select("osm_id", "adminlevel", "variant", "n_points",
                   F.round("area", 9).alias("area")))
    got = {(r["osm_id"], r["variant"]): r for r in sdf.collect()}
    # the simplified children really changed shape
    for oid in ("K1", "K2"):
        assert (got[(oid, "simplified")]["n_points"]
                < got[(oid, "natural")]["n_points"])
        assert (got[(oid, "simplified")]["area"]
                != got[(oid, "natural")]["area"])
    _compare("dual_wiggly", sdf, _duckdb.connect(),
             dual_export_oracle_sql(prepared=prepared))

    # (b) dropped-shell mesh: oracle vs the engine kernel directly
    def rect(x0, y0, x1, y1):
        return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])

    polys = {
        "A": [[rect(0, 0, 10, 0.01),
               rect(1, 0.002, 9, 0.008)[::-1].copy()]],
        "N": [[rect(0, -1, 10, 0)]],
        "E1": [[rect(1, 0.002, 3, 0.008)]],
        "E2": [[rect(3, 0.002, 6, 0.008)]],
        "E3": [[rect(6, 0.002, 9, 0.008)]],
    }
    fake = types.SimpleNamespace(
        levels_pdf=pd.DataFrame({"osm_id": sorted(polys),
                                 "adminlevel": [2] * len(polys)}),
        polys_by_id=polys)
    simplified = dissolve.shared_edge_simplify(polys, tol=0.05)
    assert simplified["A"] == []  # the interesting case: whole part drops
    exp = []
    for variant, geoms in (("natural", polys), ("simplified", simplified)):
        for oid in sorted(polys):
            ps = geoms[oid]
            exp.append((oid, 2, variant,
                        int(sum(len(r) for rs in ps for r in rs)),
                        round(sum(geom.ring_area(r)
                                  for rs in ps for r in rs), 9)))
    orc = _duckdb.connect().execute(
        dual_export_oracle_sql(prepared=fake)).fetchall()
    assert sorted(exp) == sorted(tuple(r) for r in orc)


def test_poly_export_oracle_circle_byte_exact(spark):
    """poly_export oracle on irrational coordinates where DP actually
    drops points: an 80-vertex circle country. The buffered outline's
    two-segment chord deviations (~0.007) sit under the 0.01 tolerance, so the
    simplified ring is a strict subset — and the .poly text must still
    be BYTE-identical between the Spark sink and the SQL re-derivation
    (vertex-normal buffer arithmetic, DP keep set, printf %.6E)."""
    import duckdb as _duckdb
    import numpy as np
    import pandas as pd

    from posmspark import sinks, synth
    from posmspark.joins import prepare_boundaries

    t = np.linspace(0.0, 2 * np.pi, 81)
    circ = np.column_stack([30 + 2.1 * np.cos(t), -20 + 2.1 * np.sin(t)])
    circ[-1] = circ[0]
    rows = [synth._row("C9", "Roundland", "Roundland", "2", "rr",
                       "administrative", [[circ]], 0)]
    prepared = prepare_boundaries(pd.DataFrame(rows),
                                  synth.gen_admin_mapping_pdf())
    got = {r["osm_id"]: r for r in
           sinks.poly_export_df(spark, prepared, level=0).collect()}
    orc = {r[0]: r for r in _duckdb.connect().execute(
        sinks.poly_export_oracle_sql(prepared=prepared)).fetchall()}
    assert set(got) == set(orc) == {"C9"}
    assert got["C9"]["poly_name"] == orc["C9"][1] == "RR_C9"
    assert got["C9"]["poly_text"] == orc["C9"][2]
    # the DP drop path really ran: fewer points than the buffered ring
    n_lines = got["C9"]["poly_text"].count("\n")
    assert 4 + 4 <= n_lines < 81 + 4


def test_simplify_oracle_subquantum_duplicate_vertex(spark):
    """Self-review r05: a ring with two consecutive vertices within
    half a snap quantum (same snap key) — the engine's
    _split_ring_at_vertices keep-mask collapses the second; the SQL
    oracle must apply the identical collapse or its chain structure
    (and kept counts) diverge."""
    import duckdb as _duckdb
    import numpy as np
    import pandas as pd

    from posmspark import synth
    from posmspark.dissolve import (simplify_mesh_global,
                                    simplify_mesh_stats_oracle_sql)
    from posmspark.joins import prepare_boundaries

    border = np.array([
        [5.0, 2.0],
        [5.0 + 4e-10, 2.0 + 3e-10],  # same snap key as the previous
        [5.5, 5.0],                   # kept excursion
        [5.0, 8.0],
    ])
    left = np.vstack([[[0.0, 0.0], [5.0, 0.0]], border,
                      [[5.0, 10.0], [0.0, 10.0], [0.0, 0.0]]])
    right = np.vstack([[[5.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.0, 10.0]],
                       border[::-1], [[5.0, 0.0]]])
    rows = [
        synth._row("C1", "Dupland", "Dupland", "2", "dd",
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 0),
        synth._row("P1", "Dup-1", "Dup-1", "4", None,
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 1),
        synth._row("K1", "Dup-1-W", "Dup-1-West", "6", None,
                   "administrative", [[left]], 2),
        synth._row("K2", "Dup-1-E", "Dup-1-East", "6", None,
                   "administrative", [[right]], 3),
    ]
    prepared = prepare_boundaries(pd.DataFrame(rows),
                                  synth.gen_admin_mapping_pdf())
    sdf = simplify_mesh_global(spark, prepared, child_level=2, tol=0.05) \
        .select("osm_id", "parent_osm_id", "n_points_before",
                "n_points_after")
    got = {r["osm_id"]: r for r in sdf.collect()}
    assert set(got) == {"K1", "K2"}
    for r in got.values():  # duplicate collapsed, excursion kept
        assert r["n_points_after"] < r["n_points_before"]
    _compare("simplify_subquantum", sdf, _duckdb.connect(),
             simplify_mesh_stats_oracle_sql(prepared=prepared))


def test_simplify_offgrid_tjunction_canonical_chains(spark):
    """r05 chain canonicalization: a T-junction at an OFF-GRID
    coordinate (raw != key*SNAP) means one owner holds the junction as
    a raw ring vertex while its neighbor receives it as a key*SNAP
    insert. All four derivations must agree bit-for-bit:
    shared_edge_simplify, the simplify_mesh_global rows built from it,
    both owners' shared-border polylines, and the DuckDB oracle."""
    import duckdb as _duckdb
    import numpy as np
    import pandas as pd

    from posmspark import dissolve, geom, synth
    from posmspark.dissolve import (SNAP, simplify_mesh_global,
                                    simplify_mesh_stats_oracle_sql)
    from posmspark.joins import prepare_boundaries

    yj = 4.100000000123456  # snaps to 4.1000000000000005 (off-grid)
    rows = [
        synth._row("C1", "Tland", "Tland", "2", "tt",
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 0),
        synth._row("P1", "T-1", "T-1", "4", None,
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 1),
        synth._row("K1", "T-W", "T-West", "6", None,
                   "administrative", [[synth.rect(0, 0, 5, 10)]], 2),
        synth._row("K2", "T-SE", "T-SouthEast", "6", None,
                   "administrative", [[synth.rect(5, 0, 10, yj)]], 3),
        synth._row("K3", "T-NE", "T-NorthEast", "6", None,
                   "administrative", [[synth.rect(5, yj, 10, 10)]], 4),
    ]
    prepared = prepare_boundaries(pd.DataFrame(rows),
                                  synth.gen_admin_mapping_pdf())
    mesh = {o: prepared.polys_by_id[o] for o in ("K1", "K2", "K3")}
    drv = dissolve.shared_edge_simplify(mesh, tol=0.05)
    full = simplify_mesh_global(spark, prepared, child_level=2,
                                tol=0.05).persist()
    dist_rows = full.collect()
    dist = {r["osm_id"]: geom.wkb_to_multipolygon(bytes(r["geom_wkb"]))
            for r in dist_rows}
    gridj = (round(5.0 / SNAP) * SNAP, round(yj / SNAP) * SNAP)
    for oid in mesh:
        for dp_, ep in zip(dist[oid], drv[oid], strict=True):
            for dr, er in zip(dp_, ep, strict=True):
                assert np.array_equal(dr, er), oid  # rows == driver
    # the junction lands at its GRID coordinates in every owner
    for oid in ("K1", "K2", "K3"):
        pts = {(p[0], p[1]) for p in drv[oid][0][0]}
        assert gridj in pts, oid
    # watertight: K1's right border contains the same grid points as
    # K2/K3's left borders
    k1 = {(p[0], p[1]) for p in drv["K1"][0][0] if p[0] == 5.0}
    k23 = {(p[0], p[1]) for o in ("K2", "K3")
           for p in drv[o][0][0] if p[0] == 5.0}
    assert k23 <= k1
    sdf = full.select("osm_id", "parent_osm_id", "n_points_before",
                      "n_points_after")
    _compare("simplify_tjunction", sdf, _duckdb.connect(),
             simplify_mesh_stats_oracle_sql(prepared=prepared))
    full.unpersist()


def test_topojson_arc_stats_oracle_subcell_collapse(spark):
    """topojson_arc_stats oracle on the path the registry fixture never
    reaches: consecutive border vertices closer than one quantization
    cell (range/99999) collapse to one quantized point — the engine's
    quantize() keep-mask and the SQL collapse must agree."""
    import duckdb as _duckdb
    import numpy as np
    import pandas as pd

    from posmspark import synth, topo
    from posmspark.joins import prepare_boundaries

    border = np.array([
        [5.0, 2.0],
        [5.00001, 2.00001],  # < one 1e-4 cell from the previous point
        [5.5, 5.0],
        [5.0, 8.0],
    ])
    left = np.vstack([[[0.0, 0.0], [5.0, 0.0]], border,
                      [[5.0, 10.0], [0.0, 10.0], [0.0, 0.0]]])
    right = np.vstack([[[5.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.0, 10.0]],
                       border[::-1], [[5.0, 0.0]]])
    rows = [
        synth._row("C1", "Qland", "Qland", "2", "qq",
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 0),
        synth._row("P1", "Q-1", "Q-1", "4", None,
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 1),
        synth._row("K1", "Q-1-W", "Q-1-West", "6", None,
                   "administrative", [[left]], 2),
        synth._row("K2", "Q-1-E", "Q-1-East", "6", None,
                   "administrative", [[right]], 3),
    ]
    prepared = prepare_boundaries(pd.DataFrame(rows),
                                  synth.gen_admin_mapping_pdf())
    sdf = (topo.topology_tree_by_parent(spark, prepared)
           .select("parent_osm_id", "osm_id", "is_boundary",
                   "n_arc_refs", "n_shared_arcs", "n_quantized_points")
           .orderBy("parent_osm_id", "osm_id"))
    got = {(r["parent_osm_id"], r["osm_id"]): r for r in sdf.collect()}
    # the collapse really happened: K1/K2's shared-border arc lost the
    # sub-cell twin (raw canonical chain has 4 interior+2 end points;
    # quantized arc must have fewer points than the chain)
    k1 = got[("P1", "K1")]
    assert k1["n_quantized_points"] < 6 + 4 + 4  # < full vertex budget
    _compare("topo_subcell", sdf, _duckdb.connect(),
             topo.topojson_arc_stats_oracle_sql(prepared=prepared))




def test_zip_counts_oracle_cyclic_isin_terminates():
    """A cyclic is_in must not hang the recursive-CTE oracle: the
    depth-64 guard cuts the walk, cycle members drop out of the
    country rollup (they never reach an adminlevel-0 node), and the
    acyclic country still reports — the engine's seen-set walk agrees
    that no level-0 country claims the cycle."""
    import types

    import duckdb as _duckdb
    import pandas as pd

    from posmspark.sinks import zip_package_counts_oracle_sql

    lp = pd.DataFrame([
        {"osm_id": "C", "adminlevel": 0, "is_in": None},
        {"osm_id": "X", "adminlevel": 1, "is_in": "Y"},
        {"osm_id": "Y", "adminlevel": 1, "is_in": "X"},
    ])
    fake = types.SimpleNamespace(levels_pdf=lp)
    got = sorted(_duckdb.connect().execute(
        zip_package_counts_oracle_sql(prepared=fake)).fetchall())
    assert got == [("C", "admin_level_0_natural.geojson", 1),
                   ("C", "admin_level_0_simplified.geojson", 1)]


def test_topo_arc_stats_oracle_pipe_osm_ids(spark):
    """osm_ids containing the old composite-id delimiter '|' must not
    collide across (group, object) pairs: group 'A' object 'B|C' and
    group 'A|B' object 'C' both rendered cid 'A|B|C' under the retired
    f'{{g}}|{{o}}' scheme, merging their vertex sets. The running-index
    cids keep them distinct — engine and oracle must match exactly."""
    import duckdb as _duckdb
    import pandas as pd

    from posmspark import synth, topo
    from posmspark.joins import prepare_boundaries

    rows = [
        synth._row("A", "Aland", "Aland", "2", "aa",
                   "administrative", [[synth.rect(0, 0, 10, 10)]], 0),
        synth._row("A|B", "West", "West", "4", None,
                   "administrative", [[synth.rect(0, 0, 5, 10)]], 1),
        synth._row("B|C", "East", "East", "4", None,
                   "administrative", [[synth.rect(5, 0, 10, 10)]], 2),
        synth._row("C", "SubWest", "SubWest", "6", None,
                   "administrative", [[synth.rect(0, 0, 5, 5)]], 3),
    ]
    prepared = prepare_boundaries(pd.DataFrame(rows),
                                  synth.gen_admin_mapping_pdf())
    # the collision precondition really holds in this fixture
    assert {("A", "B|C"), ("A|B", "C")} <= {
        (p, o) for p, o in zip(prepared.levels_pdf.is_in,
                               prepared.levels_pdf.osm_id) if p}
    sdf = (topo.topology_tree_by_parent(spark, prepared)
           .select("parent_osm_id", "osm_id", "is_boundary",
                   "n_arc_refs", "n_shared_arcs", "n_quantized_points"))
    _compare("topo_pipe_ids", sdf, _duckdb.connect(),
             topo.topojson_arc_stats_oracle_sql(prepared=prepared))


def _fuzz_bsp(x0, y0, x1, y1, rng, depth):
    from posmspark.synth import rect
    if depth == 0 or rng.random() < 0.3:
        return [rect(x0, y0, x1, y1)]
    if rng.random() < 0.5:
        xm = x0 + (x1 - x0) * rng.uniform(0.3, 0.7)
        return (_fuzz_bsp(x0, y0, xm, y1, rng, depth - 1)
                + _fuzz_bsp(xm, y0, x1, y1, rng, depth - 1))
    ym = y0 + (y1 - y0) * rng.uniform(0.3, 0.7)
    return (_fuzz_bsp(x0, y0, x1, ym, rng, depth - 1)
            + _fuzz_bsp(x0, ym, x1, y1, rng, depth - 1))


def _fuzz_wiggly(rng, base, scale, tol):
    import numpy as np
    n = rng.integers(4, 14)
    ys = np.sort(rng.uniform(0.5, 9.5, n)) * scale + base
    amp = (rng.uniform(0.5 * tol, 1.5 * tol, n)
           * np.where(rng.random(n) < 0.5, 1, -1) * scale)
    border = np.column_stack([base + 5.0 * scale + amp, ys])
    b0, b1, mid = base, base + 10.0 * scale, base + 5.0 * scale
    left = np.vstack([[[b0, b0], [mid, b0]], border,
                      [[mid, b1], [b0, b1], [b0, b0]]])
    right = np.vstack([[[mid, b0], [b1, b0], [b1, b1], [mid, b1]],
                       border[::-1], [[mid, b0]]])
    return {"K1": [[left]], "K2": [[right]]}


def _fuzz_mesh(seed):
    """Random mesh + tolerance for the oracle fuzz campaigns: BSP rect
    tilings (kind 0), wiggly near-threshold borders (kind 1), the same
    at off-grid magnitudes (kind 2)."""
    import numpy as np
    rng = np.random.default_rng(seed)
    tol = float(rng.uniform(0.02, 0.2))
    if seed % 3 == 0:
        scale = 10.0 ** float(rng.integers(-2, 3))
        b = float(rng.uniform(0, 100)) * scale
        tiles = _fuzz_bsp(b, b, b + rng.uniform(5, 12) * scale,
                          b + rng.uniform(5, 12) * scale, rng, 3)
        return {f"c{i}": [[t]] for i, t in enumerate(tiles)}, tol * scale
    if seed % 3 == 1:
        return _fuzz_wiggly(rng, 0.0, 1.0, tol), tol
    base = float(rng.uniform(0, 50)) + rng.uniform(0, 1e-7)
    scale = 10.0 ** float(rng.integers(-1, 2))
    return _fuzz_wiggly(rng, base, scale, tol * scale), tol * scale


@pytest.mark.parametrize("seed", [1, 4, 9, 11, 12, 32])
def test_dual_oracle_fuzz_pinned(seed):
    """Pinned subset of the external dual-oracle fuzz campaign (200
    random meshes clean in r05) — shared_edge_simplify + shoelace vs
    the DuckDB dual oracle. Counts exact; areas to machine precision
    (the fuzz runs magnitudes where round(.,9) sits AT double ulp; the
    driver fixture is ~1e5x inside that boundary)."""
    import math
    import types

    import duckdb as _duckdb
    import pandas as pd

    from posmspark import dissolve, geom
    from posmspark.dissolve import dual_export_oracle_sql

    polys, tol = _fuzz_mesh(seed)
    fake = types.SimpleNamespace(
        levels_pdf=pd.DataFrame({"osm_id": sorted(polys),
                                 "adminlevel": [2] * len(polys)}),
        polys_by_id=polys)
    simplified = dissolve.shared_edge_simplify(polys, tol=tol)
    exp = sorted(
        (oid, 2, variant,
         int(sum(len(r) for rs in ps for r in rs)),
         round(sum(geom.ring_area(r) for rs in ps for r in rs), 9))
        for variant, geoms in (("natural", polys),
                               ("simplified", simplified))
        for oid, ps in ((o, geoms[o]) for o in sorted(polys)))
    got = sorted(tuple(r) for r in _duckdb.connect().execute(
        dual_export_oracle_sql(tol=tol, prepared=fake)).fetchall())
    assert len(exp) == len(got)
    for a, b in zip(exp, got):
        assert a[:4] == b[:4], (a, b)
        assert math.isclose(a[4], b[4], rel_tol=1e-11, abs_tol=1e-11), (a, b)


@pytest.mark.parametrize("seed", [3, 7, 20])
def test_topo_oracle_fuzz_pinned(seed):
    """Pinned subset of the external topo-oracle fuzz campaign (150
    random meshes clean in r05): topo.topology + arc_stats vs the
    DuckDB arc-stats oracle on the same three mesh kinds."""
    import types

    import duckdb as _duckdb
    import pandas as pd

    from posmspark import topo

    polys, _tol = _fuzz_mesh(seed)
    t = topo.topology(polys, quantization=100_000)
    exp = sorted(
        ("G", s["osm_id"], False, s["n_arc_refs"],
         s["n_shared_arcs"], s["n_quantized_points"])
        for s in topo.arc_stats(t))
    lp = pd.DataFrame(
        [{"osm_id": "G", "adminlevel": 0, "is_in": None}]
        + [{"osm_id": o, "adminlevel": 1, "is_in": "G"}
           for o in sorted(polys)])
    fake = types.SimpleNamespace(levels_pdf=lp, polys_by_id=polys)
    got = sorted(tuple(r) for r in _duckdb.connect().execute(
        topo.topojson_arc_stats_oracle_sql(prepared=fake)).fetchall())
    assert exp == got


@pytest.mark.parametrize("seed,n_centroids,n_probe",
                         [(2, 4, 2), (5, 8, 3), (13, 6, 1)])
def test_ivf_probe_oracle_fuzz_pinned(spark, tmp_path, seed, n_centroids,
                                      n_probe):
    """ann_ivf_probe_topk's bit-exactness claim under adversarial ties:
    random float32 embeddings where centroid 1 DUPLICATES centroid 0
    (every vector's cell scores tie across cells 0/1 -> the argmax
    tie-break to the LOWEST cell is load-bearing) and several query
    vectors have exact duplicates in the table (equal re-rank cosines
    -> the vec_id tie-break is load-bearing). Engine and SQL oracle
    must agree exactly at three (n_centroids, n_probe) shapes.
    Pinned subset of a 40-seed external campaign (random n/dim/
    n_centroids/n_probe with the same tie injections — all clean,
    r05)."""
    import duckdb as _duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from posmspark import ann

    rng = np.random.default_rng(seed)
    n, dim, q_lo, n_q = 240, 16, 100, 6
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m[1] = m[0]                       # duplicate centroid pair
    for i in range(q_lo, q_lo + n_q, 2):
        m[i + 60] = m[i + 1]          # duplicate candidates near queries
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row for row in m],
        "label": (np.arange(n) % 5).astype(np.int32),
    })
    path = str(tmp_path / "emb.parquet")
    pdf.to_parquet(path)

    vecs = spark.read.parquet(path)
    sdf = (ann.ivf_probe_topk_exact(
        vecs, spark, k=5, n_centroids=n_centroids, n_probe=n_probe,
        query_lo=q_lo, n_queries=n_q)
        .select("query_id", "vec_id",
                F.round("cos_sim", 6).alias("cos_sim"), "rn"))
    con = _duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    _compare(f"ivf_probe_fuzz_{seed}", sdf, con,
             ann.ivf_probe_topk_oracle_sql(
                 k=5, n_centroids=n_centroids, n_probe=n_probe,
                 query_lo=q_lo, n_queries=n_q))


def test_topo_arc_stats_oracle_rep_order_quant_straddle():
    """The arc-representative rule: the engine quantizes the FIRST
    inserter's raw path in sorted-real-osm_id order. The running-index
    cids sort neither numerically nor in engine order, so arcrep must
    rank via meta's osm_id — pinned on a fixture where it matters:
    K1/K2 share a border whose interior vertex differs between owners
    by 4e-10 (same 1e-9 snap key -> same arc) straddling a ties-even
    quantization-grid boundary, so K1's raw path collapses to one
    fewer quantized point than K2's. Child insertion order is K2-first
    so a cid-ordered representative would wrongly pick K2."""
    import types

    import duckdb as _duckdb
    import numpy as np
    import pandas as pd

    from posmspark import topo

    # found numerically: u and va share a quant cell (collapse), vb is
    # one cell over; va/vb share the snap key round(v / 1e-9)
    u = 3.9990399908999095
    va = 3.9990899906999093
    vb = 3.9990899910999094
    K1 = np.array([[0, 0], [5, 0], [5, u], [5, va], [5, 10],
                   [0, 10], [0, 0]])
    K2 = np.array([[5, 0], [10, 0], [10, 10], [5, 10], [5, vb],
                   [5, u], [5, 0]])
    P1 = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    polys = {"P1": [[P1]], "K2": [[K2]], "K1": [[K1]]}
    t = topo.topology(polys, quantization=100_000)
    exp = sorted(("G", s["osm_id"], False, s["n_arc_refs"],
                  s["n_shared_arcs"], s["n_quantized_points"])
                 for s in topo.arc_stats(t))
    # the straddle really is asymmetric: K1/K2 totals differ from P1's
    by_id = {e[1]: e[5] for e in exp}
    assert by_id["K1"] == by_id["K2"] == by_id["P1"] - 1
    lp = pd.DataFrame(
        [{"osm_id": "G", "adminlevel": 0, "is_in": None}]
        + [{"osm_id": o, "adminlevel": 1, "is_in": "G"}
           for o in ("P1", "K2", "K1")])  # cid order != sorted order
    fake = types.SimpleNamespace(levels_pdf=lp, polys_by_id=polys)
    got = sorted(tuple(r) for r in _duckdb.connect().execute(
        topo.topojson_arc_stats_oracle_sql(prepared=fake)).fetchall())
    assert exp == got


def test_owner_set_encoding_injective():
    """Owner-set fingerprints must be injective for pipe-bearing ids:
    {'A','B','C'} and {'A','B|C'} joined bare with '|' collide, which
    would merge distinct chain runs in the SQL oracle's oset. The
    length-prefixed encoding keeps them distinct."""
    import duckdb as _duckdb

    sql = ("SELECT string_agg(DISTINCT CAST(length(oid) AS VARCHAR)"
           " || ':' || oid, '|'"
           " ORDER BY CAST(length(oid) AS VARCHAR) || ':' || oid)"
           " FROM (SELECT unnest({ids}) AS oid)")
    con = _duckdb.connect()
    a = con.execute(sql.format(ids="['A','B','C']")).fetchone()[0]
    b = con.execute(sql.format(ids="['A','B|C']")).fetchone()[0]
    assert a != b


def test_topo_arc_stats_oracle_ties_even_boundary():
    """Exact half-cell quantization ties must round ties-EVEN in both
    engines (np.round == DuckDB CAST AS BIGINT; half-away-from-zero
    would diverge): border vertices sit at y = (k + 0.5) * sy with the
    division exactly representable (searched), paired with a
    cell-center neighbor so the consecutive-duplicate collapse — and
    hence n_quantized_points — flips if either engine rounds the tie
    up instead of to even."""
    import types

    import duckdb as _duckdb
    import numpy as np
    import pandas as pd

    from posmspark import topo

    sy = 10 / 99999
    y_tie = (39000 + 0.5) * sy     # y_tie / sy == 39000.5 exactly
    assert y_tie / sy == 39000.5
    y_lo = 39000 * sy              # cell 39000 center
    y_tie2 = (59000 + 0.5) * sy
    assert y_tie2 / sy == 59000.5
    y_hi = 59000 * sy              # cell 59000 center
    border = [[5, 0], [5, y_lo], [5, y_tie], [5, 5],
              [5, y_hi], [5, y_tie2], [5, 10]]
    K1 = np.array([[0, 0], [5, 0]] + border[1:-1] + [[5, 10], [0, 10],
                                                     [0, 0]])
    K2 = np.array([[5, 0], [10, 0], [10, 10], [5, 10]]
                  + border[-2:0:-1] + [[5, 0]])
    polys = {"K1": [[K1]], "K2": [[K2]]}
    t = topo.topology(polys, quantization=100_000)
    exp = sorted(("G", s["osm_id"], False, s["n_arc_refs"],
                  s["n_shared_arcs"], s["n_quantized_points"])
                 for s in topo.arc_stats(t))
    # ties-even collapsed BOTH tie/center pairs on the shared arc:
    # 7 raw border points -> 5 quantized (a half-up rule would keep 7,
    # reading 11 per object instead of 9 with the 4-point solo arc)
    assert [e[5] for e in exp] == [9, 9]
    lp = pd.DataFrame(
        [{"osm_id": "G", "adminlevel": 0, "is_in": None}]
        + [{"osm_id": o, "adminlevel": 1, "is_in": "G"}
           for o in sorted(polys)])
    fake = types.SimpleNamespace(levels_pdf=lp, polys_by_id=polys)
    got = sorted(tuple(r) for r in _duckdb.connect().execute(
        topo.topojson_arc_stats_oracle_sql(prepared=fake)).fetchall())
    assert exp == got
