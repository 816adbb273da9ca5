"""Unit tests for the numpy cell encoder (SURVEY.md §5: determinism,
hierarchy, ring neighbors, polygon cover exactness)."""

import numpy as np

from posmspark import cells, geom


def test_encode_decode_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 10_000)
    lat = rng.uniform(-90, 90, 10_000)
    c = cells.encode(lon, lat)
    res, i, j = cells.cell_to_ij(c)
    assert (res == cells.DEFAULT_RES).all()
    c2 = cells.ij_to_cell(i.astype(np.uint64), j.astype(np.uint64))
    assert (c == c2).all()
    # cell bounds contain the point
    lon0, lat0, lon1, lat1 = cells.cell_bounds(c)
    assert (lon >= lon0).all() and (lon < lon1 + 1e-9).all()
    assert (lat >= lat0).all() and (lat < lat1 + 1e-9).all()


def test_encode_deterministic():
    lon = np.array([6.13, -122.41, 85.3])
    lat = np.array([6.87, 37.77, 27.7])
    assert (cells.encode(lon, lat) == cells.encode(lon, lat)).all()


def test_nan_encodes_to_minus_one():
    c = cells.encode(np.array([np.nan, 0.0]), np.array([0.0, np.nan]))
    assert (c == -1).all()


def test_parent_hierarchy():
    c = cells.encode(np.array([6.13]), np.array([6.87]), res=12)
    p = cells.parent(c)
    res, i, j = cells.cell_to_ij(c)
    rp, ip, jp = cells.cell_to_ij(p)
    assert rp[0] == 11 and ip[0] == i[0] // 2 and jp[0] == j[0] // 2
    # parent cell bounds contain child center
    cx, cy = cells.cell_center(c)
    lon0, lat0, lon1, lat1 = cells.cell_bounds(p)
    assert lon0 <= cx[0] < lon1 and lat0 <= cy[0] < lat1


def test_k_ring_counts_and_wrap():
    c = int(cells.encode(np.array([0.0]), np.array([0.0]), res=6)[0])
    assert len(cells.k_ring(c, 0)) == 1
    assert len(cells.k_ring(c, 1)) == 9
    assert len(cells.k_ring(c, 2)) == 25
    # wrap at the antimeridian: full ring still 9 distinct cells
    cm = int(cells.encode(np.array([179.99]), np.array([0.0]), res=6)[0])
    ring = cells.k_ring(cm, 1)
    assert len(np.unique(ring)) == 9
    # clip at the pole: corner cell has only 6 neighbors
    cp = int(cells.encode(np.array([0.0]), np.array([89.99]), res=6)[0])
    assert len(cells.k_ring(cp, 1)) == 6


def test_cover_polygon_exact():
    """Every point inside the polygon must land in a cover cell; FULL
    cells must be entirely inside (no exact-PIP needed)."""
    ring = np.array(
        [[10.0, 10.0], [13.0, 10.0], [13.0, 12.5], [11.5, 12.5],
         [11.5, 11.5], [10.0, 11.5], [10.0, 10.0]]
    )  # L-shaped polygon
    cover, full = cells.cover_polygon([ring], res=10)
    cover_set = set(cover.tolist())
    full_set = set(cover[full].tolist())
    assert len(full_set) > 0 and len(cover_set) > len(full_set)

    rng = np.random.default_rng(7)
    px = rng.uniform(9.5, 13.5, 20_000)
    py = rng.uniform(9.5, 13.0, 20_000)
    inside = geom.points_in_rings(px, py, [ring])
    pcell = cells.encode(px, py, res=10)
    # completeness: every inside point's cell is in the cover
    assert all(c in cover_set for c in pcell[inside].tolist())
    # soundness of FULL: every point whose cell is FULL is inside
    in_full = np.array([c in full_set for c in pcell.tolist()])
    assert inside[in_full].all()


def test_cover_polygon_with_hole():
    outer = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    hole = np.array([[1.5, 1.5], [1.5, 2.5], [2.5, 2.5], [2.5, 1.5], [1.5, 1.5]])
    cover, full = cells.cover_polygon([outer, hole], res=10)
    full_set = set(cover[full].tolist())
    # the hole's center cell must not be FULL (it's outside the polygon)
    hc = int(cells.encode(np.array([2.0]), np.array([2.0]), res=10)[0])
    assert hc not in full_set


def test_k_ring_dedupes_on_lon_wrap():
    """ADVICE r01: when 2k+1 >= 2^res the lon wrap revisits columns;
    k_ring must return each cell once."""
    from posmspark import cells

    c = int(cells.encode(np.array([10.0]), np.array([20.0]), 7)[0])
    ring = cells.k_ring(c, 127)  # 2k+1 = 255 >= 128 columns
    assert len(ring) == len(np.unique(ring))
    n = 1 << 7
    assert len(ring) == n * min(n, 255)  # full lon circle x clipped lat rows


def test_boundary_tile_areas_partition_polygon_exactly(spark):
    """Distributed raster<->vector exactness: each boundary's covering
    cells' clipped areas sum to the polygon's own area (the grid
    partitions it; FULL cells contribute whole boxes, boundary cells
    clip)."""
    import pytest
    from pyspark.sql import functions as F

    from posmspark import synth, tiles
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf()
    )
    out = tiles.boundary_tile_areas(spark, prepared)
    got = {r["osm_id"]: r["s"] for r in
           out.groupBy("osm_id").agg(F.sum("tile_area").alias("s")).collect()}
    for oid, polys in prepared.polys_by_id.items():
        exp = sum(geom.ring_area(rg) for rings in polys for rg in rings)
        assert got[oid] == pytest.approx(exp, rel=1e-9), oid


def test_boundary_tile_areas_multipart_no_double_count(spark):
    """Review regression: a multi-part polygon whose parts share a
    cover cell must not be double-counted (one clip per (cell, osm_id),
    not per part)."""
    import pandas as pd
    import pytest

    from pyspark.sql import functions as F

    from posmspark import geom, synth, tiles
    from posmspark.joins import prepare_boundaries

    # two tiny disjoint squares inside one coarse cell
    part_a = synth.rect(10.0, 10.0, 10.01, 10.01)
    part_b = synth.rect(10.02, 10.02, 10.03, 10.03)
    bpdf = pd.DataFrame([{
        "osm_id": "M1", "name": "M1", "name_en": "M1",
        "admin_level": "2", "iso3166": None,
        "boundary": "administrative",
        "geom_wkb": geom.multipolygon_to_wkb([[part_a], [part_b]]),
        "insert_order": 0,
    }])
    mapping = pd.DataFrame(
        [], columns=["country_osm_id", "admin_level_1", "admin_level_2"])
    prepared = prepare_boundaries(bpdf, mapping)
    got = (tiles.boundary_tile_areas(spark, prepared)
           .agg(F.sum("tile_area")).collect()[0][0])
    exp = 2 * (0.01 * 0.01)
    assert got == pytest.approx(exp, rel=1e-9)


def test_cells_random_fuzz_bounds_parent_ring():
    """r03 fuzz (bounded): random coords incl. poles/antimeridian —
    every point lies inside its cell's bounds, child centers lie inside
    the parent's bounds, and k_ring adjacency is symmetric (50-trial
    external run clean)."""
    rng = np.random.default_rng(0)
    for _trial in range(6):
        lon = np.concatenate([rng.uniform(-180, 180, 300),
                              [-180.0, 180.0, 0.0],
                              rng.uniform(179.99, 180, 10),
                              rng.uniform(-180, -179.99, 10)])
        lat = np.concatenate([rng.uniform(-90, 90, 300),
                              [-90.0, 90.0, 0.0],
                              rng.uniform(89.9, 90, 10),
                              rng.uniform(-90, -89.9, 10)])
        c = cells.encode(lon, lat)
        assert (c >= 0).all()
        idx = rng.choice(len(lon), 30, replace=False)
        x0, y0, x1, y1 = cells.cell_bounds(c[idx])
        assert ((x0 - 1e-9 <= lon[idx]) & (lon[idx] <= x1 + 1e-9)
                & (y0 - 1e-9 <= lat[idx]) & (lat[idx] <= y1 + 1e-9)).all()
        pc = cells.parent(c[idx])
        cx, cy = cells.cell_center(c[idx])
        px0, py0, px1, py1 = cells.cell_bounds(pc)
        assert ((px0 <= cx) & (cx <= px1)
                & (py0 <= cy) & (cy <= py1)).all()
        for i in rng.choice(len(lon), 5, replace=False):
            for nb in cells.k_ring(int(c[i]), 1):
                assert int(c[i]) in {int(x) for x in cells.k_ring(int(nb), 1)}
