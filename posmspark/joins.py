"""Spatial joins: map-only broadcast point-in-polygon and cell-ring kNN.

Re-expresses the reference's three sequential full-input passes
(/root/reference/extractor/extract.py:92,180,274 — countries, states,
counties, each rebuilding an R-tree + prepared-geometry dict) as ONE
scan of the fact table with a broadcast prepared index:

  pages --ingest (textx.with_ingest_jvm: byte-identity + geotag +
          cell)-->
        --broadcast hash join on the COVER_RES cell to the index table
          (one row per cover cell)-->
        --one Project: per level, the first boundary candidate whose
          edges the point's ray crosses an odd number of times, else
          the FULL winner--> (osm_id_l0, l1, l2)

The build side (admin polygons) is a small dimension:
PreparedBoundaries.index_table() holds, per cover cell, each level's
FULL winner and its first-match-ordered boundary candidates, every
candidate cut to the edge band that can cross a ray from a point of
that cell. It is the Spark-native form of the reference's in-process
R-tree + prep(geom) dict (extract.py:75-77,152-155). Assignment is
STATELESS, shuffle-free and Python-free: the 100 TB fact table streams
through map tasks only, the containment test runs as Spark
higher-order functions (interpreted, on boundary-cell rows only), and
the identical code path serves Structured Streaming.

First-match semantics: the reference returns the FIRST R-tree candidate
that contains the point (exposm/utils.py:43-48), which depends on
insertion order; we pin that with an explicit insert_order priority
inside the cover map. One rule (_build_index) orders the candidates
both for the numpy resolver _resolve_points, which prepare_boundaries
runs on the driver to find each feature's country and parent, and for
the index table pip_join broadcasts; pip_join is bit-identical to
_resolve_points (tested on random and adversarial points).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from posmspark import cells, geom
from posmspark.synth import ADMIN_DEFAULTS

# Coarse-join resolution is decoupled from the tile resolution: the
# cover table (broadcast side) shrinks 16x at res 10 vs res 12 while the
# exact-PIP pass absorbs the slightly wider boundary ring — the classic
# broadcast-size vs verify-work tradeoff. Tile cells stay at
# cells.DEFAULT_RES (12).
COVER_RES = 10


# ---------------------------------------------------------------------------
# cell encode UDF


# cell_udf (the default-resolution numpy encoder) is defined at the
# bottom of this module as cell_udf_at(cells.DEFAULT_RES) — ONE
# definition of the precision-critical masked-IntegerArray handling.


def with_cell(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
              out_col: str = "cell") -> DataFrame:
    """Cell encode via the pure-JVM expression cells.cell_column, SQL
    text parsed in one call (codegen'd; cell_udf is the Arrow/numpy
    equivalent, kept as the reference kernel for parity tests)."""
    return df.withColumn(out_col, cells.cell_column(lon_col, lat_col))


# ---------------------------------------------------------------------------
# boundary preparation (reference passes A/B/C -> one hierarchy build)


class PreparedBoundaries:
    """Broadcast-side prepared geometry + cover tables.

    Mirrors what the reference holds in process memory across its three
    passes (R-tree + prepared dict + admin-level mapping), packaged for
    broadcast: tiny enough for every executor (planet-scale admin
    boundaries are a few GB of WKB; the cover tables are the only part
    shipped through a join and they broadcast-hash-join).
    """

    def __init__(self, levels_pdf, problems_pdf, polys_by_id, cover_pdf,
                 n_levels: int = 3):
        self.levels_pdf = levels_pdf      # osm_id,name,name_en,adminlevel,iso3166,is_in,insert_order
        self.problems_pdf = problems_pdf  # osm_id,reason,lon,lat
        self.polys_by_id = polys_by_id    # osm_id -> list[list[ndarray]] ring arrays
        self.cover_pdf = cover_pdf        # cell,osm_id,adminlevel,full,insert_order
        self.n_levels = n_levels          # hierarchy depth (reference: 1..10)
        self._index = None
        self._table = None
        self._frame = None                # (session, index DataFrame)

    def resolve_index(self):
        """The all-levels first-match index over cover_pdf (built once)."""
        if self._index is None:
            self._index = _build_index(self.cover_pdf, self.n_levels)
        return self._index

    def index_table(self) -> pa.Table:
        """resolve_index() as the Arrow table pip_join broadcasts (built
        once): one row per cover cell, `_jc` the cell, `_w<lv>` the FULL
        winner and `_c<lv>` the first-match-ordered boundary candidates
        of each level, each cut to the edges that can cross a ray from
        a point of that cell (_index_table)."""
        if self._table is None:
            self._table = _index_table(self.resolve_index(), self.polys_by_id,
                                       self.n_levels)
        return self._table

    def index_df(self, spark: SparkSession) -> DataFrame:
        """index_table() as a DataFrame of `spark`, memoized for that
        session only: a frame built in a stopped session would fail at
        execution time. Created from the Arrow table, so it plans as a
        LocalTableScan; a list of rows would plan as a Python-RDD scan,
        which starts Python workers on every job."""
        if self._frame is None or self._frame[0] is not spark:
            self._frame = (spark, spark.createDataFrame(self.index_table()))
        return self._frame[1]

    def levels_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.levels_pdf)

    def problems_df(self, spark: SparkSession) -> DataFrame:
        schema = "osm_id string, name string, reason string, lon double, lat double"
        return spark.createDataFrame(self.problems_pdf, schema=schema)

    def cover_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.cover_pdf)


def _cover_table(frame: pd.DataFrame, polys_by_id) -> pd.DataFrame:
    """Cell cover of every polygon in one level frame, one row per
    (cell, polygon part): (cell, osm_id, adminlevel, full,
    insert_order), FULL vs PARTIAL as cells.cover_polygon classifies."""
    # each list starts with a typed empty array, so a frame without
    # polygons yields an empty table of the same dtypes
    parts = {"cell": [np.empty(0, np.int64)],
             "osm_id": [np.empty(0, object)],
             "adminlevel": [np.empty(0, np.int32)],
             "full": [np.empty(0, bool)],
             "insert_order": [np.empty(0, np.int64)]}
    for r in frame.itertuples(index=False):
        for rings in polys_by_id[r.osm_id]:
            cc, full = cells.cover_polygon(rings, COVER_RES)
            parts["cell"].append(cc)
            parts["osm_id"].append(np.repeat(r.osm_id, len(cc)))
            parts["adminlevel"].append(
                np.full(len(cc), r.adminlevel, dtype=np.int32))
            parts["full"].append(full)
            parts["insert_order"].append(
                np.full(len(cc), r.insert_order, dtype=np.int64))
    return pd.DataFrame({k: np.concatenate(v) for k, v in parts.items()})


def _build_index(cover: pd.DataFrame, n_levels: int):
    """First-match resolution index over a cover table: sorted cell
    array + per-level FULL-winner arrays + the (small) dict of boundary
    cells that need exact-PIP candidates. Lookup is one np.searchsorted
    over the whole Arrow batch — Python-per-row cost is O(1); geometry
    work only on boundary-cell points.

    Returns (cells_sorted, win, partials):
      win[lv][i]      — osm_id of the lowest-insert_order level-lv
                        polygon whose FULL cells include cells_sorted[i]
                        (None if none)
      partials[c][lv] — insert_order-sorted (order, osm_id) level-lv
                        candidates whose BOUNDARY crosses cell c with
                        order below the FULL winner's (only those can
                        beat it first-match)

    Built with pure numpy (unique/searchsorted) — a per-cell pandas
    groupby here was a 16-second serial driver stage per run.
    """
    srt = np.lexsort((cover["insert_order"].to_numpy(dtype=np.int64),
                      cover["cell"].to_numpy(dtype=np.int64)))
    c_arr = cover["cell"].to_numpy(dtype=np.int64)[srt]
    lvl = cover["adminlevel"].to_numpy(dtype=np.int64)[srt]
    full = cover["full"].to_numpy(dtype=bool)[srt]
    order = cover["insert_order"].to_numpy(dtype=np.int64)[srt]
    osm = cover["osm_id"].to_numpy(dtype=object)[srt]

    cells_sorted = np.unique(c_arr)
    n = len(cells_sorted)
    win = [np.full(n, None, dtype=object) for _ in range(n_levels)]
    win_ord = [np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
               for _ in range(n_levels)]
    for lv in range(n_levels):
        m = (lvl == lv) & full
        if m.any():
            cs, first = np.unique(c_arr[m], return_index=True)
            pos = np.searchsorted(cells_sorted, cs)
            win[lv][pos] = osm[m][first]
            win_ord[lv][pos] = order[m][first]

    # boundary candidates: partial rows with insert_order below the
    # FULL winner's (only those can override under first-match)
    partials: dict[int, list] = {}
    for lv in range(n_levels):
        m = (lvl == lv) & ~full
        if not m.any():
            continue
        cs = c_arr[m]
        pos = np.searchsorted(cells_sorted, cs)
        keep = order[m] < win_ord[lv][pos]
        for cell, od, oid in zip(cs[keep].tolist(), order[m][keep].tolist(),
                                 osm[m][keep]):
            ent = partials.get(cell)
            if ent is None:
                ent = partials[cell] = [[] for _ in range(n_levels)]
            ent[lv].append((od, oid))
    for lists in partials.values():
        for cand in lists:
            cand.sort()
    return cells_sorted, win, partials


def _resolve_points(lon: np.ndarray, lat: np.ndarray, index, polys,
                    n_levels: int) -> np.ndarray:
    """First-match (lowest insert_order containing polygon) per level
    for arrays of points, as an (n, n_levels) object array of osm_ids:

    1. the coarse cell is computed IN numpy from lon/lat, then
       np.searchsorted maps every point to its index row — no per-cell
       Python
    2. per-level FULL winners fancy-index straight into the output
    3. only points in BOUNDARY cells (the small partials dict) run the
       exact PIP, grouped per cell, points-vectorized per candidate
       polygon, in first-match (insert_order) order; a point no
       candidate contains keeps the FULL winner already written
    """
    cells_sorted, win, partials = index
    out = np.full((len(lon), n_levels), None, dtype=object)
    if not len(cells_sorted):
        return out
    jci = cells.encode(lon, lat, COVER_RES)
    pos = np.searchsorted(cells_sorted, jci)
    pos_c = np.clip(pos, 0, len(cells_sorted) - 1)
    hit = (jci >= 0) & (cells_sorted[pos_c] == jci)
    for lv in range(n_levels):
        out[hit, lv] = win[lv][pos_c[hit]]
    if not partials:
        return out
    hit_idx = np.nonzero(hit)[0]
    hit_cells = jci[hit_idx]
    # restrict to boundary cells present in this batch
    border_mask = np.fromiter(
        (int(c) in partials for c in hit_cells), dtype=bool,
        count=len(hit_cells))
    for cell in np.unique(hit_cells[border_mask]):
        ent = partials[int(cell)]
        ix = hit_idx[hit_cells == cell]
        for lv, cand in enumerate(ent):
            if not cand:
                continue
            undecided = np.ones(len(ix), dtype=bool)
            for _ord, osm in cand:  # insert_order-sorted
                if not undecided.any():
                    break
                sub = ix[undecided]
                inside = geom.points_in_multipolygon(
                    lon[sub], lat[sub], polys[osm])
                if inside.any():
                    out[sub[inside], lv] = osm
                    rem = np.where(undecided)[0]
                    undecided[rem[inside]] = False
    return out


_EDGE = pa.struct([(k, pa.float64()) for k in ("x1", "y1", "x2", "y2")])

#: edges tested per numpy pass while cutting candidates to their cells
_EDGE_CHUNK = 1 << 22


def _part_edges(polys) -> tuple[np.ndarray, np.ndarray]:
    """Every ring edge of a MultiPolygon as rows [x1, y1, x2, y2] (the
    (ring[:-1], ring[1:]) pairs geom.points_in_rings crosses), with the
    index of the polygon part each belongs to."""
    edges, part = [np.empty((0, 4))], [np.empty(0, np.int64)]
    for p, rings in enumerate(polys):
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            edges.append(np.hstack([r[:-1], r[1:]]))
            part.append(np.full(len(r) - 1, p, dtype=np.int64))
    return np.concatenate(edges), np.concatenate(part)


def _index_table(index, polys, n_levels: int) -> pa.Table:
    """The first-match index as an Arrow table, one row per cover cell:

      _jc       the cell (int64)
      _w<lv>    the level-lv FULL winner (string, null if none)
      _c<lv>    the level-lv boundary candidates in first-match order,
                array<struct<osm, parts: array<array<edge>>>>, null for
                a cell without any

    Edge band: a point of cell c crosses an edge with its +x ray only
    if the edge is not horizontal, its y-range meets the point's row
    and its max x is right of the point. A candidate keeps just the
    edges that pass that test for ANY point within one cell of c (the
    margin absorbs the cell encoder's rounding at grid lines), so the
    kept set is a superset of the edges any of the cell's points
    cross: the even-odd parity is unchanged. A part left without edges
    and a candidate left without parts contain no point of the cell
    and are dropped. Built with numpy and Arrow offsets, no per-edge
    Python.
    """
    cells_sorted, win, partials = index
    n = len(cells_sorted)
    oids = sorted({osm for lists in partials.values()
                   for cand in lists for _o, osm in cand})
    oid_pos = {o: k for k, o in enumerate(oids)}
    per = [_part_edges(polys[o]) for o in oids]
    edges = np.concatenate([np.empty((0, 4))] + [e for e, _ in per])
    n_edges = np.array([len(e) for e, _ in per], dtype=np.int64)
    e_start = np.cumsum(n_edges) - n_edges
    # part ids made unique across polygons
    n_parts = np.array([len(polys[o]) for o in oids], dtype=np.int64)
    e_part = np.concatenate([np.empty(0, np.int64)] + [
        p + base for (_, p), base in zip(per, np.cumsum(n_parts) - n_parts)])

    # candidate instances (cell row, level, polygon), first-match order
    row, lvl, oix = [], [], []
    for cell, lists in partials.items():
        r = int(np.searchsorted(cells_sorted, cell))
        for lv, cand in enumerate(lists):
            for _ord, osm in cand:
                row.append(r)
                lvl.append(lv)
                oix.append(oid_pos[osm])
    row = np.asarray(row, dtype=np.int64)
    lvl = np.asarray(lvl, dtype=np.int64)
    oix = np.asarray(oix, dtype=np.int64)
    order = np.lexsort((np.arange(len(row)), row, lvl))

    lon0, lat0, _lon1, lat1 = cells.cell_bounds(cells_sorted)
    w, h = 360.0 / 2 ** COVER_RES, 180.0 / 2 ** COVER_RES
    osm_names = np.asarray(oids, dtype=object)

    def level_column(sel: np.ndarray) -> pa.Array:
        ir, io = row[sel], oix[sel]
        cnt = n_edges[io]
        # expand every instance to its polygon's edges, chunked so the
        # temporaries stay bounded, and keep the edge band of its cell
        kinst, keix = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        bounds = np.searchsorted(np.cumsum(cnt),
                                 np.arange(1, cnt.sum() // _EDGE_CHUNK + 1)
                                 * _EDGE_CHUNK)
        for a, b in zip(np.r_[0, bounds], np.r_[bounds, len(ir)]):
            c = cnt[a:b]
            inst = np.repeat(np.arange(a, b), c)
            eix = (np.repeat(e_start[io[a:b]] - (np.cumsum(c) - c), c)
                   + np.arange(c.sum()))
            x1, y1, x2, y2 = edges[eix].T
            r = ir[inst]
            keep = ((y1 != y2)
                    & (np.maximum(y1, y2) >= lat0[r] - h)
                    & (np.minimum(y1, y2) <= lat1[r] + h)
                    & (np.maximum(x1, x2) >= lon0[r] - w))
            kinst.append(inst[keep])
            keix.append(eix[keep])
        kinst, keix = np.concatenate(kinst), np.concatenate(keix)
        kpart = e_part[keix]
        part_at = np.flatnonzero(np.r_[True, (kinst[1:] != kinst[:-1])
                                       | (kpart[1:] != kpart[:-1])]
                                 [:len(keix)])
        p_inst = kinst[part_at]
        cand_at = np.flatnonzero(np.r_[True, p_inst[1:] != p_inst[:-1]]
                                 [:len(p_inst)])
        c_inst = p_inst[cand_at]
        e = edges[keix]
        edge_arr = pa.StructArray.from_arrays(
            [pa.array(e[:, k]) for k in range(4)], fields=list(_EDGE))
        parts = pa.ListArray.from_arrays(
            pa.array(np.r_[cand_at, len(part_at)], pa.int32()),
            pa.ListArray.from_arrays(
                pa.array(np.r_[part_at, len(keix)], pa.int32()), edge_arr))
        cand = pa.StructArray.from_arrays(
            [pa.array(osm_names[io[c_inst]].tolist(), pa.string()), parts],
            names=["osm", "parts"])
        per_cell = np.bincount(ir[c_inst], minlength=n)
        return pa.ListArray.from_arrays(
            pa.array(np.r_[0, np.cumsum(per_cell)], pa.int32()), cand,
            mask=pa.array(per_cell == 0))

    cols = {"_jc": pa.array(cells_sorted, pa.int64())}
    for lv in range(n_levels):
        cols[f"_w{lv}"] = pa.array(win[lv].tolist(), pa.string())
        cols[f"_c{lv}"] = level_column(order[lvl[order] == lv])
    return pa.table(cols)


def prepare_boundaries(boundaries_pdf: pd.DataFrame,
                       mapping_pdf: pd.DataFrame,
                       n_levels: int = 3) -> PreparedBoundaries:
    """Build the admin hierarchy from raw boundary rows.

    Reproduces extract.py pass semantics exactly, as one pass over the
    small dimension table:
      - validity filter -> problems rows with reason + coordinate
        (check_bad_geom, exposm/utils.py:51-70,105-115)
      - boundary=='administrative' filter (extract.py:128-137)
      - name_en coalesce + drop-if-nameless (extract.py:100-108)
      - iso3166 uppercase (extract.py:110-112)
      - level 0: raw admin_level=='2' (extract.py:142)
      - levels 1..n_levels-1: representative-point PIP into the parent
        level with first-match tie-break, then the per-country raw-tag
        mapping (admin_mapping.yaml; extract.py:218-247) — rows whose
        country/parent is missing are dropped (extract.py:241-243, O14).
        The reference fans out levels 1..10 (extract_all.py:92-121);
        n_levels parameterizes the same chain here.
    """
    problems = []
    polys_by_id: dict[str, list] = {}
    rows = []
    for r in boundaries_pdf.itertuples(index=False):
        name_en = r.name_en if isinstance(r.name_en, str) and r.name_en else r.name
        if not name_en:
            continue
        polys = geom.wkb_to_multipolygon(r.geom_wkb)
        ok, reason, plon, plat = geom.validity_reason(polys)
        if not ok:
            problems.append((r.osm_id, r.name, reason, plon, plat))
            continue  # unusable-feature skip carried to later levels (O7)
        if r.boundary != "administrative":
            continue
        polys_by_id[r.osm_id] = polys
        rows.append(
            {
                # the reference writes name_en into BOTH columns
                # (extract.py feature_data: ('name', name_en)); raw
                # local names survive only in problems rows
                "osm_id": r.osm_id,
                "name": name_en,
                "name_en": name_en,
                "raw_level": str(r.admin_level),
                "iso3166": r.iso3166.upper() if isinstance(r.iso3166, str) else None,
                "insert_order": int(r.insert_order),
            }
        )
    feats = pd.DataFrame(rows)

    overrides: dict[str, dict[str, int]] = {}
    for row in mapping_pdf.itertuples(index=False):
        d = row._asdict()
        overrides[row.country_osm_id] = {
            key: int(d[key]) if key in d and pd.notna(d[key]) else default
            for key, default in ADMIN_DEFAULTS.items()
        }

    def tag_for(country_id: str, level: int) -> str:
        key = f"admin_level_{level}"
        cfg = overrides.get(country_id, ADMIN_DEFAULTS)
        if key in cfg:
            return str(cfg[key])
        # beyond configured levels, the OSM convention continues
        # 2,4,6,8,10,... (extract_all.py fans out to level 10)
        return str(2 * (level + 1))

    # level 0 (countries)
    l0 = feats[feats.raw_level == "2"].copy()
    l0["adminlevel"] = 0
    l0["is_in"] = None

    # levels 1..n-1: rep-point PIP into country (tag lookup) + direct
    # parent at the level below; a missing country or parent drops the
    # feature (extract.py:241-243, 312-341 — the containment-chain O14).
    # Parents are probed through the same cell-cover first-match index
    # the PIP join resolves with (one single-level index per level),
    # NOT a linear scan over every parent polygon — the planet has
    # ~100k admin features and the linear scan was the build's
    # quadratic term (VERDICT r01 item 8). Each level's cover table is
    # computed once: it keys that index and is a slice of cover_pdf.
    def level_index(cover: pd.DataFrame):
        return _build_index(cover.assign(adminlevel=0), 1)

    def first_match(x, y, index) -> np.ndarray:
        return _resolve_points(x, y, index, polys_by_id, 1)[:, 0]

    level_frames = [l0]
    level_covers = [_cover_table(l0, polys_by_id)]
    l0_index = level_index(level_covers[0])
    assigned = set(l0.osm_id)
    # a feature that only lands at level L is a candidate at every level
    # before it — compute its representative point once, not per level
    rep_cache: dict[str, tuple] = {}

    def rep_for(oid: str):
        if oid not in rep_cache:
            rep_cache[oid] = geom.representative_point(polys_by_id[oid])
        return rep_cache[oid]

    for lv in range(1, n_levels):
        cand = feats[~feats.osm_id.isin(assigned)]
        if not len(cand):
            break
        reps = np.array([rep_for(oid) for oid in cand.osm_id],
                        dtype=np.float64)
        x, y = reps[:, 0], reps[:, 1]
        country = first_match(x, y, l0_index)
        parent = (country if lv == 1
                  else first_match(x, y, level_index(level_covers[lv - 1])))
        rows_lv = []
        for i, r in enumerate(cand.itertuples(index=False)):
            if country[i] is None or r.raw_level != tag_for(country[i], lv):
                continue
            if parent[i] is None:
                continue
            rows_lv.append(
                {**r._asdict(), "adminlevel": lv, "is_in": parent[i]})
        frame = pd.DataFrame(rows_lv)
        level_frames.append(frame)
        level_covers.append(_cover_table(frame, polys_by_id))
        if len(frame):
            assigned |= set(frame.osm_id)

    level_cols = ["osm_id", "name", "name_en", "adminlevel", "iso3166",
                  "is_in", "insert_order"]
    nonempty = [f for f in level_frames if len(f)]
    if nonempty:
        levels = pd.concat(nonempty, ignore_index=True)[level_cols]
    else:
        # degenerate input (e.g. no admin_level=='2' rows at all): an
        # empty typed levels table, not a concat crash (ADVICE r02)
        levels = pd.DataFrame(columns=level_cols)
    cover = pd.concat(level_covers, ignore_index=True)

    problems_pdf = pd.DataFrame(
        problems, columns=["osm_id", "name", "reason", "lon", "lat"]
    )
    retained = set(levels.osm_id)
    keep_polys = {k: v for k, v in polys_by_id.items() if k in retained}
    return PreparedBoundaries(levels, problems_pdf, keep_polys, cover,
                              n_levels=n_levels)


# ---------------------------------------------------------------------------
# point-in-polygon join (fact side, fully distributed)


# Even-odd containment of the row's (lon, lat) in the candidate `_cand`:
# geom.points_in_rings' crossing test per edge, summed per polygon part.
# The nested CASE runs the division only on edges whose y-range spans
# the point (ANSI mode fails a division by zero), the same guard the
# numpy kernel applies by masking; the operand order is the kernel's.
_PIP_INSIDE = (
    "exists(_cand.parts, _part -> aggregate(_part, 0, (_acc, _e) -> _acc"
    " + CASE WHEN (_e.y1 > lat) <> (_e.y2 > lat) THEN CASE WHEN lon <"
    " (_e.x2 - _e.x1) * (lat - _e.y1) / (_e.y2 - _e.y1) + _e.x1"
    " THEN 1 ELSE 0 END ELSE 0 END) % 2 = 1)")


def pip_join(points: DataFrame, prepared: PreparedBoundaries,
             spark: SparkSession, keep_unmatched: bool = True) -> DataFrame:
    """Assign every point its containing admin polygon per level.

    points must carry (lon, lat[, cell]). Output: input columns + cell +
    osm_id_l0..l{n_levels-1}.

    Plan shape: one BROADCAST hash join, then one Project, no shuffle
    and no Python. The build side is prepared.index_df(): one row per
    cover cell (COVER_RES) with each level's FULL winner and its
    first-match-ordered boundary candidates, every candidate cut to
    the edges that can cross a ray from a point of that cell (the
    edge band, _index_table). The points probe it on
    cells.cell_column("lon", "lat", COVER_RES); the Project then picks,
    per level, the first candidate whose edges the point's +x ray
    crosses an odd number of times, else the FULL winner. That is
    _resolve_points' rule with its arithmetic, so the answer is
    bit-identical (tested against it). The 100 TB fact table streams
    through map tasks once, and the operator is stateless, so the SAME
    code path serves Structured Streaming (streaming.py).

    The filter and the per-level picks are SQL text (_PIP_INSIDE), one
    JVM parse per expression. Composed from PySpark Column lambdas,
    every operator is a py4j round trip: the same plan took about
    4,500 of them, 0.7 s of driver time per build before any job ran.

    The containment test uses higher-order functions (exists,
    aggregate), which are CodegenFallback: the Project runs
    interpreted, outside whole-stage codegen. That costs little,
    because only points in boundary cells carry candidate arrays; the
    scan, cell encode and join stay in one codegen'd stage.

    keep_unmatched=False filters on the join's output with the cheap
    tests first (any FULL winner, then any containing candidate). A
    filter on the osm_id columns would be pushed below the Project by
    Catalyst, running the containment test twice per row.

    First-match semantics (first R-tree hit wins, exposm/utils.py:43-48)
    are pinned by insert_order inside the cover map.
    """
    levels = range(prepared.n_levels)
    pts = points if "cell" in points.columns else with_cell(points)
    idx = F.broadcast(prepared.index_df(spark))
    out = pts.join(idx, cells.cell_column("lon", "lat", COVER_RES)
                   == idx["_jc"], "left")
    if not keep_unmatched:
        out = out.filter(" OR ".join(
            [f"_w{lv} IS NOT NULL" for lv in levels]
            + [f"exists(_c{lv}, _cand -> {_PIP_INSIDE})" for lv in levels]))
    return out.selectExpr(
        *[f"`{c}`" for c in pts.columns],
        *[f"coalesce(get(filter(_c{lv}, _cand -> {_PIP_INSIDE}), 0).osm,"
          f" _w{lv}) AS osm_id_l{lv}" for lv in levels])


# ---------------------------------------------------------------------------
# kNN (cell-ring expansion) — north-rule addition, no reference counterpart


def knn_bruteforce(points: DataFrame, sites_pdf: pd.DataFrame, k: int,
                   spark: SparkSession) -> DataFrame:
    """Exact kNN vs a broadcast site table — the correctness oracle.

    sites_pdf: (site_id, lon, lat). A vectorized pandas UDF computes the
    full haversine matrix per Arrow batch (sites are broadcast, so this
    is map-only over the fact table).
    """
    site_ids = sites_pdf["site_id"].to_numpy()
    slon = sites_pdf["lon"].to_numpy(dtype=np.float64)
    slat = sites_pdf["lat"].to_numpy(dtype=np.float64)
    bc = spark.sparkContext.broadcast((site_ids, slon, slat))

    out_schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("site_id", T.StringType()),
                T.StructField("dist_m", T.DoubleType()),
            ]
        )
    )

    # precomputed site_id string rank for the (dist, site_id) tie-break;
    # ties MUST be broken before cutting to k (co-located sites exist)
    id_rank = np.argsort(np.argsort([str(s) for s in site_ids]))

    @pandas_udf(out_schema)
    def topk(lon: pd.Series, lat: pd.Series) -> pd.Series:
        ids, sx, sy = bc.value
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        d = geom.haversine_m(lo[:, None], la[:, None], sx[None, :], sy[None, :])
        kk = min(k, len(ids))
        rows = []
        for r in range(len(lo)):
            idx = np.lexsort((id_rank, d[r]))[:kk]  # primary dist, then id
            rows.append(
                [
                    {"site_id": str(ids[i]), "dist_m": float(d[r, i])}
                    for i in idx
                ]
            )
        return pd.Series(rows)

    return points.withColumn("knn", topk(F.col("lon"), F.col("lat")))


def knn_cellring(points: DataFrame, sites_pdf: pd.DataFrame, k: int,
                 spark: SparkSession, point_key: str = "url",
                 res: int = 8, max_ring: int = 64) -> DataFrame:
    """Distributed cell-ring-expansion kNN (SURVEY.md O16).

    Sites are exploded into (cell, ring_r) shells at resolution `res`
    and broadcast; points equi-join on their cell against shells of
    increasing radius. A point's answer is final once its k-th nearest
    candidate is closer than the minimum possible distance of the next
    unexplored ring — the classic grid-kNN guarantee. Driver loops over
    ring radii doubling (each iteration one broadcast join over only the
    still-unresolved points), so total work is O(points x small-candidate
    sets), never a cross join.

    The termination bound is computed per point from its latitude, so
    the exactness guarantee holds at all latitudes (polar included);
    each ring's aggregate is localCheckpoint'ed so later rings and the
    final collect never replay the upstream lineage.

    Returns (point_key, knn array<struct<site_id,dist_m>>) exact-equal
    to knn_bruteforce (tested, incl. polar sites and low-res lon wrap).
    """
    # Build shells: for each site, cells at Chebyshev ring r around its cell.
    site_ids = sites_pdf["site_id"].astype(str).to_numpy()
    slon = sites_pdf["lon"].to_numpy(dtype=np.float64)
    slat = sites_pdf["lat"].to_numpy(dtype=np.float64)
    scell = cells.encode(slon, slat, res)

    pts = points.select(point_key, "lon", "lat").withColumn(
        "qcell", cells.cell_column("lon", "lat", res)
    ).filter(F.col("qcell").isNotNull())

    # Cell dimensions (degrees/meters) for the termination guarantee.
    # Lat rows are a constant cell_h_m tall; lon columns are
    # 2*cell_h_m*cos(lat) wide, shrinking toward the poles — the bound
    # below is computed PER POINT from its latitude (ADVICE r01: the old
    # constant bound was only valid for |lat| <= 60 deg).
    n_cols = 1 << res
    cell_h_deg = 180.0 / float(2**res)
    cell_h_m = cell_h_deg * 111_000.0 * 0.99
    earth_r = 6_371_008.8

    resolved = None
    unresolved = pts
    r = 0
    while r <= max_ring:
        r_next = max(1, r * 2)
        if r_next - 1 >= max_ring:
            # ring budget exhausted: finish the (few) stragglers with
            # the exact broadcast kernel instead of force-emitting a
            # possibly-incomplete ring result — at low res the largest
            # k_ring may not span the grid (review-found gap), and
            # exactness must hold unconditionally.
            done = knn_bruteforce(
                unresolved.select(point_key, "lon", "lat"),
                sites_pdf, k, spark,
            ).select(point_key, "knn").localCheckpoint()
            resolved = done if resolved is None else resolved.unionByName(done)
            break
        shell_rows = {"cell": [], "site_id": [], "slon": [], "slat": []}
        for si in range(len(site_ids)):
            ring_cells = cells.k_ring(int(scell[si]), r_next - 1)
            shell_rows["cell"].append(ring_cells)
            shell_rows["site_id"].append(np.repeat(site_ids[si], len(ring_cells)))
            shell_rows["slon"].append(np.full(len(ring_cells), slon[si]))
            shell_rows["slat"].append(np.full(len(ring_cells), slat[si]))
        shells = pd.DataFrame(
            {kk: np.concatenate(vv) for kk, vv in shell_rows.items()}
        )
        shells_df = F.broadcast(spark.createDataFrame(shells))
        cand = unresolved.join(shells_df, unresolved.qcell == shells_df.cell,
                               "left")
        cand = cand.withColumn(
            "dist_m",
            haversine_expr(F.col("lon"), F.col("lat"),
                           F.col("slon"), F.col("slat")),
        )
        w = Window.partitionBy(point_key).orderBy(
            F.col("dist_m").asc_nulls_last(), F.col("site_id")
        )
        ranked = cand.withColumn("rn", F.row_number().over(w))
        agg = ranked.groupBy(point_key).agg(
            F.sum(F.when(F.col("dist_m").isNotNull(), 1).otherwise(0)).alias("ncand"),
            F.max(F.when(F.col("rn") == k, F.col("dist_m"))).alias("kth"),
            F.first("lon").alias("lon"), F.first("lat").alias("lat"),
            F.first("qcell").alias("qcell"),
            F.collect_list(
                F.when((F.col("rn") <= k) & F.col("dist_m").isNotNull(),
                       F.struct(F.col("rn"), F.col("site_id"), F.col("dist_m")))
            ).alias("cands"),
        )
        # Guarantee radius for an unexplored site S with Chebyshev cell
        # distance >= r_next from the query point Q:
        #  - lat branch (|dj| >= r_next): lat separation >= (r_next-1)
        #    rows -> dist >= (r_next-1) * cell_h_m (exact: d >= R*dPhi).
        #  - lon branch (|di| >= r_next, |dj| < r_next): S sits within
        #    |lat_Q| + r_next*cell_h_deg of the equator band of Q; lon
        #    separation >= (r_next-1) columns; haversine gives
        #    d >= (2/pi) * dLambda * R * cos(band) (sin x >= 2x/pi).
        #  - once 2*r_next-1 >= n_cols every lon column is explored, so
        #    only the lat branch remains and the cos term drops out.
        r_explored = r_next - 1
        lat_bound = F.lit(float(r_explored) * cell_h_m)
        if 2 * r_explored + 1 >= n_cols:
            guarantee_m = lat_bound
        else:
            band = F.radians(
                F.least(F.lit(90.0),
                        F.abs(F.col("lat")) + F.lit(r_next * cell_h_deg)))
            lon_col_m = (
                F.lit(2.0 * (2.0 / math.pi) * earth_r
                      * math.radians(cell_h_deg) * 0.99)
                * F.cos(band)
            )
            guarantee_m = F.least(lat_bound,
                                  F.lit(float(r_explored)) * lon_col_m)
        done_cond = F.coalesce(
            (F.col("ncand") >= min(k, len(site_ids)))
            & (F.col("kth") <= guarantee_m),
            F.lit(False),
        )
        done = agg.filter(done_cond).select(
            point_key,
            F.transform(
                F.array_sort(F.col("cands")),
                lambda s: F.struct(
                    s["site_id"].alias("site_id"), s["dist_m"].alias("dist_m")
                ),
            ).alias("knn"),
        )
        # Materialize this round ONCE and cut lineage: without this,
        # every later ring (and the final collect) replays the whole
        # upstream DAG — ingest UDF included — once per iteration
        # (VERDICT r01 item 4). localCheckpoint is eager, so `done` and
        # `unresolved` below are cheap reads of stored blocks.
        agg = agg.persist()
        done = done.localCheckpoint()
        resolved = done if resolved is None else resolved.unionByName(done)
        unresolved = agg.filter(~done_cond).select(
            point_key, "lon", "lat", "qcell").localCheckpoint()
        agg.unpersist()
        # cheap emptiness check drives the loop (driver-side, tiny)
        if unresolved.limit(1).count() == 0:
            break
        r = r_next
    return resolved


def cell_udf_at(res: int):
    @pandas_udf(T.LongType())
    def _u(lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = cells.encode(lon.to_numpy(dtype=np.float64, na_value=np.nan),
                           lat.to_numpy(dtype=np.float64, na_value=np.nan), res)
        # masked IntegerArray, never a float64 detour (mantissa too small)
        return pd.Series(pd.arrays.IntegerArray(out, mask=(out < 0)))

    return _u


def haversine_expr(lon1, lat1, lon2, lat2):
    """Haversine distance in meters as a JVM-side column expression
    (whole-stage-codegen'd; no Python in the hot path)."""
    R = F.lit(2 * 6_371_008.8)
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    a = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return R * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


#: Vectorized numpy cell encoder at the default resolution (null coords
#: -> null cell); single source of the masked-IntegerArray nullability
#: handling (float64 would destroy the id's low Morton bits).
cell_udf = cell_udf_at(cells.DEFAULT_RES)
