"""Discrete global grid cell index — pure numpy, H3-res-7 / S2-level-12 analog.

Replaces the reference's in-memory R-tree bbox probe
(/root/reference/extractor/extract.py:75-77,152-155 and
exposm/utils.py:38-48) with a distributable equi-joinable cell id:

- a cell is one square of the 2^res x 2^res grid over lon [-180,180),
  lat [-90,90]; the id packs (res, morton(i,j)) into one int64 so ids
  from different resolutions never collide (like H3/S2 ids).
- DEFAULT_RES=12 gives ~0.088 deg x 0.044 deg cells (~10 km x 5 km at
  the equator) — the same coarse-filter granularity class as H3 res 7
  (~5 km) / S2 level 12 (~3-6 km).
- `cover_polygon` classifies covering cells FULL vs PARTIAL exactly:
  FULL cells skip the exact point-in-polygon test at probe time, which
  at 100 TB scale removes the PIP kernel from the vast interior of
  every polygon and leaves it only on the boundary ring.

Everything is vectorized numpy (uint64 bit-twiddling); these run inside
Arrow-batched pandas UDFs, never per-row Python.
"""

from __future__ import annotations

import numpy as np

DEFAULT_RES = 12
_MAX_RES = 26  # 2*26 bits morton + 5 bits res < 63


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 26 bits of each uint64 so bit k moves to bit 2k."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits: gather even bits back together."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def lonlat_to_ij(lon: np.ndarray, lat: np.ndarray, res: int = DEFAULT_RES):
    """Map lon/lat to integer grid coordinates at the given resolution."""
    n = np.uint64(1) << np.uint64(res)
    nf = float(2**res)
    i = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * nf)
    j = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * nf)
    i = np.clip(i, 0, nf - 1).astype(np.uint64)
    j = np.clip(j, 0, nf - 1).astype(np.uint64)
    return i, j, n


def ij_to_cell(i: np.ndarray, j: np.ndarray, res: int = DEFAULT_RES) -> np.ndarray:
    """Pack (res, i, j) into int64 cell ids (res in bits 58..62)."""
    morton = _spread_bits(np.asarray(i, dtype=np.uint64)) | (
        _spread_bits(np.asarray(j, dtype=np.uint64)) << np.uint64(1)
    )
    cell = (np.uint64(res) << np.uint64(58)) | morton
    return cell.astype(np.int64)


def encode(lon: np.ndarray, lat: np.ndarray, res: int = DEFAULT_RES) -> np.ndarray:
    """lon/lat arrays -> int64 cell ids. NaN coords -> -1 (no cell).

    Float caveat (hypothesis-found): (lon+180)/360 rounds, so a point
    within ~1 ULP of a grid line (~1.5 nm on the equator) can land in
    the adjacent cell. The JVM encoder (cell_column) performs the SAME
    arithmetic bit-for-bit, so assignments stay self-consistent across
    every engine path; the property test pins the tolerance.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    i, j, _ = lonlat_to_ij(np.where(bad, 0.0, lon), np.where(bad, 0.0, lat), res)
    out = ij_to_cell(i, j, res)
    out[bad] = -1
    return out


def cell_column(lon: str = "lon", lat: str = "lat", res: int = DEFAULT_RES):
    """The encoder as a pure JVM column expression over the columns
    named `lon` and `lat` (whole-stage codegen, zero Python in the hot
    path). Bit-for-bit identical to encode() (tested). Null/NaN coords
    -> null cell.

    At 100 TB the cell encode runs on every row of the fact table;
    keeping it inside Tungsten codegen instead of an Arrow round-trip
    is the difference between a scan-speed stage and a Python-bound one.

    The expression is SQL text that the JVM parses in one call. Built
    from PySpark Column operators, every operator and literal is its
    own py4j round trip, paid on the driver each time a plan is built:
    textx.with_ingest_jvm took about 520 round trips that way, 188 with
    this form. Double literals carry a `D` suffix (a bare `180.0`
    parses as DECIMAL) and the res tag an `L`.

    Keep the expression LINEAR: it names each coordinate's grid
    arithmetic once, so its size does not depend on `res`. A shift/mask
    ladder like _spread_bits names its operand twice per step; as a
    column expression its five steps copy the coordinate (and whatever
    computes it, e.g. a regexp_extract) 2^5 = 32 times, and the
    generated whole-stage method grows past 8,000 bytecode bytes, the
    size above which HotSpot never JIT-compiles a method: the stage then
    runs in the bytecode interpreter. The spread here is `bin(v)` read
    back as base-4 digits: binary digit k of v becomes the base-4 digit
    of weight 4^k = 2^(2k), i.e. bit 2k. (A fold over the bits with
    `aggregate` is linear too, but higher-order functions are
    CodegenFallback and take the whole Project out of codegen.) Check a
    plan with `codegenStringSeq(plan)._3().maxMethodCodeSize()`
    (tests/test_plans.py).
    """
    from pyspark.sql import functions as F

    nf = float(2**res)

    def spread_grid(v, offset, span):
        g = f"floor(({v} + {offset}D) / {span}D * {nf}D)"
        return (f"CAST(conv(bin(CAST(greatest(0, least({int(nf) - 1}, {g}))"
                f" AS BIGINT)), 4, 10) AS BIGINT)")

    x, y = f"`{lon}`", f"`{lat}`"
    return F.expr(
        f"CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL AND NOT isnan({x})"
        f" AND NOT isnan({y}) THEN ({spread_grid(x, 180.0, 360.0)}"
        f" | shiftleft({spread_grid(y, 90.0, 180.0)}, 1)) | {res << 58}L END")


def cell_to_ij(cell: np.ndarray):
    """Unpack int64 cell ids -> (res array, i array, j array)."""
    c = np.asarray(cell, dtype=np.int64).astype(np.uint64)
    res = (c >> np.uint64(58)).astype(np.int64)
    morton = c & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))
    i = _compact_bits(morton)
    j = _compact_bits(morton >> np.uint64(1))
    return res, i.astype(np.int64), j.astype(np.int64)


def cell_bounds(cell: np.ndarray):
    """Cell ids -> (lon0, lat0, lon1, lat1) arrays."""
    res, i, j = cell_to_ij(cell)
    nf = np.power(2.0, res.astype(np.float64))
    w, h = 360.0 / nf, 180.0 / nf
    lon0 = -180.0 + i * w
    lat0 = -90.0 + j * h
    return lon0, lat0, lon0 + w, lat0 + h


def cell_center(cell: np.ndarray):
    lon0, lat0, lon1, lat1 = cell_bounds(cell)
    return (lon0 + lon1) / 2.0, (lat0 + lat1) / 2.0


def parent(cell: np.ndarray) -> np.ndarray:
    """One-coarser-resolution parent cell (hierarchy, like H3 parent)."""
    res, i, j = cell_to_ij(cell)
    if np.unique(res).size > 1:
        raise ValueError("parent() requires uniform-resolution input "
                         "(the res tag is packed per array)")
    r = res - 1
    if np.any(r < 0):
        raise ValueError("cell already at resolution 0")
    return ij_to_cell((i >> 1).astype(np.uint64), (j >> 1).astype(np.uint64), int(r[0]))


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of `cell` (the (2k+1)^2 block),
    with longitude wraparound and latitude clipping. Used by the kNN join's
    ring expansion (SURVEY.md O16)."""
    res, i, j = cell_to_ij(np.array([cell]))
    res, i, j = int(res[0]), int(i[0]), int(j[0])
    n = 1 << res
    di = np.arange(-k, k + 1)
    dj = np.arange(-k, k + 1)
    ii, jj = np.meshgrid(di + i, dj + j)
    ii = np.mod(ii.ravel(), n)  # lon wraps
    jj = jj.ravel()
    keep = (jj >= 0) & (jj < n)  # lat clips at poles
    # when 2k+1 >= n the lon wrap revisits columns — dedupe on packed
    # (i,j) or duplicate shell rows would let one site fill several
    # top-k slots downstream (ADVICE r01).
    packed = np.unique(
        ii[keep].astype(np.uint64) * np.uint64(n) + jj[keep].astype(np.uint64)
    )
    return ij_to_cell(packed // np.uint64(n), packed % np.uint64(n), res)


def cover_polygon(rings: list[np.ndarray], res: int = DEFAULT_RES,
                  max_cells: int = 250_000):
    """Exact cell cover of a polygon-with-holes.

    rings: list of (N,2) float arrays [lon,lat]; ring 0 outer, rest holes
    (even-odd semantics, so nested rings just work).

    Returns (cells int64 array, full bool array):
      full=True  -> the cell is entirely inside the polygon
      full=False -> the cell intersects the boundary (exact PIP needed)

    Method (all numpy):
      1. BOUNDARY cells: sample every ring edge at step <= cellsize/2 and
         dilate each sampled cell by its 8-neighborhood. Any cell an edge
         passes through lies within cellsize/2 of a sample, hence inside
         the dilation -> the boundary set is a superset of edge cells.
      2. Remaining bbox cells are uniform: classify by their center via
         even-odd ray crossing. Center inside and not boundary -> FULL.
    This is the distributable replacement for the reference's prepared-
    geometry dict (extract.py:152-155): FULL cells need no exact test.
    """
    from posmspark.geom import points_in_rings

    allpts = np.vstack(rings)
    minlon, minlat = allpts.min(axis=0)
    maxlon, maxlat = allpts.max(axis=0)
    nf = float(2**res)
    w, h = 360.0 / nf, 180.0 / nf

    i0 = int(np.clip(np.floor((minlon + 180.0) / w), 0, nf - 1))
    i1 = int(np.clip(np.floor((maxlon + 180.0) / w - 1e-12), 0, nf - 1))
    j0 = int(np.clip(np.floor((minlat + 90.0) / h), 0, nf - 1))
    j1 = int(np.clip(np.floor((maxlat + 90.0) / h - 1e-12), 0, nf - 1))
    ncells = (i1 - i0 + 1) * (j1 - j0 + 1)
    if ncells > max_cells:
        raise ValueError(
            f"polygon cover would be {ncells} cells at res {res}; "
            "use a coarser resolution for this polygon"
        )

    # --- 1. boundary cells by edge sampling + dilation
    bset_i: list[np.ndarray] = []
    bset_j: list[np.ndarray] = []
    step = min(w, h) / 2.0
    for ring in rings:
        a = ring[:-1] if np.allclose(ring[0], ring[-1]) else ring
        b = np.roll(a, -1, axis=0)
        seg = b - a
        seglen = np.maximum(np.abs(seg[:, 0]), np.abs(seg[:, 1]))
        nsamp = np.maximum(1, np.ceil(seglen / step).astype(np.int64))
        for k in range(len(a)):  # per-edge loop; vertices are few, samples vectorized
            t = np.linspace(0.0, 1.0, int(nsamp[k]) + 1)
            px = a[k, 0] + t * seg[k, 0]
            py = a[k, 1] + t * seg[k, 1]
            si = np.floor((px + 180.0) / w).astype(np.int64)
            sj = np.floor((py + 90.0) / h).astype(np.int64)
            bset_i.append(si)
            bset_j.append(sj)
    bi = np.concatenate(bset_i)
    bj = np.concatenate(bset_j)
    # dilate by 8-neighborhood
    off = np.array([-1, 0, 1])
    bi = (bi[:, None] + off[None, :]).ravel().repeat(3)
    bj = np.repeat(bj[:, None] + off[None, :], 3, axis=0).ravel()
    bkey = bi * (2**30) + bj
    bkey = np.unique(bkey)
    bi, bj = bkey // (2**30), bkey % (2**30)
    inb = (bi >= i0) & (bi <= i1) & (bj >= j0) & (bj <= j1)
    bi, bj = bi[inb], bj[inb]
    boundary_keys = set((bi * (2**30) + bj).tolist())

    # --- 2. all bbox cells; classify non-boundary centers
    gi, gj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1))
    gi, gj = gi.ravel(), gj.ravel()
    keys = gi * (2**30) + gj
    is_boundary = np.isin(keys, np.fromiter(boundary_keys, dtype=np.int64,
                                            count=len(boundary_keys)))
    cx = -180.0 + (gi + 0.5) * w
    cy = -90.0 + (gj + 0.5) * h
    inside = points_in_rings(cx, cy, rings)

    keep = is_boundary | inside
    full = inside & ~is_boundary
    cells = ij_to_cell(gi[keep].astype(np.uint64), gj[keep].astype(np.uint64), res)
    return cells, full[keep]
