"""Vectorized numpy geometry kernels over ring-coordinate arrays.

Replaces the reference's shapely/GEOS/PostGIS calls (no shapely in this
environment; from-scratch mandate):

- points_in_rings   <- prepared.contains(point), exposm/utils.py:38-48
- wkb dump/load     <- shapely.wkb.loads, extract.py:139; writer side
                       exposm/writer.py:103-117 (MultiPolygon WKB, 4326)
- bbox              <- geom.envelope.bounds, extract.py:154
- douglas_peucker   <- geom.simplify(tol) / ST_Simplify, extract_poly.py:107,
                       postgis_sql/proc_functions.sql:219
- snap_to_grid      <- ST_SnapToGrid(geom, 0.00005), POSMmanagement/process.py:85-102
- validity          <- check_bad_geom / explain_validity, exposm/utils.py:51-70
- representative_point <- geom.representative_point(), extract.py:212
- buffer_rings      <- geom.buffer(d), extract_poly.py:106
- haversine_m       <- kNN distance metric (north-rule addition; no
                       reference counterpart, SURVEY.md O16)

A MultiPolygon is represented as list[list[np.ndarray(N,2)]]:
polygons -> rings (ring 0 outer, rest holes) -> [lon, lat] points.
Rings are closed (first point == last point).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# point-in-polygon


def points_in_rings(px: np.ndarray, py: np.ndarray,
                    rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray-crossing containment of many points vs one polygon.

    rings: list of closed (N,2) arrays; holes included (even-odd handles
    them). O(total_edges) numpy passes over the point vectors — this is
    the "prepared geometry" fast path: edge arrays are precomputed once
    per polygon on the broadcast side and reused for every Arrow batch.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    shape = px.shape
    px = np.atleast_1d(px).ravel()
    py = np.atleast_1d(py).ravel()
    # Two regimes (measured): with FEW points, a Python loop over edges
    # costs one interpreter iteration per vertex (17ms for 1 point vs a
    # 5k-vertex ring — the boundary-build shape, VERDICT r01), so
    # broadcast a (points x edges) matrix instead (283x faster there).
    # With MANY points the per-edge loop amortizes over the point
    # vector and skips non-spanning edges; the matrix's temporaries
    # lose. Crossover ~256 points.
    if len(px) <= 256:
        inside = _pir_edge_matrix(px, py, rings)
    else:
        inside = _pir_edge_loop(px, py, rings)
    return inside.reshape(shape)


def _pir_edge_matrix(px, py, rings) -> np.ndarray:
    crossings = np.zeros(px.shape, dtype=np.int64)
    max_cells = 4_000_000
    pyc = py[:, None]
    pxc = px[:, None]
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        step = max(1, max_cells // max(len(px), 1))
        for s in range(0, len(x1), step):
            a1 = y1[s:s + step][None, :]
            a2 = y2[s:s + step][None, :]
            cond = (a1 > pyc) != (a2 > pyc)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = ((x2[s:s + step][None, :] - x1[s:s + step][None, :])
                        * (pyc - a1) / (a2 - a1) + x1[s:s + step][None, :])
            crossings += (cond & (pxc < xint)).sum(axis=1)
    return (crossings & 1) == 1


def _pir_edge_loop(px, py, rings) -> np.ndarray:
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        x, y = ring[:, 0], ring[:, 1]
        x1, y1 = x[:-1], y[:-1]
        x2, y2 = x[1:], y[1:]
        for k in range(len(x1)):
            cond = (y1[k] > py) != (y2[k] > py)
            if not cond.any():
                continue
            xint = (x2[k] - x1[k]) * (py - y1[k]) / (y2[k] - y1[k]) + x1[k]
            inside ^= cond & (px < xint)
    return inside


def points_in_multipolygon(px, py, polys: list[list[np.ndarray]]) -> np.ndarray:
    """Even-odd containment vs a MultiPolygon (any polygon claims the point)."""
    out = np.zeros(np.asarray(px).shape, dtype=bool)
    for rings in polys:
        out |= points_in_rings(px, py, rings)
    return out


# ---------------------------------------------------------------------------
# WKB (little-endian Polygon / MultiPolygon subset, EPSG:4326)

_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def multipolygon_to_wkb(polys: list[list[np.ndarray]]) -> bytes:
    """Serialize MultiPolygon ring arrays to little-endian WKB."""
    out = [struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(struct.pack("<BII", 1, _WKB_POLYGON, len(rings)))
        for ring in rings:
            r = np.asarray(ring, dtype="<f8")
            out.append(struct.pack("<I", len(r)))
            out.append(r.tobytes())
    return b"".join(out)


def wkb_to_multipolygon(buf: bytes) -> list[list[np.ndarray]]:
    """Parse little-endian WKB Polygon/MultiPolygon into ring arrays."""
    def read_polygon(mv: memoryview, off: int):
        (nrings,) = struct.unpack_from("<I", mv, off)
        off += 4
        rings = []
        for _ in range(nrings):
            (npts,) = struct.unpack_from("<I", mv, off)
            off += 4
            arr = np.frombuffer(mv, dtype="<f8", count=npts * 2, offset=off)
            rings.append(arr.reshape(npts, 2).copy())
            off += npts * 16
        return rings, off

    mv = memoryview(buf)
    byte_order, geom_type = struct.unpack_from("<BI", mv, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    if geom_type & 0xC0000000:
        raise ValueError("Z/M WKB not supported (2D only)")
    hdr = 5
    if geom_type & 0x20000000:  # EWKB SRID flag: 4-byte SRID follows
        hdr += 4
    geom_type &= 0xFF
    if geom_type == _WKB_POLYGON:
        rings, _ = read_polygon(mv, hdr)
        return [rings]
    if geom_type == _WKB_MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", mv, hdr)
        off = hdr + 4
        polys = []
        for _ in range(npolys):
            bo, gt = struct.unpack_from("<BI", mv, off)
            if bo != 1 or (gt & 0xFF) != _WKB_POLYGON:
                raise ValueError("malformed MultiPolygon WKB")
            rings, off = read_polygon(mv, off + 5)
            polys.append(rings)
        return polys
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


# ---------------------------------------------------------------------------
# bbox / representative point / area


def multipolygon_bbox(polys: list[list[np.ndarray]]):
    """(minlon, minlat, maxlon, maxlat) like envelope.bounds (extract.py:154)."""
    pts = np.vstack([r for rings in polys for r in rings])
    mn = pts.min(axis=0)
    mx = pts.max(axis=0)
    return float(mn[0]), float(mn[1]), float(mx[0]), float(mx[1])


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) / 2.0)


def clip_ring_bbox(ring: np.ndarray, bbox) -> np.ndarray | None:
    """Sutherland-Hodgman clip of one closed ring against an axis-
    aligned box (x0, y0, x1, y1). AREA-exact for any simple ring vs a
    convex clipper; orientation is preserved. Caveat: when a concave
    ring intersects the box in several components, the output is ONE
    ring connected by zero-width bridges along the box edges — correct
    for area computation (the engine's use), not a clean input for
    point-in-polygon consumers. Returns a closed ring or None when the
    intersection is empty/degenerate.

    This is the G11 clipping piece the tile pipeline needs (clip
    boundary polygons to tile windows); general polygon-vs-polygon
    clipping stays out of scope (SURVEY §7) — the dissolve machinery
    covers the mesh cases exactly.
    """
    x0, y0, x1, y1 = bbox
    pts = [tuple(p) for p in np.asarray(ring, dtype=np.float64)[:-1]]

    def clip_edge(points, inside, intersect):
        out = []
        n = len(points)
        for i in range(n):
            cur, nxt = points[i], points[(i + 1) % n]
            cin, nin = inside(cur), inside(nxt)
            if cin:
                out.append(cur)
                if not nin:
                    out.append(intersect(cur, nxt))
            elif nin:
                out.append(intersect(cur, nxt))
        return out

    def x_cross(a, b, xc):
        t = (xc - a[0]) / (b[0] - a[0])
        return (xc, a[1] + t * (b[1] - a[1]))

    def y_cross(a, b, yc):
        t = (yc - a[1]) / (b[1] - a[1])
        return (a[0] + t * (b[0] - a[0]), yc)

    for inside, intersect in (
        (lambda p: p[0] >= x0, lambda a, b: x_cross(a, b, x0)),
        (lambda p: p[0] <= x1, lambda a, b: x_cross(a, b, x1)),
        (lambda p: p[1] >= y0, lambda a, b: y_cross(a, b, y0)),
        (lambda p: p[1] <= y1, lambda a, b: y_cross(a, b, y1)),
    ):
        pts = clip_edge(pts, inside, intersect)
        if len(pts) < 3:
            return None
    out = np.array(pts + [pts[0]], dtype=np.float64)
    if abs(ring_area(out)) < 1e-18:
        return None
    return out


def clip_multipolygon_bbox(polys: list[list[np.ndarray]], bbox
                           ) -> list[list[np.ndarray]]:
    """Clip a MultiPolygon (outer CCW + CW holes) to a box: each ring
    clips independently (a clipped hole stays a valid CW ring under
    even-odd semantics); polygons whose outer vanishes drop."""
    out = []
    for rings in polys:
        outer = clip_ring_bbox(rings[0], bbox)
        if outer is None:
            continue
        new_rings = [outer]
        for hole in rings[1:]:
            h = clip_ring_bbox(hole, bbox)
            if h is not None:
                new_rings.append(h)
        out.append(new_rings)
    return out


def representative_point(polys: list[list[np.ndarray]]):
    """A point guaranteed inside the multipolygon (extract.py:212 analog).

    Try the centroid of the largest outer ring; if outside (concave /
    holed shapes), scan interior candidates along the horizontal line
    through the bbox middle of that ring.
    """
    best = max((rings for rings in polys), key=lambda r: abs(ring_area(r[0])))
    outer = best[0]
    cx = float(np.mean(outer[:-1, 0]))
    cy = float(np.mean(outer[:-1, 1]))
    if points_in_rings(np.array([cx]), np.array([cy]), best)[0]:
        return cx, cy
    minx, maxx = float(outer[:, 0].min()), float(outer[:, 0].max())
    miny, maxy = float(outer[:, 1].min()), float(outer[:, 1].max())
    for frac_y in (0.5, 0.25, 0.75, 0.4, 0.6, 0.1, 0.9):
        yy = miny + (maxy - miny) * frac_y
        xs = np.linspace(minx, maxx, 257)[1:-1]
        ys = np.full(xs.shape, yy)
        ok = points_in_rings(xs, ys, best)
        if ok.any():
            xi = xs[ok]
            return float(xi[len(xi) // 2]), float(yy)
    # Deterministic exact fallback (thin slivers the fixed-grid sampling
    # misses — review-found crash): scan a horizontal line at the
    # midpoint BETWEEN two consecutive distinct vertex latitudes. Any
    # non-degenerate simple polygon has interior there, and the ray's
    # crossing structure gives a guaranteed in-span midpoint.
    all_y = np.unique(np.concatenate([rg[:, 1] for rg in best]))
    for k in range(len(all_y) - 1):
        if all_y[k + 1] - all_y[k] <= 0:
            continue
        yy = (all_y[k] + all_y[k + 1]) / 2.0
        xs_cross = []
        for rg in best:
            x1, y1 = rg[:-1, 0], rg[:-1, 1]
            x2, y2 = rg[1:, 0], rg[1:, 1]
            m = (y1 > yy) != (y2 > yy)
            if m.any():
                xs_cross.append(
                    (x2[m] - x1[m]) * (yy - y1[m]) / (y2[m] - y1[m]) + x1[m])
        if not xs_cross:
            continue
        xc = np.sort(np.concatenate(xs_cross))
        # even-odd: [xc[0], xc[1]] is an interior span
        if len(xc) >= 2 and xc[1] > xc[0]:
            return float((xc[0] + xc[1]) / 2.0), float(yy)
    raise ValueError("no interior point found")


# ---------------------------------------------------------------------------
# simplify / snap / buffer


def douglas_peucker(ring: np.ndarray, tol: float) -> np.ndarray:
    """Iterative Douglas-Peucker over one open or closed linestring.

    Matches shapely's simplify semantics closely enough for the
    containment loop of extract_poly.py:51-69; tolerance in degrees
    (reference default 0.001, manage.py:116-121).
    """
    pts = np.asarray(ring, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return pts.copy()
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        # explicit mul+add (not `@`): BLAS dot may contract with FMA,
        # which flips near-tied argmax picks vs the DuckDB oracle's
        # mirrored expression tree (found on a symmetric-circle fixture)
        seg = pts[b] - pts[a]
        mid = pts[a + 1:b] - pts[a]
        seglen2 = float(seg[0] * seg[0] + seg[1] * seg[1])
        if seglen2 == 0.0:
            d = np.sqrt(mid[:, 0] * mid[:, 0] + mid[:, 1] * mid[:, 1])
        else:
            t = np.clip((mid[:, 0] * seg[0] + mid[:, 1] * seg[1]) / seglen2,
                        0.0, 1.0)
            dx = mid[:, 0] - t * seg[0]
            dy = mid[:, 1] - t * seg[1]
            d = np.sqrt(dx * dx + dy * dy)
        imax = int(np.argmax(d))
        if d[imax] > tol:
            k = a + 1 + imax
            keep[k] = True
            stack.append((a, k))
            stack.append((k, b))
    return pts[keep]


def simplify_ring_closed(ring: np.ndarray, tol: float) -> np.ndarray:
    """DP-simplify a closed ring, keeping it closed and >= 4 points."""
    out = douglas_peucker(ring, tol)
    if len(out) < 4:  # degenerate: fall back to original
        return np.asarray(ring, dtype=np.float64).copy()
    return out


def snap_to_grid(arr: np.ndarray, grid: float = 0.00005) -> np.ndarray:
    """ST_SnapToGrid analog (process.py:85-102): round coords to a grid."""
    return np.round(np.asarray(arr, dtype=np.float64) / grid) * grid


def buffer_ring(ring: np.ndarray, dist: float) -> np.ndarray:
    """Positive outward offset of a closed ring (vertex normal offset).

    Low-fidelity Minkowski approximation — only used for the .poly
    outline path (extract_poly.py:106 buffers by degrees before
    simplifying); tested against containment, not exact shape.
    """
    pts = np.asarray(ring[:-1], dtype=np.float64)
    nxt = np.roll(pts, -1, axis=0)
    prv = np.roll(pts, 1, axis=0)
    e1 = pts - prv
    e2 = nxt - pts
    ccw = ring_area(ring) > 0

    def unit_normal(e):
        ln = np.sqrt((e**2).sum(axis=1, keepdims=True))
        ln[ln == 0] = 1.0
        t = e / ln
        n = np.stack([t[:, 1], -t[:, 0]], axis=1)  # right normal = outward for CCW
        return n if ccw else -n

    n1 = unit_normal(e1)
    n2 = unit_normal(e2)
    nv = n1 + n2
    ln = np.sqrt((nv**2).sum(axis=1, keepdims=True))
    ln[ln == 0] = 1.0
    nv = nv / ln
    out = pts + nv * dist
    return np.vstack([out, out[:1]])


# ---------------------------------------------------------------------------
# validity (check_bad_geom analog)


def ring_self_intersection(ring: np.ndarray):
    """Find a self-intersection in a closed ring.

    Returns (lon, lat) of an intersection point, or None if simple.
    O(E^2) pairwise check vectorized per anchor edge — rings are small
    (the reference's explain_validity does the same class of work in GEOS,
    exposm/utils.py:58-70).
    """
    pts = np.asarray(ring, dtype=np.float64)
    a = pts[:-1]
    b = pts[1:]
    n = len(a)
    for i in range(n - 2):
        # candidate edges j > i+1 (non-adjacent), and skip the wrap pair (0, n-1)
        j0 = i + 2
        j1 = n if i > 0 else n - 1
        if j0 >= j1:
            continue
        p1, p2 = a[i], b[i]
        p3 = a[j0:j1]
        p4 = b[j0:j1]
        d1 = np.cross(p4 - p3, p1 - p3)
        d2 = np.cross(p4 - p3, p2 - p3)
        d3 = np.cross((p2 - p1), p3 - p1)
        d4 = np.cross((p2 - p1), p4 - p1)
        hit = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        if hit.any():
            k = int(np.argmax(hit)) + j0
            # intersection point of edges i and k
            p3k, p4k = a[k], b[k]
            r = p2 - p1
            s = p4k - p3k
            denom = float(np.cross(r, s))
            t = float(np.cross(p3k - p1, s)) / denom
            pt = p1 + t * r
            return float(pt[0]), float(pt[1])
    return None


def validity_reason(polys: list[list[np.ndarray]]):
    """Classify a multipolygon: (is_valid, reason, lon, lat).

    Reasons mirror the strings the reference parses out of GEOS
    explain_validity (exposm/utils.py:105-115): 'Self-intersection',
    'Too few points', 'Unclosed ring'.
    """
    for rings in polys:
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            if len(r) < 4:
                return False, "Too few points in geometry component", None, None
            if not np.allclose(r[0], r[-1]):
                return False, "Unclosed ring", float(r[0][0]), float(r[0][1])
            hit = ring_self_intersection(r)
            if hit is not None:
                return False, "Self-intersection", hit[0], hit[1]
    return True, None, None, None


def normalize_multipolygon(polys: list[list[np.ndarray]]
                           ) -> list[list[np.ndarray]]:
    """Best-effort cleanup — ST_MakeValid / st_multi /
    st_collectionextract(...,3) analog (proc_functions.sql:107-110):
    close unclosed rings, drop degenerate (<4-point or zero-area) rings,
    fix winding (outer CCW, holes CW), drop emptied polygons (G9/G10/G14).
    """
    out = []
    for rings in polys:
        fixed = []
        outer_dropped = False
        for i, ring in enumerate(rings):
            r = np.asarray(ring, dtype=np.float64)
            if len(r) >= 3 and not np.allclose(r[0], r[-1]):
                r = np.vstack([r, r[:1]])
            if len(r) < 4 or ring_area(r) == 0.0:
                if i == 0:
                    # degenerate OUTER: the whole polygon is void —
                    # promoting a surviving hole would emit a
                    # negative-area "polygon" (review regression)
                    outer_dropped = True
                    break
                continue
            a = ring_area(r)
            want_ccw = i == 0
            if (a > 0) != want_ccw:
                r = r[::-1].copy()
            fixed.append(r)
        if fixed and not outer_dropped:
            out.append(fixed)
    return out


# ---------------------------------------------------------------------------
# distance


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters, fully vectorized."""
    R = 6_371_008.8
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(v, dtype=np.float64))
                              for v in (lon1, lat1, lon2, lat2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * R * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
