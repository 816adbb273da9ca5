"""Geometric group aggregation: dissolve, residual holes, shared-edge
consistent simplification.

Replaces the reference's PostGIS pipeline:
- dissolve          <- st_buildarea(st_union(...)) GROUP BY is_in_*
                       (/root/reference/extractor/postgis_sql/proc_functions.sql:289-333)
- residual holes    <- ST_Difference(parent, ST_Union(children)) with the
                       complete / childless / filler('xxx'||id) classification
                       (proc_functions.sql:104-197)
- shared-edge simplify <- the PostGIS topology build + ST_Simplify(topo)
                       (proc_functions.sql:1-82,219), replaced by canonical
                       edge-chain simplification (SURVEY.md §4.3)

Approach (from-scratch, numpy/pure python inside applyInPandas groups):
admin hierarchies are *meshes* — children tile their parent and share
border polylines vertex-for-vertex. On a mesh, union is exact segment
cancellation: a segment appearing an odd number of times lies on the
dissolved boundary; even-count segments are interior shared borders
(exactly what a topology-based ST_Union does under the hood). Inputs
that are NOT a mesh — edges properly crossing (overlapping children,
a child overhanging its parent) — are detected by a crossing scan and
routed through a general intersection overlay (union_overlay /
residual_overlay: exact planar arrangement of the input edges + EXACT
one-sided-limit classification by symbolic-perturbation ray casting,
r05 — no floating-point probe offsets anywhere), closing G11's
general union/difference.

Each parent group is small (tens of children, thousands of vertices);
the parallelism axis is the number of parents, which is what
groupBy(parent).applyInPandas shuffles on — at planet scale that's
hundreds of thousands of independent groups.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from posmspark import geom

SNAP = 1e-9


def _key(pt) -> tuple[int, int]:
    return (int(round(pt[0] / SNAP)), int(round(pt[1] / SNAP)))


def _split_ring_at_vertices(ring: np.ndarray, vertex_keys: set) -> np.ndarray:
    """Insert mesh vertices that lie strictly inside this ring's edges so
    that shared borders decompose into identical segment sets.

    vertex_keys: snap-keys of ALL vertices in the mesh. For each edge,
    any mesh vertex collinear with and interior to the edge becomes a
    split point. Axis-aligned and general edges both handled.
    """
    verts = np.array(sorted(vertex_keys)) if vertex_keys else np.empty((0, 2))
    if len(verts) == 0:
        return ring
    vx = verts[:, 0] * SNAP
    vy = verts[:, 1] * SNAP
    out = []
    pts = ring
    for k in range(len(pts) - 1):
        a, b = pts[k], pts[k + 1]
        out.append(a)
        dx, dy = b[0] - a[0], b[1] - a[1]
        seglen2 = dx * dx + dy * dy
        if seglen2 == 0:
            continue
        # collinear: cross product ~ 0; interior: 0 < t < 1
        cross = (vx - a[0]) * dy - (vy - a[1]) * dx
        t = ((vx - a[0]) * dx + (vy - a[1]) * dy) / seglen2
        eps = SNAP * 10 * np.sqrt(seglen2)
        on = (np.abs(cross) <= eps) & (t > 1e-12) & (t < 1 - 1e-12)
        # the candidate vertices are SNAP-quantized reconstructions; for
        # non-grid coordinates the edge's OWN endpoints reconstruct with
        # ~0.5e-9 error, land at t within eps of 0/1, and would be
        # re-inserted as bogus interior splits (zero-length segments
        # downstream). Exclude candidates sharing an endpoint's key.
        ka, kb = _key(a), _key(b)
        own = (((verts[:, 0] == ka[0]) & (verts[:, 1] == ka[1]))
               | ((verts[:, 0] == kb[0]) & (verts[:, 1] == kb[1])))
        on &= ~own
        if on.any():
            # insert the VERTEX's own (snap-grid) coordinates, not the
            # projection onto this edge: a vertex up to eps off the
            # edge projects to a point whose snap key can differ from
            # the vertex's, and the two owners would then register
            # different segments for the same border (phantom slivers)
            order = np.argsort(t[on])
            for xx, yy in zip(vx[on][order], vy[on][order]):
                out.append(np.array([xx, yy]))
    out.append(pts[-1])
    arr = np.asarray(out)
    # collapse any residual consecutive same-key points (defensive:
    # zero-length segments would register no owner and split chains)
    keep = np.ones(len(arr), dtype=bool)
    for k in range(1, len(arr)):
        if _key(arr[k]) == _key(arr[k - 1]):
            keep[k] = False
    keep[-1] = True  # keep closure
    return arr[keep]


def _mesh_segments(polys_by_id: dict[str, list[list[np.ndarray]]]):
    """Decompose a mesh of multipolygons into conformal segments.

    Returns (seg_count, seg_owners, rings_split) where segments are
    undirected snap-key pairs, owners maps segment -> sorted owner ids,
    and rings_split gives each input ring re-sampled at mesh vertices.
    """
    vertex_keys: set = set()
    for polys in polys_by_id.values():
        for rings in polys:
            for ring in rings:
                for p in ring[:-1]:
                    vertex_keys.add(_key(p))

    seg_count: dict[tuple, int] = defaultdict(int)
    seg_owners: dict[tuple, set] = defaultdict(set)
    rings_split: dict[str, list[list[np.ndarray]]] = {}
    for oid, polys in polys_by_id.items():
        rp = []
        for rings in polys:
            rr = []
            for ring in rings:
                s = _split_ring_at_vertices(np.asarray(ring, dtype=np.float64),
                                            vertex_keys)
                rr.append(s)
                for k in range(len(s) - 1):
                    a, b = _key(s[k]), _key(s[k + 1])
                    if a == b:
                        continue
                    sk = (a, b) if a < b else (b, a)
                    seg_count[sk] += 1
                    seg_owners[sk].add(oid)
            rp.append(rr)
        rings_split[oid] = rp
    return seg_count, seg_owners, rings_split


def _chain_segments(segs: list[tuple]) -> list[np.ndarray]:
    """Stitch undirected segments into closed rings (or open chains).

    Walk adjacency greedily; deterministic order via sorted keys.
    Returns list of (N,2) float arrays (closed rings repeat first point).
    """
    adj: dict[tuple, list[tuple]] = defaultdict(list)
    for a, b in segs:
        adj[a].append(b)
        adj[b].append(a)
    unused = {tuple(sorted((a, b))): None for a, b in segs}
    unused = set(unused.keys())
    rings = []
    for start in sorted(adj.keys()):
        while True:
            nxt = None
            for nb in sorted(adj[start]):
                sk = (start, nb) if start < nb else (nb, start)
                if sk in unused:
                    nxt = nb
                    break
            if nxt is None:
                break
            path = [start, nxt]
            unused.discard((start, nxt) if start < nxt else (nxt, start))
            cur, prev = nxt, start
            while cur != start:
                found = None
                for nb in sorted(adj[cur]):
                    sk = (cur, nb) if cur < nb else (nb, cur)
                    if sk in unused:
                        found = nb
                        break
                if found is None:
                    break  # open chain (shouldn't happen on valid mesh)
                unused.discard((cur, found) if cur < found else (found, cur))
                prev, cur = cur, found
                path.append(cur)
            arr = np.array([[k[0] * SNAP, k[1] * SNAP] for k in path])
            rings.append(arr)
    return rings


def dissolve_union(polys_by_id: dict[str, list[list[np.ndarray]]]
                   ) -> list[list[np.ndarray]]:
    """Union of a mesh of multipolygons.

    Conformal inputs (shared borders traced by both owners, no edge
    crossings — the admin-boundary case) use exact odd-segment
    cancellation: segments traversed an even number of times cancel,
    odd-count segments form the union boundary. Inputs with properly
    CROSSING edges (overlapping polygons — G11's general ST_Union,
    round 3) are detected and routed through the intersection overlay.
    """
    polys_list = list(polys_by_id.values())
    segs = _collect_segments(polys_list)
    if not _disjoint_interiors(polys_list, segs):
        return union_overlay(polys_list)
    seg_count, _, _ = _mesh_segments(polys_by_id)
    boundary = [sk for sk, c in seg_count.items() if c % 2 == 1]
    return _classify_rings(_chain_segments(boundary))


def _classify_rings(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Orient + classify boundary rings: outers CCW, holes CW, holes
    attached to their smallest containing outer (even-odd nesting)."""
    outers, holes = [], []
    for r in rings:
        if len(r) < 4:
            continue
        a = geom.ring_area(r)
        if a == 0:
            continue
        rr = r if a > 0 else r[::-1].copy()
        # a ring is a hole iff its midpoint-offset interior test says it's
        # inside an odd number of OTHER rings
        inside_n = 0
        probe = _interior_probe(rr)
        for other in rings:
            if other is r:
                continue
            if geom.points_in_rings(np.array([probe[0]]),
                                    np.array([probe[1]]), [other])[0]:
                inside_n += 1
        if inside_n % 2 == 1:
            holes.append(rr[::-1].copy())  # holes CW
        else:
            outers.append(rr)
    # attach each hole to the smallest containing outer
    polys = [[o] for o in sorted(outers, key=geom.ring_area, reverse=True)]
    for h in holes:
        probe = _interior_probe(h)
        best = None
        for pi, p in enumerate(polys):
            if geom.points_in_rings(np.array([probe[0]]),
                                    np.array([probe[1]]), [p[0]])[0]:
                best = pi  # sorted big->small: keep the last (smallest) hit
        if best is not None:
            polys[best].append(h)
    return polys


def _interior_probe(ring: np.ndarray):
    """A point just inside a ring (midpoint of first edge nudged along
    the inward normal)."""
    a, b = ring[0], ring[1]
    mid = (a + b) / 2.0
    d = b - a
    n = np.array([-d[1], d[0]])
    ln = np.hypot(*n)
    if ln == 0:
        return mid
    n = n / ln
    eps = max(np.hypot(*d) * 1e-6, 1e-9)
    # CCW ring: left normal points inward
    if geom.ring_area(ring) > 0:
        return mid + n * eps
    return mid - n * eps


def residual_classify(parent: list[list[np.ndarray]],
                      children: dict[str, list[list[np.ndarray]]]):
    """ST_Difference(parent, ST_Union(children)) classification
    (proc_functions.sql:104-197):

      'complete'  - children exactly tile the parent (difference empty)
      'childless' - no children at all (keep parent row as-is)
      'filler'    - residual area exists -> synthetic 'xxx'-id rows

    Conformal meshes (children trace shared borders vertex-for-vertex,
    no edge crossings — the admin-hierarchy common case) use exact
    segment cancellation: segments traversed an odd number of times by
    (parent ∪ children) bound the residual. NON-conformal inputs (a
    child edge properly crossing the parent boundary or another child —
    G11's general difference, round 3) are detected by a segment-
    crossing scan and routed through the exact intersection overlay
    (residual_overlay). Returns (status, residual_polys).
    """
    if not children:
        return "childless", []
    child_list = list(children.values())
    parent_segs = _collect_segments([parent])
    child_segs = _collect_segments(child_list)
    all_segs = (np.vstack([parent_segs, child_segs])
                if len(parent_segs) and len(child_segs)
                else (parent_segs if len(parent_segs) else child_segs))
    # cancellation is exact only when the children tile DISJOINTLY
    # inside the parent: crossings, child-child overlap, and
    # out-of-parent child edges all route to the general overlay
    # (review r03: the crossing scan alone missed containment and
    # collinear-overlap configurations — reproduced wrong geometry)
    nonconformal = _has_proper_crossing(all_segs)
    if not nonconformal:
        if len(child_segs):
            # r05: EXACT one-sided classification of every child edge
            # (_eps_side_parity) replaces the clearance-bounded probes
            # and their clamp-refusal path — child-child overlap bands
            # of any representable thickness count both children on
            # the inside and route to the overlay
            plus, minus = _group_side_membership(
                child_segs, [parent] + child_list)
            child_cov_p = plus[:, 1:].sum(axis=1)
            child_cov_m = minus[:, 1:].sum(axis=1)
            if int(max(child_cov_p.max(), child_cov_m.max())) > 1:
                nonconformal = True
            elif (~plus[:, 0] & ~minus[:, 0]).any():
                # a child edge with NEITHER side inside the parent
                # lies outside it — not a containment mesh
                nonconformal = True
    if nonconformal:
        residual = residual_overlay(parent, children)
        if not residual:
            return "complete", []
        return "filler", residual
    mesh = dict(children)
    mesh["__parent__"] = parent
    seg_count, _, _ = _mesh_segments(mesh)
    boundary = [sk for sk, c in seg_count.items() if c % 2 == 1]
    if not boundary:
        return "complete", []
    residual = dissolve_union_from_boundary(boundary)
    if not residual:
        return "complete", []
    return "filler", residual


# ---------------------------------------------------------------------------
# general (non-conformal) difference overlay — G11's general path,
# limited to the residual computation (VERDICT r02 item 5)


def _collect_segments(polys_list: list) -> np.ndarray:
    """All ring edges of a list of multipolygons as an (N, 4) array of
    (ax, ay, bx, by); zero-length edges dropped."""
    segs = []
    for polys in polys_list:
        for rings in polys:
            for ring in rings:
                arr = np.asarray(ring, dtype=np.float64)
                a, b = arr[:-1], arr[1:]
                keep = (a != b).any(axis=1)
                if keep.any():
                    segs.append(np.hstack([a[keep], b[keep]]))
    if not segs:
        return np.empty((0, 4))
    return np.vstack(segs)


def _crossing_params(segs: np.ndarray, i: int):
    """Intersection parameters of segment i vs every segment: returns
    (t, u, noncol, perp_col) where p_i + t*r_i = q_j + u*s_j for
    non-collinear pairs and perp_col marks collinear-line pairs."""
    p = segs[i, :2]
    r = segs[i, 2:] - segs[i, :2]
    li = float(np.hypot(r[0], r[1]))
    q = segs[:, :2]
    s = segs[:, 2:] - segs[:, :2]
    lens = np.hypot(s[:, 0], s[:, 1])
    qp = q - p
    rxs = r[0] * s[:, 1] - r[1] * s[:, 0]
    qpxr = qp[:, 0] * r[1] - qp[:, 1] * r[0]
    qpxs = qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]
    noncol = np.abs(rxs) > 1e-12 * li * np.maximum(lens, 1e-300)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(noncol, qpxs / rxs, np.nan)
        u = np.where(noncol, qpxr / rxs, np.nan)
    # collinear LINES: j's start lies on i's carrier line
    perp_col = (~noncol) & (np.abs(qpxr) <= 1e-9 * li)
    return t, u, noncol, perp_col, li


def _sweep_candidate_blocks(segs: np.ndarray):
    """Yield (a, b) candidate-pair index blocks whose bboxes overlap —
    sort-sweep on x then y-reject, in bounded blocks of i (degenerate
    all-overlapping-x inputs would otherwise build O(n^2) indices).
    Candidate volume on a conformal mesh is O(n * local overlap), not
    n^2 — the whole scan is numpy."""
    n = len(segs)
    if n < 2:
        return
    x0 = np.minimum(segs[:, 0], segs[:, 2])
    x1 = np.maximum(segs[:, 0], segs[:, 2])
    y0 = np.minimum(segs[:, 1], segs[:, 3])
    y1 = np.maximum(segs[:, 1], segs[:, 3])
    # pair (i, j) can only cross if x-intervals overlap; in x0-sorted
    # order the partners of i are exactly the contiguous window (i, e_i)
    order = np.argsort(x0, kind="stable")
    sx0, sx1 = x0[order], x1[order]
    e = np.searchsorted(sx0, sx1, side="right")
    cnt = np.maximum(e - np.arange(1, n + 1), 0)
    if int(cnt.sum()) == 0:
        return
    ends = np.cumsum(cnt)
    block_starts = [0]
    while block_starts[-1] < n:
        st = block_starts[-1]
        base = ends[st - 1] if st else 0
        nxt = int(np.searchsorted(ends, base + 8_000_000, side="left")) + 1
        block_starts.append(max(nxt, st + 1))
    for bi in range(len(block_starts) - 1):
        st, en_i = block_starts[bi], min(block_starts[bi + 1], n)
        c = cnt[st:en_i]
        tot = int(c.sum())
        if tot == 0:
            continue
        ii = np.repeat(np.arange(st, en_i), c)
        offs = np.concatenate([[0], np.cumsum(c[:-1])])
        jj = np.arange(tot) - np.repeat(offs, c) + ii + 1
        a, b = order[ii], order[jj]
        m = (y0[a] <= y1[b]) & (y0[b] <= y1[a])  # y-bbox reject
        a, b = a[m], b[m]
        if len(a):
            yield a, b


def _pair_masks(segs: np.ndarray, a: np.ndarray, b: np.ndarray,
                want_collinear: bool = True
                ) -> tuple[np.ndarray, np.ndarray | None]:
    """(proper, collinear_overlap) masks over candidate pairs
    (a[k], b[k]), computed from ONE shared prologue so the two
    tolerance expressions cannot drift apart:
    - proper: the segments cross at interior points of BOTH (strict
      parameter window; endpoint touches and collinear overlaps
      excluded) — the configuration the conformal mesh machinery
      cannot represent.
    - collinear_overlap: same carrier line AND positive 1-D overlap
      length (shared-endpoint touches excluded) — the artifact a DP
      chord landing exactly ON another chain produces. Skipped (None)
      when want_collinear=False, so the proper-only dispatch hot path
      (_has_proper_crossing, every dissolve/residual dispatch) pays
      nothing for it."""
    eps = 1e-9
    p = segs[a, :2]
    r = segs[a, 2:] - p
    q = segs[b, :2]
    s = segs[b, 2:] - q
    rxs = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    qp = q - p
    qpxr = qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]
    qpxs = qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]
    li = np.hypot(r[:, 0], r[:, 1])
    ls = np.hypot(s[:, 0], s[:, 1])
    noncol = np.abs(rxs) > 1e-12 * li * np.maximum(ls, 1e-300)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(noncol, qpxs / rxs, np.nan)
        u = np.where(noncol, qpxr / rxs, np.nan)
    proper = (noncol & (t > eps) & (t < 1 - eps)
              & (u > eps) & (u < 1 - eps))
    if not want_collinear:
        return proper, None
    col = (~noncol) & (np.abs(qpxr) <= 1e-9 * np.maximum(li, 1e-300))
    rr = np.maximum(li * li, 1e-300)
    t0 = (qp[:, 0] * r[:, 0] + qp[:, 1] * r[:, 1]) / rr
    qe = qp + s
    t1 = (qe[:, 0] * r[:, 0] + qe[:, 1] * r[:, 1]) / rr
    ov = (np.minimum(np.maximum(t0, t1), 1.0)
          - np.maximum(np.minimum(t0, t1), 0.0))
    return proper, col & (ov > eps)


def _proper_mask(segs: np.ndarray, a: np.ndarray, b: np.ndarray
                 ) -> np.ndarray:
    return _pair_masks(segs, a, b, want_collinear=False)[0]


def _has_proper_crossing(segs: np.ndarray) -> bool:
    """True iff any two segments cross at interior points of BOTH —
    the one configuration the conformal mesh machinery cannot
    represent (T-junctions land on vertices and are vertex-split).

    Runs on EVERY dissolve/residual dispatch, so the common conformal
    case must be cheap: blocks of rows against all segments in one
    broadcast numpy pass (bounded temp memory), not a per-segment
    Python loop (review r03 — ~5k-edge parents paid 5k interpreter
    iterations here before any union work). Early-exits per block."""
    for a, b in _sweep_candidate_blocks(segs):
        if _proper_mask(segs, a, b).any():
            return True
    return False


def _chain_conflict_key_pairs(chain_map: dict, keys: list
                              ) -> tuple[set, set]:
    """(proper_pairs, collinear_pairs): canonical chain-key pairs among
    `keys` whose polylines in `chain_map` properly cross / overlap
    collinearly over a positive length (no early exit) — the conflict
    sets the simplifier's topology repair acts on. The two classes are
    returned SEPARATELY so an input-inherent conflict of one class
    can't mask a simplification-induced conflict of the other on the
    same pair (review r05). Self-conflicts appear as (k, k)."""
    seg_arrays = []
    seg_chain = []
    for ci, ck in enumerate(keys):
        pts = chain_map[ck]
        if len(pts) < 2:
            continue
        seg_arrays.append(np.concatenate([pts[:-1], pts[1:]], axis=1))
        seg_chain.append(np.full(len(pts) - 1, ci))
    if not seg_arrays:
        return set(), set()
    segs = np.concatenate(seg_arrays, axis=0)
    seg_chain = np.concatenate(seg_chain)
    out_p: set = set()
    out_c: set = set()
    for a, b in _sweep_candidate_blocks(segs):
        proper, col = _pair_masks(segs, a, b)
        for m, out in ((proper, out_p), (col, out_c)):
            if m.any():
                for ia, ib in zip(seg_chain[a[m]], seg_chain[b[m]]):
                    ka, kb = keys[ia], keys[ib]
                    out.add((ka, kb) if not kb < ka else (kb, ka))
    return out_p, out_c


def _surviving_ring_chains(polys_traversal: list, chain_out: dict) -> set:
    """Chain keys reaching the OUTPUT under the ring reassembly drop
    rules: a ring keeps >= 4 rebuilt points (sum(len(chain)-1)+1), and
    a polygon whose OUTER ring degenerates drops entirely — the same
    two rules shared_edge_simplify's rebuild applies to the actual
    arrays (keep the two in sync)."""
    live: set = set()
    for poly in polys_traversal:
        ring_lens = [sum(len(chain_out[ck]) - 1 for ck in ring) + 1
                     for ring in poly]
        if not ring_lens or ring_lens[0] < 4:
            continue
        for ring, rl in zip(poly, ring_lens):
            if rl >= 4:
                live.update(ring)
    return live


def _group_side_membership(segs: np.ndarray, groups: list):
    """(plus, minus) membership of each segment's one-sided midpoint
    limits in each GROUP (a multipolygon: OR across its parts,
    geom.points_in_multipolygon semantics) — EXACT via
    _eps_side_parity (no probe offset; the r05 dispatch rewrite).
    Segments here are ORIGINAL input edges, so each midpoint lies
    bit-exactly on its own carrier; sub-snap duplicate carriers from
    OTHER groups count both sides equally, which can only over-count
    coverage — the conservative direction (routes to the general
    overlay, never wrongly to cancellation). Returns two
    (n_segments, n_groups) bool arrays."""
    parts = []
    gid = []
    for g, polys in enumerate(groups):
        for rings in polys:
            parts.append(rings)
            gid.append(g)
    plus_p, minus_p = _eps_side_parity(segs, parts)
    gid = np.asarray(gid)
    n_groups = len(groups)
    plus = np.zeros((len(segs), n_groups), dtype=bool)
    minus = np.zeros((len(segs), n_groups), dtype=bool)
    for g in range(n_groups):
        cols = gid == g
        plus[:, g] = plus_p[:, cols].any(axis=1)
        minus[:, g] = minus_p[:, cols].any(axis=1)
    return plus, minus


def _disjoint_interiors(polys_list: list, segs: np.ndarray) -> bool:
    """True iff the inputs form a mesh with pairwise-disjoint interiors
    — the precondition for exact cancellation union. Checks (a) no
    proper edge crossings, (b) no segment's one-sided limit covered by
    more than one input (catches containment, duplicates, and collinear
    partial overlap, which have NO interior-interior crossing — review
    r03 reproduced silently-wrong unions on all three). r05: the sides
    are classified EXACTLY (_eps_side_parity) — the clearance-bounded
    probe offsets and their floor-clamp refusal path are gone; a thin
    overlap band of ANY representable thickness counts both carriers'
    groups on its inside and flags non-disjoint. False positives
    (conservatively routing to the exact overlay) only cost the slower
    path."""
    if _has_proper_crossing(segs):
        return False
    if len(polys_list) < 2 or not len(segs):
        return True
    plus, minus = _group_side_membership(segs, polys_list)
    return int(max(plus.sum(axis=1).max(),
                   minus.sum(axis=1).max())) <= 1


def _split_at_intersections(segs: np.ndarray) -> list:
    """Split every segment at each intersection with any other segment
    (proper crossings, T-junctions, collinear overlaps) — the planar
    arrangement restricted to input edges. O(S^2) per call, which is
    fine per parent group (tens of children, thousands of edges).

    CRITICAL invariant (fuzz r03 — seeds produced 1-snap-quantum-apart
    keys for the SAME geometric crossing, leaving degree-1 vertices and
    garbage rings): the two halves of every crossing must receive
    BIT-IDENTICAL split coordinates. Hence every split point is derived
    canonically — a T-junction uses the touching segment's own endpoint
    coordinates, a proper crossing uses the LOWER-indexed segment's
    parametrization (the symmetric parameter values are exact IEEE
    negation pairs, so both sides compute the same floats), and a
    collinear overlap uses the partner's endpoint coordinates verbatim.
    """
    eps_end = 1e-9  # param distance at which a crossing IS the endpoint
    out = []
    for i in range(len(segs)):
        p = segs[i, :2]
        r = segs[i, 2:] - segs[i, :2]
        t, u, noncol, col, li = _crossing_params(segs, i)
        # interior cutoff MUST equal eps_end (review r03): with a
        # smaller interior bound, a crossing at t in (interior, eps_end]
        # on THIS segment is treated as a T-junction by the partner
        # (cut at this segment's endpoint) but still split here at the
        # parametrization point — two vertices ~eps apart that can
        # straddle a snap-cell boundary, exactly the mismatch this
        # function must never produce.
        ok = noncol & (t > eps_end) & (t < 1 - eps_end) \
            & (u >= -1e-12) & (u <= 1 + 1e-12)
        ok[i] = False
        cuts: list[tuple[float, np.ndarray]] = []
        for j in np.where(ok)[0]:
            if u[j] <= eps_end:
                pt = segs[j, :2]
            elif u[j] >= 1 - eps_end:
                pt = segs[j, 2:]
            elif i < int(j):
                pt = p + t[j] * r
            else:
                pt = segs[j, :2] + u[j] * (segs[j, 2:] - segs[j, :2])
            cuts.append((float(t[j]), pt))
        col = col.copy()
        col[i] = False
        if col.any():
            rr = li * li
            for j in np.where(col)[0]:
                for q in (segs[j, :2], segs[j, 2:]):
                    tv = ((q[0] - p[0]) * r[0] + (q[1] - p[1]) * r[1]) / rr
                    if 1e-12 < tv < 1 - 1e-12:
                        cuts.append((float(tv), q))
        cuts.sort(key=lambda c: c[0])
        pts = [p] + [c[1] for c in cuts] + [segs[i, 2:]]
        for k in range(len(pts) - 1):
            out.append((np.asarray(pts[k], dtype=np.float64),
                        np.asarray(pts[k + 1], dtype=np.float64), i))
    return out


def residual_overlay(parent: list[list[np.ndarray]],
                     children: dict[str, list[list[np.ndarray]]]
                     ) -> list[list[np.ndarray]]:
    """General ST_Difference(parent, ST_Union(children)) — NO
    conformality assumption (the reference's general
    ST_Difference/ST_Union, proc_functions.sql:107,138,291):

    1. split all edges at their pairwise intersections (exact planar
       arrangement over input edges)
    2. classify each sub-segment's two ONE-SIDED LIMITS exactly
       (_eps_side_parity: symbolic-perturbation ray casting, r05 — no
       constructed probe point, no finite offset): it bounds the
       residual iff exactly one side is inside the parent and outside
       every child
    3. chain boundary sub-segments into rings, group holes

    The conformal path (exact cancellation) stays the default in
    residual_classify.
    """
    child_list = list(children.values())
    return _overlay_by_predicate(
        [parent] + child_list,
        lambda m: bool(m[0]) and not m[1:].any())


def union_overlay(polys_list: list[list[list[np.ndarray]]]
                  ) -> list[list[np.ndarray]]:
    """General ST_Union of possibly-OVERLAPPING multipolygons (G11's
    general union, proc_functions.sql:291): the same arrangement +
    exact one-sided-limit machinery as residual_overlay with the
    predicate 'inside any input polygon'. Conformal meshes should keep
    using the exact cancellation path (dissolve_union auto-dispatches).
    """
    return _overlay_by_predicate(list(polys_list),
                                 lambda m: bool(m.any()))


def _eps_side_parity(ab: np.ndarray, parts: list):
    """EXACT even-odd parity of each arranged sub-segment's two
    one-sided limits vs each polygon part — the r05 replacement for
    the floating-point side probes (VERDICT r03/r04 stretch item).

    Instead of constructing a probe POINT at a finite offset (whose
    distance had to be clearance-bounded to be trustworthy), the probe
    is the SYMBOLIC point M +- eps*n for an infinitesimal eps (M =
    sub-segment midpoint, n = left normal (-ry, rx)). Every ray-
    crossing comparison becomes a lexicographic sign of (c0 + eps*c1)
    — computable exactly from the input coordinates, so the
    classification IS the one-sided limit: no offset to pick, no band
    too thin, no coordinate magnitude at which it degrades.

    Per edge (p1, p2) of a part, the horizontal ray from P = M + s*eps*n
    crosses iff [y1 > Py] != [y2 > Py] and Px < x_int, which expands to
      y1 > Py      <=> (y1 - My, -s*rx) >lex (0, 0)
      Px < x_int   <=> sign(c0 + eps*c1) == sign(dy), with
                       c0 = (My - y1)*dx - (Mx - x1)*dy
                       c1 = s*(rx*dx + ry*dy)
    The eps term resolves exactly the degeneracies the float probes
    fought: a collinear duplicate carrier through M has c0 == 0 and
    c1 = s*(r . d) != 0, so each side counts it according to the
    carrier's orientation — the true one-sided limit.

    Implementation: one vectorized float pass per sub-segment filters
    the certainly-crossing / certainly-not edges (sign certain outside
    a conservative relative error band); only the ambiguous residue —
    exact ties and near-degeneracies — is re-evaluated with Fraction
    arithmetic and the eps tie-break. Returns (plus, minus): two
    (n_segments, n_parts) bool arrays of even-odd parities.
    """
    from fractions import Fraction

    ex1, ey1, ex2, ey2, part_id = [], [], [], [], []
    for p, rings in enumerate(parts):
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            ex1.append(r[:-1, 0]); ey1.append(r[:-1, 1])
            ex2.append(r[1:, 0]); ey2.append(r[1:, 1])
            part_id.append(np.full(len(r) - 1, p, dtype=np.int64))
    ex1 = np.concatenate(ex1); ey1 = np.concatenate(ey1)
    ex2 = np.concatenate(ex2); ey2 = np.concatenate(ey2)
    part_id = np.concatenate(part_id)
    n_parts = len(parts)
    S = len(ab)
    plus = np.zeros((S, n_parts), dtype=bool)
    minus = np.zeros((S, n_parts), dtype=bool)

    # HORIZONTAL edges never cross the probe ray, not even symbolically:
    # y1 == y2 makes gt(y1) == gt(y2) at every eps, so exact_cross is
    # identically False. Drop them up front — on grid-aligned admin
    # meshes they are ~half the edges AND the ones whose vertex y
    # exactly equals a midpoint my (the amb1 Fraction hot path).
    keep = ey1 != ey2
    ex1 = ex1[keep]; ey1 = ey1[keep]
    ex2 = ex2[keep]; ey2 = ey2[keep]
    part_id = part_id[keep]
    dx = ex2 - ex1
    dy = ey2 - ey1
    E = len(ex1)
    if E == 0:
        return plus, minus

    # y-interval bucket index (review r05: the dense per-segment O(E)
    # pass replaced the deleted probe machinery's pruning — restore a
    # prune). An edge can affect segment i's parity only if its
    # y-span, padded by the amb1 relative band, contains my; bucket
    # edges by padded span so each segment gathers one bucket instead
    # of scanning all E. Candidate work is then O(E/B) typical, and
    # correctness never depends on the prune: every gathered candidate
    # still goes through the identical certain/ambiguous/exact logic.
    #: conservative error band for the y comparisons (anything inside
    #: goes exact); hoisted above the bucket prune so the prune pad is
    #: DERIVED from it (ADVICE r05: pad >= amb1 band must hold by
    #: construction — a future REL1 bump now widens the pad with it
    #: instead of silently pruning edges the ambiguous path would have
    #: sent exact). REL1 covers one subtraction + the midpoint rounding
    #: (~2 ulp) with ~100x margin.
    REL1 = 1e-14
    eylo = np.minimum(ey1, ey2)
    eyhi = np.maximum(ey1, ey2)
    _pad = (2.0 * REL1) * np.maximum(
        np.maximum(np.abs(ey1), np.abs(ey2)), 1.0)
    eylo = eylo - _pad
    eyhi = eyhi + _pad
    ymin = float(eylo.min())
    ymax = float(eyhi.max())
    B = int(min(4096, max(1, E // 8)))
    bw = (ymax - ymin) / B
    if bw <= 0.0:
        B, bw = 1, 1.0
    b0 = np.clip(((eylo - ymin) / bw).astype(np.int64), 0, B - 1)
    b1 = np.clip(((eyhi - ymin) / bw).astype(np.int64), 0, B - 1)
    counts = b1 - b0 + 1
    eidx = np.repeat(np.arange(E, dtype=np.int64), counts)
    offs = (np.arange(len(eidx), dtype=np.int64)
            - np.repeat(counts.cumsum() - counts, counts))
    bids = np.repeat(b0, counts) + offs
    order = np.argsort(bids, kind="stable")
    eidx = eidx[order]
    bstart = np.searchsorted(bids[order], np.arange(B + 1))
    exmax = np.maximum(ex1, ex2)

    #: conservative error bands for c0 (anything inside goes exact;
    #: REL1 is defined above the bucket prune, which derives its pad
    #: from it). c0's error has BOTH a relative term (product
    #: roundings, ~6 ulp of |t1|+|t2|) and an ABSOLUTE term from the
    #: midpoint rounding propagated through the cross difference,
    #: ~(|dx|+|dy|) * ulp(m): on a micro-sub-segment whose own carrier
    #: has true c0 == 0, the float residue (~1e-21) dwarfs the relative
    #: band alone (fuzz seed 1978 — the filter certified the sign of
    #: pure rounding noise). Both terms carry ~100x margin.
    REL2 = 1e-14
    ABS2 = 1e-14  # x (|dx|+|dy|) * max(|mx|, |my|, 1)

    def exact_cross_both(mxF, myF, rxF, ryF, j, ycache):
        """Crossing of edge j for BOTH probe sides (s=+1, s=-1) in one
        pass: the Fraction conversions, the y tie-break decisions
        (cached per distinct float y — grid meshes repeat vertex ys
        heavily), and c0 are side-independent; only the eps tie-break
        signs differ (c1 flips with s)."""
        y1f = float(ey1[j]); y2f = float(ey2[j])
        r1 = ycache.get(y1f)
        if r1 is None:
            # v > Py = My + eps*s*rx, lexicographic in eps
            y1F = Fraction(y1f)
            if y1F != myF:
                g = y1F > myF
                r1 = (g, g)
            else:
                r1 = (rxF < 0, rxF > 0)
            ycache[y1f] = r1
        r2 = ycache.get(y2f)
        if r2 is None:
            y2F = Fraction(y2f)
            if y2F != myF:
                g = y2F > myF
                r2 = (g, g)
            else:
                r2 = (rxF < 0, rxF > 0)
            ycache[y2f] = r2
        cp = r1[0] != r2[0]
        cm = r1[1] != r2[1]
        if not (cp or cm):
            return False, False
        x1 = Fraction(float(ex1[j]))
        dxF = Fraction(float(ex2[j])) - x1
        y1F = Fraction(y1f)
        dyF = Fraction(y2f) - y1F
        c0 = (myF - y1F) * dxF - (mxF - x1) * dyF
        if c0 != 0:
            sgn_p = sgn_m = 1 if c0 > 0 else -1
        else:
            c1 = rxF * dxF + ryF * dyF  # the s=+1 eps coefficient
            if c1 == 0:
                return False, False  # P on the edge's line at every eps
            sgn_p = 1 if c1 > 0 else -1
            sgn_m = -sgn_p
        dy_pos = dyF > 0
        return (cp and ((sgn_p > 0) == dy_pos),
                cm and ((sgn_m > 0) == dy_pos))

    for i in range(S):
        axv, ayv, bxv, byv = (float(v) for v in ab[i])
        mx = (axv + bxv) / 2.0
        my = (ayv + byv) / 2.0
        bi = int((my - ymin) / bw)
        if bi < 0 or bi >= B:
            # my outside every padded edge span: no edge can straddle
            # it, so every crossing count is 0 (parity False).
            continue
        cand = eidx[bstart[bi]:bstart[bi + 1]]
        # the +x ray can only meet edges whose x-span reaches mx: with
        # a y-straddle, x_int lies inside the edge's x-span, and the
        # symbolic eps offset is infinitesimal — it can never overcome
        # a finite mx - exmax gap (band is pure float-rounding margin).
        cand = cand[exmax[cand] >= mx - 1e-12 * max(abs(mx), 1.0)]
        if len(cand) == 0:
            continue
        cy1 = ey1[cand]; cy2 = ey2[cand]
        cx1 = ex1[cand]
        cdx = dx[cand]; cdy = dy[cand]
        a1 = cy1 - my
        a2 = cy2 - my
        amb1 = (
            (np.abs(a1) <= REL1 * np.maximum(np.abs(cy1), abs(my)))
            | (np.abs(a2) <= REL1 * np.maximum(np.abs(cy2), abs(my)))
        )
        cond1 = (a1 > 0) != (a2 > 0)
        t1 = (my - cy1) * cdx
        t2 = (mx - cx1) * cdy
        c0 = t1 - t2
        amb2 = np.abs(c0) <= (
            REL2 * (np.abs(t1) + np.abs(t2))
            + ABS2 * (np.abs(cdx) + np.abs(cdy)) * max(abs(mx), abs(my), 1.0)
        )
        certain_cross = cond1 & ~amb1 & ~amb2 & ((c0 > 0) == (cdy > 0))
        amb = (amb1 | (cond1 & amb2)) & ~certain_cross
        counts = np.bincount(part_id[cand[certain_cross]],
                             minlength=n_parts)
        cp = counts.copy()
        cm = counts.copy()
        aj = cand[amb]
        if len(aj):
            mxF = (Fraction(axv) + Fraction(bxv)) / 2
            myF = (Fraction(ayv) + Fraction(byv)) / 2
            rxF = Fraction(bxv) - Fraction(axv)
            ryF = Fraction(byv) - Fraction(ayv)
            ycache: dict = {}
            for j in aj:
                xp, xm = exact_cross_both(mxF, myF, rxF, ryF, j, ycache)
                if xp:
                    cp[part_id[j]] += 1
                if xm:
                    cm[part_id[j]] += 1
        plus[i] = (cp % 2) == 1
        minus[i] = (cm % 2) == 1
    return plus, minus


def _overlay_by_predicate(groups: list, combine) -> list[list[np.ndarray]]:
    """Shared overlay core (r05 exact rewrite): split all input edges
    at pairwise intersections, SNAP every sub-segment endpoint to the
    arrangement grid, classify each snapped sub-segment's two one-sided
    limits EXACTLY against the snapped split rings
    (_eps_side_parity — symbolic-perturbation ray casting; no finite
    probe offset exists anywhere in this path anymore), keep
    sub-segments whose sides disagree under `combine` (a per-group
    membership combiner, e.g. residual = in parent and in no child),
    and chain them into hole-grouped rings.

    Why classification runs against the SNAPPED SPLIT rings, not the
    original rings: the arrangement's split points are canonical floats
    and its vertices are snapped, so a sub-segment midpoint lies
    EXACTLY on its own snapped carrier (c0 == 0, the eps term gives the
    true one-sided limit), foreign edges meet it only at endpoints
    (canonical split invariant), and near-duplicate carriers within one
    snap quantum collapse to EXACT collinearity — the merge semantics
    the old collinearity-excluded probes implemented approximately.
    Probing the ORIGINAL rings from a snapped midpoint would ask for
    membership at a point displaced up to one quantum off the carrier —
    whichever side quantization drifted — which is exactly the failure
    the finite clearance-bounded probes existed to straddle. The
    snapped geometry differs from the input by <= one snap quantum
    (1e-9), the same tolerance every consumer of this module already
    accepts."""
    segs_list: list[list[float]] = []
    seg_ring: list[int] = []
    ring_part: list[int] = []   # ring uid -> flat part index
    part_gid: list[int] = []    # flat part index -> group index
    for g, polys in enumerate(groups):
        for rings in polys:
            part_gid.append(g)
            pid = len(part_gid) - 1
            for ring in rings:
                r = np.asarray(ring, dtype=np.float64)
                ring_part.append(pid)
                rid = len(ring_part) - 1
                for k in range(len(r) - 1):
                    segs_list.append(
                        [r[k, 0], r[k, 1], r[k + 1, 0], r[k + 1, 1]])
                    seg_ring.append(rid)
    if not segs_list:
        return []
    segs = np.asarray(segs_list, dtype=np.float64)
    subs = _split_at_intersections(segs)

    def snapf(pt):
        k = _key(pt)
        return (k[0] * SNAP, k[1] * SNAP)

    # snapped split rings (per original ring, subs arrive in path order)
    ring_pts: list[list[tuple]] = [[] for _ in ring_part]
    uniq: dict[tuple, tuple] = {}
    for a, b, src in subs:
        ka, kb = _key(a), _key(b)
        asn, bsn = snapf(a), snapf(b)
        path = ring_pts[seg_ring[src]]
        if not path:
            path.append(asn)
        if path[-1] != bsn:
            path.append(bsn)
        if ka == kb:
            continue
        sk = (ka, kb) if ka < kb else (kb, ka)
        if sk not in uniq:
            uniq[sk] = (asn, bsn)
    if not uniq:
        return []
    parts: list[list[np.ndarray]] = [[] for _ in part_gid]
    for rid, path in enumerate(ring_pts):
        if len(path) < 2:
            continue
        if path[0] != path[-1]:
            path.append(path[0])
        parts[ring_part[rid]].append(np.asarray(path, dtype=np.float64))
    keys = list(uniq)
    ab = np.array([[*uniq[k][0], *uniq[k][1]] for k in keys])
    pplus, pminus = _eps_side_parity(ab, parts)
    gid = np.asarray(part_gid)
    n_groups = len(groups)
    gp = np.zeros((len(keys), n_groups), dtype=bool)
    gm = np.zeros((len(keys), n_groups), dtype=bool)
    for g in range(n_groups):
        cols = gid == g
        gp[:, g] = pplus[:, cols].any(axis=1)
        gm[:, g] = pminus[:, cols].any(axis=1)
    plus = np.array([combine(gp[i]) for i in range(len(keys))])
    minus = np.array([combine(gm[i]) for i in range(len(keys))])
    boundary = [k for k, keep in zip(keys, plus != minus) if keep]
    if not boundary:
        return []
    return dissolve_union_from_boundary(boundary)


def dissolve_union_from_boundary(boundary_segs: list[tuple]
                                 ) -> list[list[np.ndarray]]:
    """Boundary segments -> polygons WITH hole grouping: an annular
    residual (child strictly inside the parent) must come back as one
    outer + one hole, not two standalone positive polygons (review
    regression: the island was double-counted as filler)."""
    rings = [
        r for r in _chain_segments(boundary_segs)
        if len(r) >= 4 and abs(geom.ring_area(r)) > (SNAP * 100) ** 2
    ]
    return _classify_rings(rings)


# ---------------------------------------------------------------------------
# shared-edge consistent simplification (the PostGIS-topology replacement)


def _repair_chain_crossings(chain_grid: dict[tuple, np.ndarray],
                            chain_out: dict[tuple, np.ndarray],
                            polys_traversal: list) -> int:
    """Topology repair for per-chain DP (mutates chain_out in place):
    endpoint-pinned Douglas-Peucker keeps every border watertight but
    can move a chain's interior ACROSS another chain (or across itself),
    pinching the mesh union into multiple components. Fixpoint: find
    all conflicts among the polylines of SURVIVING rings
    (_chain_conflict_key_pairs: proper crossings — the predicate the
    overlay dispatch trusts — plus positive-length collinear overlaps,
    which a DP chord landing exactly ON another chain produces),
    revert every chain involved to its full grid reconstruction,
    repeat. `polys_traversal` (list of polygons, each a list of rings,
    each a list of chain keys, outer ring first) scopes the scan
    through _surviving_ring_chains: rings that degenerate-drop never
    reach the output, so a collapsed sub-tolerance sliver landing on
    its neighbor's border stays dropped instead of being resurrected.
    Conflicts already present between the FULL-resolution polylines
    (review r05: e.g. a zero-width out-and-back spike taller than tol
    self-overlaps in the input itself) are input-inherent — reverting
    cannot fix them, so they are baselined out and never revert
    anything (n_reverted stays 0 on such meshes, keeping the pure-DP
    oracle-scope invariant meaningful). The baseline is subtracted
    PER CONFLICT CLASS (proper vs collinear, review r05 round 2): an
    inherent collinear self-overlap on a pair must not mask a
    simplification-induced proper crossing on the same pair. It is
    also computed lazily — the overwhelmingly common conflict-free
    mesh pays one sweep over the simplified segments and never scans
    the full mesh. Terminates: each round reverts >= 1 new chain, and
    the fully-reverted mesh carries only baseline conflicts.
    Deterministic: all dirty chains of a round revert together, and
    survivors are a pure function of the current chain_out, so no
    order dependence. Returns the number of reverted chains."""
    baseline = None
    reverted: set = set()
    while True:
        live = _surviving_ring_chains(polys_traversal, chain_out)
        cks = [ck for ck in chain_out if ck in live]
        conf_p, conf_c = _chain_conflict_key_pairs(chain_out, cks)
        if not conf_p and not conf_c:
            return len(reverted)
        if baseline is None:
            baseline = _chain_conflict_key_pairs(chain_grid,
                                                 list(chain_grid))
        induced = (conf_p - baseline[0]) | (conf_c - baseline[1])
        dirty = {ck for pair in induced for ck in pair} - reverted
        if not dirty:
            return len(reverted)
        for ck in dirty:
            chain_out[ck] = chain_grid[ck]
        reverted |= dirty


def shared_edge_simplify(polys_by_id: dict[str, list[list[np.ndarray]]],
                         tol: float = 0.001,
                         _stats: dict | None = None
                         ) -> dict[str, list[list[np.ndarray]]]:
    """Simplify a mesh so shared borders stay watertight.

    1. decompose into conformal segments; group consecutive segments of
       a ring into CHAINS keyed by owner-set (border between the same
       pair of polygons = one chain)
    2. Douglas-Peucker each chain ONCE in canonical direction, endpoints
       pinned (junction nodes where owner-sets change are never dropped)
    3. topology repair: chains whose simplified polylines properly
       cross another chain (or themselves) revert to full resolution,
       to a fixpoint (_repair_chain_crossings) — per-chain DP alone is
       watertight but NOT crossing-free, the r05 fuzz find
    4. rebuild every ring by substituting each traversed chain with its
       simplified polyline

    Consistency is structural: both owners of a border reuse the same
    simplified chain, so no slivers/gaps — the same guarantee the
    reference buys with toTopoGeom + ST_Simplify(topo)
    (proc_functions.sql:27-82,219) — plus the crossing repair PostGIS
    topology ST_Simplify does not attempt. `_stats`, when passed, gets
    `n_reverted` (how many chains the repair returned to full
    resolution; 0 on a crossing-free mesh, so downstream SQL oracles
    that mirror pure per-chain DP stay exact there)."""
    _, seg_owners, rings_split = _mesh_segments(polys_by_id)

    # pass 1: enumerate every ring's chain traversal; simplify each
    # canonical chain ONCE.
    # cache key = EVERY snapped point of the canonical-direction
    # chain (injective). Endpoints+length+midpoint alone could let
    # two distinct borders collide and silently swap polylines
    # (ADVICE r01). DP runs on the GRID reconstruction of the keys
    # (r05): at an off-grid T-junction one owner holds the junction as
    # a raw ring vertex while the other receives it as a key*SNAP
    # insert, so per-owner arrays can differ in final bits and a
    # near-tied DP decision could flip by owner / by which array
    # reached the cache first. key*SNAP is a pure function of ck —
    # both owners and the DuckDB oracle DP the identical doubles (same rule dissolve_union's snapf already
    # applies).
    chain_grid: dict[tuple, np.ndarray] = {}
    chain_out: dict[tuple, np.ndarray] = {}
    traversal: dict[str, list] = {}
    for oid, polys in rings_split.items():
        tpolys = []
        for rings in polys:
            trings = []
            for ring in rings:
                tring = []
                for _oset, path in ring_chain_pieces(ring, seg_owners):
                    p, flip = _canonical_chain(path)
                    ck = tuple(_key(q) for q in p)
                    if ck not in chain_out:
                        grid = np.array(ck, dtype=np.float64) * SNAP
                        chain_grid[ck] = grid
                        chain_out[ck] = geom.douglas_peucker(grid, tol)
                    tring.append((ck, flip))
                trings.append(tring)
            tpolys.append(trings)
        traversal[oid] = tpolys

    polys_traversal = [
        [[ck for ck, _flip in tring] for tring in trings]
        for tpolys in traversal.values() for trings in tpolys]
    n_reverted = _repair_chain_crossings(chain_grid, chain_out,
                                         polys_traversal)
    if _stats is not None:
        _stats["n_reverted"] = n_reverted

    result: dict[str, list[list[np.ndarray]]] = {}
    for oid, tpolys in traversal.items():
        new_polys = []
        for trings in tpolys:
            new_rings = []
            for ri, tring in enumerate(trings):
                rebuilt = []
                for ck, flip in tring:
                    simp = chain_out[ck]
                    if flip:
                        simp = simp[::-1]
                    rebuilt.extend(simp[:-1])
                rebuilt.append(rebuilt[0])
                arr = np.array(rebuilt)
                if len(arr) >= 4:
                    new_rings.append(arr)
                elif ri == 0:
                    # OUTER ring degenerated: drop the whole polygon —
                    # keeping surviving holes would promote one into
                    # shell position (inverted geometry, ADVICE r03)
                    new_rings = None
                    break
            if new_rings is not None:
                new_polys.append(new_rings)
        result[oid] = new_polys
    return result


def ring_chain_pieces(ring: np.ndarray, seg_owners: dict
                      ) -> list[tuple[frozenset, np.ndarray]]:
    """Split one mesh-resampled closed ring into maximal chains of
    constant owner-set, rotated so position 0 is a chain boundary.
    Shared by the watertight simplifier and the TopoJSON arc builder."""
    osets = []
    for k in range(len(ring) - 1):
        a, b = _key(ring[k]), _key(ring[k + 1])
        sk = (a, b) if a < b else (b, a)
        osets.append(frozenset(seg_owners[sk]))
    n = len(osets)
    start = 0
    changed = False
    for k in range(n):
        if osets[k] != osets[k - 1]:
            start = k
            changed = True
            break
    if not changed:
        # the WHOLE ring is one closed chain (enclave border: constant
        # owner-set all the way around). Both owners must traverse the
        # same canonical vertex sequence or they'd simplify the shared
        # border differently (review-found watertightness bug) —
        # rotate to the minimal snapped vertex.
        keys = [_key(ring[k]) for k in range(n)]
        start = keys.index(min(keys))
    idx = list(range(start, n)) + list(range(0, start))
    pieces = []
    cur = [ring[idx[0]]]
    cur_set = osets[idx[0]]
    for k in idx:
        if osets[k] != cur_set:
            pieces.append((cur_set, np.array(cur)))
            cur = [cur[-1]]
            cur_set = osets[k]
        cur.append(ring[k + 1] if k + 1 < len(ring) else ring[0])
    pieces.append((cur_set, np.array(cur)))
    return pieces


def _canonical_chain(path: np.ndarray) -> tuple[np.ndarray, bool]:
    """Direction-canonicalize a chain so BOTH owners of a border (one
    walks it forward, the other reversed) produce the identical array:
    open chains ordered by endpoint snap-keys, closed chains (enclave
    borders, rotation-canonicalized in ring_chain_pieces) by the second
    vs second-to-last vertex. Returns (canonical_path, flipped)."""
    a, b = _key(path[0]), _key(path[-1])
    if a == b and len(path) > 2:
        flip = _key(path[1]) > _key(path[-2])
    else:
        flip = not (a <= b)
    return (path[::-1] if flip else path), flip


# ---------------------------------------------------------------------------
# Spark operators (applyInPandas over parent groups)


def dissolve_by_parent(spark, prepared, child_level: int):
    """O18: rebuild each parent's geometry from its level-`child_level`
    children — st_buildarea(st_union(...)) GROUP BY is_in
    (proc_functions.sql:289-333) as groupBy(parent).applyInPandas.

    Output: (parent_osm_id, n_children, n_polys, n_rings, area,
    geom_wkb). The parallelism axis is parents; each group's geometry
    work is the numpy mesh union.
    """
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql import types as T

    bc = spark.sparkContext.broadcast(prepared.polys_by_id)
    kids = prepared.levels_pdf.query(f"adminlevel == {child_level}")[
        ["osm_id", "is_in"]
    ]
    src = spark.createDataFrame(kids)

    schema = T.StructType([
        T.StructField("parent_osm_id", T.StringType()),
        T.StructField("n_children", T.IntegerType()),
        T.StructField("n_polys", T.IntegerType()),
        T.StructField("n_rings", T.IntegerType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("geom_wkb", T.BinaryType()),
    ])

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        polys_by_id = bc.value
        mesh = {r.osm_id: polys_by_id[r.osm_id]
                for r in pdf.itertuples(index=False)}
        union = dissolve_union(mesh)
        area = sum(
            geom.ring_area(rings[0])
            + sum(geom.ring_area(h) for h in rings[1:])
            for rings in union
        )
        return pd.DataFrame([{
            "parent_osm_id": key[0],
            "n_children": len(pdf),
            "n_polys": len(union),
            "n_rings": sum(len(r) for r in union),
            "area": float(area),
            "geom_wkb": geom.multipolygon_to_wkb(union),
        }])

    return src.groupBy("is_in").applyInPandas(run, schema=schema)


def simplify_mesh_global(spark, prepared, child_level: int,
                         tol: float = 0.05):
    """G13 cross-parent watertight simplify of one admin level.

    shared_edge_simplify runs once on the driver over the WHOLE
    level-`child_level` mesh, so borders between children of DIFFERENT
    parents are simplified once globally (simplifying each parent's
    children on their own would see only that group's junction
    decomposition and can diverge on cross-parent borders — the same
    limitation as the reference's per-country topology build,
    proc_functions.sql:27-82, closed here).

    It runs on the driver because a distributed form would not scale
    past it either:
      - the mesh is `prepared.polys_by_id`, which already lives on the
        driver (a broadcast would ship all of it to every executor)
      - the topology repair (_repair_chain_crossings) needs every
        chain's grid and simplified points and every ring's chain
        order in one place
      - the only per-chain work an executor could take, Douglas-Peucker,
        costs milliseconds on an admin level; Spark stages around it
        cost seconds
    Building the result frame runs no Spark job.

    Output: (osm_id, parent_osm_id, n_points_before, n_points_after,
    geom_wkb), one row per simplified child.
    """
    lp = prepared.levels_pdf
    kids = lp[lp.adminlevel == child_level][["osm_id", "is_in"]]
    kids = kids[kids.osm_id.isin(list(prepared.polys_by_id))] \
        .sort_values("osm_id", kind="stable")
    simplified = shared_edge_simplify(
        {oid: prepared.polys_by_id[oid] for oid in kids.osm_id}, tol=tol)
    rows = []
    for oid, parent in kids.itertuples(index=False):
        polys = simplified[oid]
        rows.append((
            oid, parent,
            sum(len(r) for rings in prepared.polys_by_id[oid] for r in rings),
            sum(len(r) for rings in polys for r in rings),
            geom.multipolygon_to_wkb(polys),
        ))
    # explicit schema: an empty child level must come back as an empty
    # typed frame, not a schema-inference error
    return spark.createDataFrame(rows, schema=(
        "osm_id string, parent_osm_id string, n_points_before long,"
        " n_points_after long, geom_wkb binary"))


def residual_by_parent(spark, prepared, parent_level: int, child_level: int):
    """O19: ST_Difference(parent, ST_Union(children)) classification per
    parent (proc_functions.sql:104-197): complete / childless / filler
    rows with synthetic 'xxx'-prefixed ids (T4) and residual area."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    bc = spark.sparkContext.broadcast(prepared.polys_by_id)
    parents = prepared.levels_pdf.query(f"adminlevel == {parent_level}")[
        ["osm_id"]]
    kids = prepared.levels_pdf.query(f"adminlevel == {child_level}")[
        ["osm_id", "is_in"]]
    joined = parents.rename(columns={"osm_id": "parent_id"}).merge(
        kids, left_on="parent_id", right_on="is_in", how="left")
    # Childless parents carry NaN in osm_id after the left merge. Under a
    # non-Arrow session createDataFrame stringifies NaN to 'nan', which
    # would survive the isinstance(str) guard below — sanitize to None.
    joined = joined[["parent_id", "osm_id"]].astype(object).where(
        pd.notna(joined[["parent_id", "osm_id"]]), None)
    src = spark.createDataFrame(joined)

    schema = T.StructType([
        T.StructField("parent_osm_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("filler_id", T.StringType()),
        T.StructField("residual_area", T.DoubleType()),
    ])

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        polys_by_id = bc.value
        parent_id = key[0]
        child_ids = [
            c for c in pdf["osm_id"].tolist()
            if isinstance(c, str) and c in polys_by_id
        ]
        children = {c: polys_by_id[c] for c in child_ids}
        status, residual = residual_classify(polys_by_id[parent_id], children)
        if status != "filler":
            return pd.DataFrame([{
                "parent_osm_id": parent_id, "status": status,
                "filler_id": None, "residual_area": 0.0,
            }])
        rows = []
        for i, polys in enumerate(residual):
            rows.append({
                "parent_osm_id": parent_id,
                "status": "filler",
                # 'xxx' || id synthetic filler ids (proc_functions.sql:128)
                "filler_id": f"xxx{parent_id}_{i}",
                # outer CCW positive + CW holes negative = net area
                "residual_area": float(
                    sum(geom.ring_area(r) for r in polys)),
            })
        return pd.DataFrame(rows)

    return src.groupBy("parent_id").applyInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# DuckDB oracle twins for the conformal mesh aggregations (r05): the
# odd-segment cancellation semantics of dissolve_by_parent (O18) and
# residual_by_parent (O19) re-derived in SQL.

_PK_OFF = 549755813888        # 2^39: key offset so packed ids stay >= 0
_PK_MUL = 1099511627776       # 2^40


def _mesh_oracle_ctes(vert_values: str, nch_values: str) -> str:
    """Shared CTE chain: SNAP-keyed vertices -> collinear-interior
    vertex splitting (_split_ring_at_vertices' exact float tests) ->
    undirected canonical segments with net direction -> odd-parity
    boundary segments -> connected components (recursive min-label
    propagation over HUGEINT-packed node keys) -> per-component signed
    Green's-theorem area over SNAP-reconstructed coords + even-odd
    containment depth (the same ray-crossing expression tree as
    points_in_rings). Verified against _mesh_segments /
    dissolve_by_parent / residual_by_parent on the full fixture mesh.
    """
    s = f"CAST('{SNAP!r}' AS DOUBLE)"
    return f"""
WITH RECURSIVE verts(gid, oid, part, ring, seq, x, y) AS (VALUES
{vert_values}),
nch(gid, n_children) AS (VALUES
{nch_values}),
keyed AS (
  -- CAST(double AS BIGINT) rounds ties-to-even in DuckDB == Python
  -- round() in the engine's _key; round() would be half-away-from-zero
  SELECT *, CAST(x / {s} AS BIGINT) AS kx,
            CAST(y / {s} AS BIGINT) AS ky
  FROM verts),
vset AS (SELECT DISTINCT gid, kx, ky FROM keyed),
edges AS (
  SELECT k.*,
         coalesce(lead(x)  OVER we, first_value(x)  OVER we) AS bx,
         coalesce(lead(y)  OVER we, first_value(y)  OVER we) AS by_,
         coalesce(lead(kx) OVER we, first_value(kx) OVER we) AS kbx,
         coalesce(lead(ky) OVER we, first_value(ky) OVER we) AS kby
  FROM keyed k
  WINDOW we AS (PARTITION BY gid, oid, part, ring ORDER BY seq)),
cand AS (
  SELECT e.gid, e.oid, e.part, e.ring, e.seq, v.kx AS vkx, v.ky AS vky,
         ((v.kx * {s} - e.x) * (e.bx - e.x)
          + (v.ky * {s} - e.y) * (e.by_ - e.y))
         / ((e.bx - e.x) * (e.bx - e.x)
            + (e.by_ - e.y) * (e.by_ - e.y)) AS t
  FROM edges e JOIN vset v ON v.gid = e.gid
  WHERE ((e.bx - e.x) * (e.bx - e.x)
         + (e.by_ - e.y) * (e.by_ - e.y)) <> 0
    AND abs((v.kx * {s} - e.x) * (e.by_ - e.y)
            - (v.ky * {s} - e.y) * (e.bx - e.x))
        <= {s} * 10 * sqrt((e.bx - e.x) * (e.bx - e.x)
                           + (e.by_ - e.y) * (e.by_ - e.y))
    AND NOT ((v.kx = e.kx AND v.ky = e.ky)
             OR (v.kx = e.kbx AND v.ky = e.kby))),
cand2 AS (
  SELECT * FROM cand
  WHERE t > CAST(1e-12 AS DOUBLE) AND t < 1 - CAST(1e-12 AS DOUBLE)),
pieces AS (
  SELECT gid, oid, part, ring, seq, 0 AS sub, kx AS ka_x, ky AS ka_y
  FROM edges
  UNION ALL
  SELECT gid, oid, part, ring, seq,
         row_number() OVER (PARTITION BY gid, oid, part, ring, seq
                            ORDER BY t) AS sub,
         vkx, vky
  FROM cand2),
chainpts AS (
  SELECT gid, oid, part, ring, seq, sub, ka_x, ka_y,
         lead(ka_x) OVER wc AS kb_x, lead(ka_y) OVER wc AS kb_y
  FROM pieces
  WINDOW wc AS (PARTITION BY gid, oid, part, ring ORDER BY seq, sub)),
segs AS (
  SELECT gid, ka_x AS ax, ka_y AS ay,
         coalesce(kb_x, fx) AS bx, coalesce(kb_y, fy) AS by_
  FROM (
    SELECT c.*, first_value(ka_x) OVER ws AS fx,
           first_value(ka_y) OVER ws AS fy
    FROM chainpts c
    WINDOW ws AS (PARTITION BY gid, oid, part, ring
                  ORDER BY seq, sub))),
canon AS (
  SELECT gid,
         CASE WHEN (ax, ay) < (bx, by_) THEN ax ELSE bx END AS ux,
         CASE WHEN (ax, ay) < (bx, by_) THEN ay ELSE by_ END AS uy,
         CASE WHEN (ax, ay) < (bx, by_) THEN bx ELSE ax END AS vx,
         CASE WHEN (ax, ay) < (bx, by_) THEN by_ ELSE ay END AS vy,
         CASE WHEN (ax, ay) < (bx, by_) THEN 1 ELSE -1 END AS dir
  FROM segs WHERE NOT (ax = bx AND ay = by_)),
odd AS (
  SELECT gid, ux, uy, vx, vy, sum(dir) AS net
  FROM canon GROUP BY gid, ux, uy, vx, vy HAVING count(*) % 2 = 1),
pk AS (
  SELECT *, (CAST(ux AS HUGEINT) + {_PK_OFF}) * {_PK_MUL}
            + (CAST(uy AS HUGEINT) + {_PK_OFF}) AS upk,
            (CAST(vx AS HUGEINT) + {_PK_OFF}) * {_PK_MUL}
            + (CAST(vy AS HUGEINT) + {_PK_OFF}) AS vpk
  FROM odd),
bedge2 AS (
  SELECT gid, upk AS apk, vpk AS bpk FROM pk
  UNION ALL
  SELECT gid, vpk, upk FROM pk),
reach(gid, npk, lpk) AS (
  SELECT gid, upk, upk FROM pk
  UNION
  SELECT gid, vpk, vpk FROM pk
  UNION
  SELECT b.gid, b.bpk, r.lpk
  FROM reach r JOIN bedge2 b
    ON b.gid = r.gid AND b.apk = r.npk
  WHERE r.lpk < b.bpk),
compp AS (
  SELECT gid, npk, min(lpk) AS cpk FROM reach GROUP BY gid, npk),
comp AS (
  SELECT gid,
         CAST(npk // {_PK_MUL} - {_PK_OFF} AS BIGINT) AS nx,
         CAST(npk % {_PK_MUL} - {_PK_OFF} AS BIGINT) AS ny,
         npk, cpk
  FROM compp),
segarea AS (
  SELECT o.gid, c.cpk,
         sum(o.net * (o.ux * {s} * (o.vy * {s})
                      - o.vx * {s} * (o.uy * {s}))) / 2 AS sarea,
         min(c2.mnpk) AS mnpk
  FROM pk o
  JOIN comp c ON c.gid = o.gid AND c.npk = o.upk
  JOIN (SELECT gid, cpk, min(npk) AS mnpk
        FROM comp GROUP BY gid, cpk) c2
    ON c2.gid = c.gid AND c2.cpk = c.cpk
  GROUP BY o.gid, c.cpk),
cnode AS (
  SELECT gid, cpk,
         CAST(min(npk) // {_PK_MUL} - {_PK_OFF} AS BIGINT) AS px0,
         CAST(min(npk) % {_PK_MUL} - {_PK_OFF} AS BIGINT) AS py0
  FROM comp GROUP BY gid, cpk),
oddc AS (
  SELECT o.*, c.cpk FROM pk o
  JOIN comp c ON c.gid = o.gid AND c.npk = o.upk),
depth2 AS (
  SELECT gid, cpk, count(*) AS depth FROM (
    SELECT n.gid, n.cpk, o.cpk AS ocpk
    FROM cnode n JOIN oddc o ON o.gid = n.gid AND o.cpk <> n.cpk
    GROUP BY n.gid, n.cpk, o.cpk, n.px0, n.py0
    HAVING sum(CASE WHEN (o.uy * {s} > n.py0 * {s})
                         <> (o.vy * {s} > n.py0 * {s})
                     AND n.px0 * {s} <
                         (o.vx * {s} - o.ux * {s})
                         * (n.py0 * {s} - o.uy * {s})
                         / (o.vy * {s} - o.uy * {s}) + o.ux * {s}
               THEN 1 ELSE 0 END) % 2 = 1)
  GROUP BY gid, cpk),
cstat AS (
  SELECT sa.gid, sa.cpk, sa.sarea, sa.mnpk,
         coalesce(d.depth, 0) AS depth
  FROM segarea sa LEFT JOIN depth2 d
    ON d.gid = sa.gid AND d.cpk = sa.cpk)"""


def _mesh_vert_values(groups) -> str:
    """groups: list of (gid, [(oid, multipolygon), ...]) -> VALUES rows
    of open-ring vertices (the closing duplicate dropped, like
    _mesh_segments)."""
    rows = []
    for gid, members in groups:
        g = str(gid).replace("'", "''")
        for oid, polys in members:
            o = str(oid).replace("'", "''")
            for part, rings in enumerate(polys):
                for ri, ring in enumerate(rings):
                    rr = np.asarray(ring, dtype=np.float64)
                    a = rr[:-1] if np.allclose(rr[0], rr[-1]) else rr
                    for q in range(len(a)):
                        rows.append(
                            f"('{g}','{o}',{part},{ri},{q},"
                            f"CAST('{float(a[q, 0])!r}' AS DOUBLE),"
                            f"CAST('{float(a[q, 1])!r}' AS DOUBLE))")
    return ",\n".join(rows)


def dissolve_parents_oracle_sql() -> str:
    """DuckDB twin of the `dissolve_parents` registry query (O18):
    per level-1 parent, union its level-2 children via odd-segment
    cancellation and report (n_children, n_polys, n_rings, area).
    n_polys/n_rings come from the boundary components' even-odd
    containment depth (outers = even depth) — an independent
    derivation of what _chain_segments/_classify_rings compute by
    chaining; area is the depth-signed sum of component |areas|
    (outers positive, holes negative, matching the re-oriented
    ring_area sum) rounded to 6, where the fixture's near-integer
    areas make the float-summation-order difference immaterial."""
    from posmspark import synth
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf())
    kids = prepared.levels_pdf.query("adminlevel == 2")[
        ["osm_id", "is_in"]]
    groups, nch = [], []
    for parent, grp in kids.groupby("is_in"):
        members = [(r.osm_id, prepared.polys_by_id[r.osm_id])
                   for r in grp.itertuples(index=False)]
        groups.append((parent, members))
        p = str(parent).replace("'", "''")
        nch.append(f"('{p}', {len(members)})")
    return _mesh_oracle_ctes(_mesh_vert_values(groups),
                             ",\n".join(nch)) + """
SELECT n.gid AS parent_osm_id,
       n.n_children,
       CAST(coalesce(sum(CASE WHEN c.depth % 2 = 0 THEN 1 ELSE 0 END), 0)
            AS INT) AS n_polys,
       CAST(coalesce(count(c.sarea), 0) AS INT) AS n_rings,
       round(coalesce(sum(CASE WHEN c.depth % 2 = 0 THEN abs(c.sarea)
                               ELSE -abs(c.sarea) END), 0.0), 6) AS area
FROM nch n LEFT JOIN cstat c ON c.gid = n.gid
GROUP BY n.gid, n.n_children
"""


def residual_holes_oracle_sql() -> str:
    """DuckDB twin of the `residual_holes` registry query (O19):
    per level-1 parent, cancel (parent UNION children) segments; no
    odd segments -> complete, no children -> childless, else one
    filler row per even-depth boundary component (outer), holes
    (odd depth) attached to their smallest containing outer by
    |area| — the same attachment rule _classify_rings implements —
    with net residual_area = |outer| - sum |holes|. Filler index i in
    'xxx{parent}_{i}' orders outers by smallest packed node key,
    which coincides with _chain_segments' sorted-key walk order for
    the fixture's single-residual parents (a multi-residual fixture
    would pin the general order through this same gate)."""
    from posmspark import synth
    from posmspark.joins import prepare_boundaries

    prepared = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf())
    lvp = prepared.levels_pdf
    parents = lvp.query("adminlevel == 1")["osm_id"].tolist()
    kids = lvp.query("adminlevel == 2")[["osm_id", "is_in"]]
    groups, nch = [], []
    for parent in parents:
        cs = kids.query("is_in == @parent")["osm_id"].tolist()
        members = [(parent, prepared.polys_by_id[parent])] + [
            (c, prepared.polys_by_id[c]) for c in cs]
        groups.append((parent, members))
        p = str(parent).replace("'", "''")
        nch.append(f"('{p}', {len(cs)})")
    s = f"CAST('{SNAP!r}' AS DOUBLE)"
    return _mesh_oracle_ctes(_mesh_vert_values(groups),
                             ",\n".join(nch)) + f""",
outers AS (
  SELECT *, row_number() OVER (PARTITION BY gid ORDER BY mnpk) - 1
            AS idx
  FROM cstat WHERE depth % 2 = 0),
holes AS (SELECT * FROM cstat WHERE depth % 2 = 1),
hole_in AS (
  SELECT h.gid, h.cpk AS hcpk, h.sarea AS harea, o.cpk AS ocpk
  FROM holes h
  JOIN cnode hn ON hn.gid = h.gid AND hn.cpk = h.cpk
  JOIN outers o ON o.gid = h.gid
  JOIN oddc os ON os.gid = o.gid AND os.cpk = o.cpk
  GROUP BY h.gid, h.cpk, h.sarea, o.cpk, hn.px0, hn.py0
  HAVING sum(CASE WHEN (os.uy * {s} > hn.py0 * {s})
                       <> (os.vy * {s} > hn.py0 * {s})
                   AND hn.px0 * {s} <
                       (os.vx * {s} - os.ux * {s})
                       * (hn.py0 * {s} - os.uy * {s})
                       / (os.vy * {s} - os.uy * {s}) + os.ux * {s}
             THEN 1 ELSE 0 END) % 2 = 1),
hole_att AS (
  SELECT gid, hcpk, harea, arg_min(ocpk, oabs) AS ocpk
  FROM (SELECT hi.*, abs(o.sarea) AS oabs
        FROM hole_in hi JOIN outers o
          ON o.gid = hi.gid AND o.cpk = hi.ocpk)
  GROUP BY gid, hcpk, harea),
polyarea AS (
  SELECT o.gid, o.idx,
         abs(o.sarea) - coalesce(sum(abs(h.harea)), 0.0) AS area
  FROM outers o LEFT JOIN hole_att h
    ON h.gid = o.gid AND h.ocpk = o.cpk
  GROUP BY o.gid, o.idx, o.sarea)
SELECT n.gid AS parent_osm_id,
       CASE WHEN n.n_children = 0 THEN 'childless'
            WHEN p.idx IS NULL THEN 'complete'
            ELSE 'filler' END AS status,
       CASE WHEN n.n_children = 0 OR p.idx IS NULL THEN NULL
            ELSE 'xxx' || n.gid || '_' || CAST(p.idx AS VARCHAR) END
         AS filler_id,
       CASE WHEN n.n_children = 0 THEN 0.0
            ELSE round(coalesce(p.area, 0.0), 6) END AS residual_area
FROM nch n LEFT JOIN polyarea p
  ON p.gid = n.gid AND n.n_children > 0
"""



def dp_interval_ctes(keys: list[str], pos: str, x: str, y: str,
                     pts: str, dom: str, tol: str) -> str:
    """ONE copy of the bit-exactness-critical Douglas-Peucker interval
    SQL (ivals/idist/splits/dp): geom.douglas_peucker's exact
    clip/projection expression tree, first-argmax split selection
    (ORDER BY d DESC, k == numpy first-argmax), and the recursive
    interval walk whose keep set equals the stack algorithm's.
    Parameterized by partition keys, position/coordinate columns, the
    source points CTE, a domain subquery yielding keys + hi (last
    position), and the tolerance SQL expression. Shared by
    SIMPLIFY_ORACLE_BODY / DUAL_ORACLE_TAIL (dissolve) and
    POLY_ORACLE_BODY (sinks) so a kernel fix can never drift between
    the two (self-review r05)."""
    K = ", ".join(keys)
    def eq(a: str, b: str) -> str:
        return " AND ".join(f"{a}.{k} = {b}.{k}" for k in keys)
    iK = ", ".join(f"i.{k}" for k in keys)
    sK = ", ".join(f"s.{k}" for k in keys)
    return f"""ivals AS (
  SELECT c.*, a.a, b.b
  FROM ({dom}) c,
       LATERAL (SELECT unnest(generate_series(0, c.hi)) AS a) a,
       LATERAL (SELECT unnest(generate_series(0, c.hi)) AS b) b
  WHERE b.b > a.a + 1),
idist AS MATERIALIZED (
  SELECT {K}, a, b, k,
         CASE WHEN sl2 = 0 THEN sqrt(mx * mx + my * my)
              ELSE sqrt((mx - tt * sx) * (mx - tt * sx)
                        + (my - tt * sy) * (my - tt * sy)) END AS d
  FROM (
    SELECT *, least(greatest((mx * sx + my * sy)
                             / (CASE WHEN sl2 = 0 THEN 1 ELSE sl2 END),
                             CAST(0.0 AS DOUBLE)),
                    CAST(1.0 AS DOUBLE)) AS tt
    FROM (
      SELECT {iK}, i.a, i.b, pj.{pos} AS k,
             pj.{x} - pa.{x} AS mx, pj.{y} - pa.{y} AS my,
             pb.{x} - pa.{x} AS sx, pb.{y} - pa.{y} AS sy,
             (pb.{x} - pa.{x}) * (pb.{x} - pa.{x})
             + (pb.{y} - pa.{y}) * (pb.{y} - pa.{y}) AS sl2
      FROM ivals i
      JOIN {pts} pa ON {eq("pa", "i")} AND pa.{pos} = i.a
      JOIN {pts} pb ON {eq("pb", "i")} AND pb.{pos} = i.b
      JOIN {pts} pj ON {eq("pj", "i")} AND pj.{pos} > i.a
                   AND pj.{pos} < i.b))),
splits AS MATERIALIZED (
  SELECT {K}, a, b, k, d FROM (
    SELECT *, row_number() OVER (PARTITION BY {K}, a, b
                                 ORDER BY d DESC, k) AS rn
    FROM idist) WHERE rn = 1),
dp({K}, a, b) AS (
  SELECT {K}, 0, hi FROM ({dom}) WHERE hi >= 2
  UNION ALL
  SELECT {sK}, u.lo, u.hi
  FROM dp d2
  JOIN splits s ON {eq("s", "d2")}
               AND s.a = d2.a AND s.b = d2.b AND s.d > {tol}
  , LATERAL (SELECT s.a AS lo, s.k AS hi UNION ALL
             SELECT s.k, s.b) u)"""


# SQL body shared by simplify_mesh_stats_oracle_sql (built from
# the verified prototype; VALUES heads are prepended per call)
SIMPLIFY_ORACLE_BODY = r"""keyed AS (
  -- CAST(double AS BIGINT) rounds ties-to-even in DuckDB == Python
  -- round() in the engine's _key; round() would be half-away-from-zero
  SELECT *, CAST(x / CAST({S} AS DOUBLE) AS BIGINT) AS kx,
            CAST(y / CAST({S} AS DOUBLE) AS BIGINT) AS ky
  FROM verts),
vset AS (SELECT DISTINCT gid, kx, ky FROM keyed),
edges0 AS (
  SELECT k.*,
         coalesce(lead(x)  OVER we, first_value(x)  OVER we) AS bx,
         coalesce(lead(y)  OVER we, first_value(y)  OVER we) AS by_,
         coalesce(lead(kx) OVER we, first_value(kx) OVER we) AS kbx,
         coalesce(lead(ky) OVER we, first_value(ky) OVER we) AS kby
  FROM keyed k
  WINDOW we AS (PARTITION BY oid, part, ring ORDER BY seq)),
cand AS (
  SELECT e.gid, e.oid, e.part, e.ring, e.seq, v.kx AS vkx, v.ky AS vky,
         ((v.kx * CAST({S} AS DOUBLE) - e.x) * (e.bx - e.x)
          + (v.ky * CAST({S} AS DOUBLE) - e.y) * (e.by_ - e.y))
         / ((e.bx - e.x) * (e.bx - e.x)
            + (e.by_ - e.y) * (e.by_ - e.y)) AS t
  FROM edges0 e JOIN vset v ON v.gid = e.gid
  WHERE ((e.bx - e.x) * (e.bx - e.x)
         + (e.by_ - e.y) * (e.by_ - e.y)) <> 0
    AND abs((v.kx * CAST({S} AS DOUBLE) - e.x) * (e.by_ - e.y)
            - (v.ky * CAST({S} AS DOUBLE) - e.y) * (e.bx - e.x))
        <= CAST({S} AS DOUBLE) * 10
           * sqrt((e.bx - e.x) * (e.bx - e.x)
                  + (e.by_ - e.y) * (e.by_ - e.y))
    AND NOT ((v.kx = e.kx AND v.ky = e.ky)
             OR (v.kx = e.kbx AND v.ky = e.kby))),
cand2 AS (SELECT * FROM cand
          WHERE t > CAST(1e-12 AS DOUBLE) AND t < 1 - CAST(1e-12 AS DOUBLE)),
-- split ring point sequence WITH coords (originals + snap-grid inserts)
-- chain points are the GRID reconstruction of the snap keys (r05),
-- matching the engine's canonical chain arrays exactly on BOTH the
-- raw-vertex and inserted-split branches
spts0 AS (
  SELECT gid, oid, part, ring, seq, 0 AS sub, kx, ky,
         kx * CAST({S} AS DOUBLE) AS px,
         ky * CAST({S} AS DOUBLE) AS py,
         x AS rx, y AS ry
  FROM edges0
  UNION ALL
  SELECT gid, oid, part, ring, seq,
         row_number() OVER (PARTITION BY oid, part, ring, seq
                            ORDER BY t, vkx, vky) AS sub,
         vkx, vky,
         vkx * CAST({S} AS DOUBLE), vky * CAST({S} AS DOUBLE),
         vkx * CAST({S} AS DOUBLE), vky * CAST({S} AS DOUBLE)
  FROM cand2),
-- collapse consecutive same-key points (engine keep-mask in
-- _split_ring_at_vertices: zero-length segments would register no
-- owner and split chains)
spts0d AS (
  SELECT * FROM (
    SELECT *, lag(kx) OVER wdd AS lkx, lag(ky) OVER wdd AS lky
    FROM spts0
    WINDOW wdd AS (PARTITION BY gid, oid, part, ring ORDER BY seq, sub))
  WHERE lkx IS NULL OR kx <> lkx OR ky <> lky),
spts AS (
  SELECT *, row_number() OVER (PARTITION BY oid, part, ring
                               ORDER BY seq, sub) - 1 AS pos,
            count(*) OVER (PARTITION BY oid, part, ring) AS n
  FROM spts0d),
-- per-edge (pos -> pos+1 wrap) canonical segment + owner sets
sedges AS (
  SELECT s.*, 
         coalesce(lead(kx) OVER wp, first_value(kx) OVER wp) AS nkx,
         coalesce(lead(ky) OVER wp, first_value(ky) OVER wp) AS nky,
         coalesce(lead(px) OVER wp, first_value(px) OVER wp) AS npx,
         coalesce(lead(py) OVER wp, first_value(py) OVER wp) AS npy,
         coalesce(lead(rx) OVER wp, first_value(rx) OVER wp) AS nrx,
         coalesce(lead(ry) OVER wp, first_value(ry) OVER wp) AS nry
  FROM spts s
  WINDOW wp AS (PARTITION BY oid, part, ring ORDER BY pos)),
canonseg AS (
  SELECT *, CASE WHEN (kx, ky) < (nkx, nky)
                 THEN (kx, ky, nkx, nky) ELSE (nkx, nky, kx, ky) END AS sk
  FROM sedges),
owners AS (
  SELECT gid, sk,
         string_agg(DISTINCT CAST(length(oid) AS VARCHAR) || ':' || oid,
                    '|' ORDER BY CAST(length(oid) AS VARCHAR) || ':' || oid)
           AS oset
  FROM canonseg GROUP BY gid, sk),
oedges AS (
  SELECT c.*, o.oset FROM canonseg c
  JOIN owners o ON o.gid = c.gid AND o.sk = c.sk),
-- rotation start per ring
rot AS (
  SELECT oid, part, ring,
         coalesce(
           min(CASE WHEN oset <> prev_oset THEN pos END),
           arg_min(pos, (CAST(kx AS HUGEINT) + 549755813888) * 1099511627776 + (CAST(ky AS HUGEINT) + 549755813888))) AS start
  FROM (SELECT *, coalesce(lag(oset) OVER wp,
                           last_value(oset) OVER wfull) AS prev_oset
        FROM oedges
        WINDOW wp AS (PARTITION BY oid, part, ring ORDER BY pos),
               wfull AS (PARTITION BY oid, part, ring ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING))
  GROUP BY oid, part, ring),
-- rotated edges with chain ids
redges AS (
  SELECT e.*, (e.pos - r.start + e.n) % e.n AS rk
  FROM oedges e JOIN rot r USING (oid, part, ring)),
chained AS MATERIALIZED (
  SELECT *, sum(CASE WHEN rk > 0 AND oset <> prev2 THEN 1 ELSE 0 END)
              OVER (PARTITION BY oid, part, ring ORDER BY rk) AS piece
  FROM (SELECT *, lag(oset) OVER (PARTITION BY oid, part, ring
                                  ORDER BY rk) AS prev2
        FROM redges)),
-- piece point sequences: first edge's A point + every edge's B point
ppts AS MATERIALIZED (
  SELECT oid, part, ring, piece, 0 AS ppos, kx, ky, px, py
  FROM (SELECT *, min(rk) OVER (PARTITION BY oid, part, ring, piece)
                    AS mrk
        FROM chained)
  WHERE rk = mrk
  UNION ALL
  SELECT oid, part, ring, piece,
         row_number() OVER (PARTITION BY oid, part, ring, piece
                            ORDER BY rk) AS ppos,
         nkx, nky, npx, npy
  FROM chained)
,
-- canonical direction per piece
pstat AS (
  SELECT oid, part, ring, piece, count(*) AS np,
         min(ppos) AS p0, max(ppos) AS pl
  FROM ppts GROUP BY oid, part, ring, piece),
pends AS (
  SELECT p.oid, p.part, p.ring, p.piece, p.np,
         a.kx AS akx, a.ky AS aky, b.kx AS bkx, b.ky AS bky,
         a2.kx AS a2kx, a2.ky AS a2ky, b2.kx AS b2kx, b2.ky AS b2ky
  FROM pstat p
  JOIN ppts a  ON a.oid = p.oid AND a.part = p.part AND a.ring = p.ring
              AND a.piece = p.piece AND a.ppos = 0
  JOIN ppts b  ON b.oid = p.oid AND b.part = p.part AND b.ring = p.ring
              AND b.piece = p.piece AND b.ppos = p.np - 1
  LEFT JOIN ppts a2 ON a2.oid = p.oid AND a2.part = p.part
              AND a2.ring = p.ring AND a2.piece = p.piece AND a2.ppos = 1
  LEFT JOIN ppts b2 ON b2.oid = p.oid AND b2.part = p.part
              AND b2.ring = p.ring AND b2.piece = p.piece
              AND b2.ppos = p.np - 2),
pflip AS (
  SELECT oid, part, ring, piece, np,
         CASE WHEN akx = bkx AND aky = bky AND np > 2
              THEN (a2kx, a2ky) > (b2kx, b2ky)
              ELSE NOT ((akx, aky) <= (bkx, bky)) END AS flip
  FROM pends),
-- canonical point order
cpts AS MATERIALIZED (
  SELECT q.oid, q.part, q.ring, q.piece,
         CASE WHEN f.flip THEN f.np - 1 - q.ppos ELSE q.ppos END AS cpos,
         q.px, q.py, f.np
  FROM ppts q JOIN pflip f
    ON f.oid = q.oid AND f.part = q.part AND f.ring = q.ring
   AND f.piece = q.piece),
{DP_CTES},
dpsplit AS (
  SELECT d3.oid, d3.part, d3.ring, d3.piece, count(*) AS nsplit
  FROM dp d3
  JOIN splits s ON s.oid = d3.oid AND s.part = d3.part
               AND s.ring = d3.ring AND s.piece = d3.piece
               AND s.a = d3.a AND s.b = d3.b
               AND s.d > CAST(0.05 AS DOUBLE)
  GROUP BY d3.oid, d3.part, d3.ring, d3.piece),
kept AS (
  SELECT c.oid, c.part, c.ring, c.piece,
         CASE WHEN c.np < 3 THEN c.np
              ELSE 2 + coalesce(ds.nsplit, 0) END AS nk
  FROM (SELECT DISTINCT oid, part, ring, piece, np FROM cpts) c
  LEFT JOIN dpsplit ds
    ON ds.oid = c.oid AND ds.part = c.part
   AND ds.ring = c.ring AND ds.piece = c.piece),
ringlen AS (
  SELECT oid, part, ring, sum(nk - 1) + 1 AS rn_after
  FROM kept GROUP BY oid, part, ring),
ringkeep AS (SELECT * FROM ringlen WHERE rn_after >= 4),
partkeep AS (
  SELECT oid, part FROM ringkeep WHERE ring = 0),
after AS (
  SELECT r.oid, sum(r.rn_after) AS n_after
  FROM ringkeep r JOIN partkeep p ON p.oid = r.oid AND p.part = r.part
  GROUP BY r.oid)
"""
SIMPLIFY_ORACLE_BODY = SIMPLIFY_ORACLE_BODY.replace(
    "{DP_CTES}", dp_interval_ctes(
        keys=["oid", "part", "ring", "piece"], pos="cpos",
        x="px", y="py", pts="cpts",
        dom="SELECT DISTINCT oid, part, ring, piece, np - 1 AS hi"
            " FROM cpts",
        tol="CAST(0.05 AS DOUBLE)"))



# final SELECT of the simplify_mesh_stats oracle (appended after the
# shared CTE chain above)
SIMPLIFY_STATS_TAIL = """
SELECT m.oid AS osm_id, m.parent_osm_id, m.n_points_before,
       CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_points_after
FROM meta m LEFT JOIN after a ON a.oid = m.oid
ORDER BY osm_id
"""


# dual_export extension: reconstruct each simplified ring's KEPT point
# sequence in ring order (pieces in chain order, canonical positions
# un-flipped back to ring direction) and take its signed shoelace —
# plus the natural variant straight off the raw verts. Drop rules
# (rings < 4 kept points, dropped shell drops the whole part) reuse
# ringkeep/partkeep from the shared chain.
DUAL_ORACLE_TAIL = """,
keptc AS (
  SELECT oid, part, ring, piece, cpos FROM cpts
  WHERE np < 3 OR cpos = 0 OR cpos = np - 1
  UNION
  SELECT s.oid, s.part, s.ring, s.piece, s.k
  FROM dp d JOIN splits s ON s.oid = d.oid AND s.part = d.part
   AND s.ring = d.ring AND s.piece = d.piece
   AND s.a = d.a AND s.b = d.b AND s.d > CAST(0.05 AS DOUBLE)),
keptp AS (
  SELECT c.oid, c.part, c.ring, c.piece, c.px, c.py,
         CASE WHEN f.flip THEN c.np - 1 - c.cpos ELSE c.cpos END AS rpos
  FROM cpts c
  JOIN keptc k2 ON k2.oid = c.oid AND k2.part = c.part
   AND k2.ring = c.ring AND k2.piece = c.piece AND k2.cpos = c.cpos
  JOIN pflip f ON f.oid = c.oid AND f.part = c.part
   AND f.ring = c.ring AND f.piece = c.piece),
sringarea AS (
  SELECT oid, part, ring, sum(cross_t) / 2.0 AS sarea
  FROM (SELECT oid, part, ring,
               px * coalesce(lead(py) OVER w, first_value(py) OVER w)
               - coalesce(lead(px) OVER w, first_value(px) OVER w) * py
                 AS cross_t
        FROM keptp
        WINDOW w AS (PARTITION BY oid, part, ring ORDER BY piece, rpos))
  GROUP BY oid, part, ring),
simp AS (
  SELECT k3.oid,
         CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_points,
         coalesce(sum(sr.sarea), 0.0) AS area
  FROM (SELECT DISTINCT oid FROM cpts) k3
  LEFT JOIN after a ON a.oid = k3.oid
  LEFT JOIN (SELECT r2.oid, r2.part, r2.ring
             FROM ringkeep r2 JOIN partkeep p2
               ON p2.oid = r2.oid AND p2.part = r2.part) kr
    ON kr.oid = k3.oid
  LEFT JOIN sringarea sr
    ON sr.oid = kr.oid AND sr.part = kr.part AND sr.ring = kr.ring
  GROUP BY k3.oid, a.n_after),
nring AS (
  SELECT oid, part, ring, sum(cross_t) / 2.0 AS sarea
  FROM (SELECT oid, part, ring,
               x * coalesce(lead(y) OVER w, first_value(y) OVER w)
               - coalesce(lead(x) OVER w, first_value(x) OVER w) * y
                 AS cross_t
        FROM verts
        WINDOW w AS (PARTITION BY gid, oid, part, ring ORDER BY seq))
  GROUP BY oid, part, ring),
nat AS (
  SELECT n.oid,
         CAST(sum(r.n_raw) AS BIGINT) AS n_points,
         sum(n.sarea) AS area
  FROM nring n JOIN rnat r
    ON r.oid = n.oid AND r.part = n.part AND r.ring = n.ring
  GROUP BY n.oid)
SELECT m.oid AS osm_id, m.adminlevel, v.variant,
       v.n_points, round(v.area, 9) AS area
FROM meta m
JOIN (SELECT oid, 'natural' AS variant, n_points, area FROM nat
      UNION ALL
      SELECT oid, 'simplified', n_points, area FROM simp) v
  ON v.oid = m.oid
ORDER BY m.adminlevel, m.oid, v.variant
"""


def simplify_mesh_stats_oracle_sql(child_level: int = 2,
                                   tol: float = 0.05,
                                   prepared=None) -> str:
    """DuckDB twin of the `simplify_mesh_stats` registry query (G13):
    the global watertight shared-edge simplification re-derived in SQL
    from raw ring-vertex VALUES. The chain machinery replicates
    _mesh_segments / ring_chain_pieces / _canonical_chain exactly
    (SNAP keys, collinear-interior vertex splits, owner-set runs with
    the first-change / min-key rotation rules, endpoint- and
    enclave-direction canonicalization), and Douglas-Peucker is
    replicated BIT-EXACTLY: per-interval first-argmax
    point-to-segment distances with the kernel's clip/projection
    expression tree, precomputed for all (a, b) pairs, then walked
    with a recursive CTE (the keep set of the stack algorithm is
    order-independent, so the interval tree reproduces it). Ring
    reassembly counts apply the same >= 4-point ring and
    outer-must-survive drop rules. The fixture mesh's rect chains
    keep every point at this tolerance; the DP drop path itself is
    pinned by the wiggly-chain SQL-vs-numpy parity test in
    tests/test_oracle.py.

    Chain coordinates on both sides are the GRID reconstruction of the
    snap keys (key*SNAP, r05): a pure function of the chain key, so the
    engine's two owners and this oracle all run DP on bit-identical
    doubles even at off-grid T-junctions (where one owner holds the
    junction raw and the other as an inserted split).

    Scope: this oracle mirrors pure per-chain DP. The engine's
    topology repair (_repair_chain_crossings) reverts crossing chains
    to full resolution, which the SQL does not model — valid because
    the registry fixture reverts ZERO chains, pinned by
    tests/test_dissolve.py::test_registry_fixture_simplify_repair_free."""
    if prepared is None:
        from posmspark import synth
        from posmspark.joins import prepare_boundaries

        prepared = prepare_boundaries(
            synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf())
    lvp = prepared.levels_pdf
    kids = lvp[lvp.adminlevel == child_level][["osm_id", "is_in"]]
    mesh_ids = sorted(o for o in kids.osm_id if o in prepared.polys_by_id)

    vrows, meta = [], []
    for oid in mesh_ids:
        o = str(oid).replace("'", "''")
        polys = prepared.polys_by_id[oid]
        nb = sum(len(r) for rings in polys for r in rings)
        pv = kids.loc[kids.osm_id == oid, "is_in"].iloc[0]
        if pv is None or (isinstance(pv, float) and pv != pv):
            # engine emits SQL NULL for an orphan, not the string 'None'
            psql = "CAST(NULL AS VARCHAR)"
        else:
            psql = "'" + str(pv).replace("'", "''") + "'"
        meta.append(f"('{o}',{psql},{nb})")
        for part, rings in enumerate(polys):
            for ri, ring in enumerate(rings):
                rr = np.asarray(ring, dtype=np.float64)
                a = rr[:-1] if np.allclose(rr[0], rr[-1]) else rr
                for sq in range(len(a)):
                    vrows.append(
                        f"(0,'{o}',{part},{ri},{sq},"
                        f"CAST('{float(a[sq, 0])!r}' AS DOUBLE),"
                        f"CAST('{float(a[sq, 1])!r}' AS DOUBLE))")
    body = (SIMPLIFY_ORACLE_BODY + SIMPLIFY_STATS_TAIL).replace(
        "CAST(0.05 AS DOUBLE)", f"CAST('{tol!r}' AS DOUBLE)"
    ).replace("{S}", f"'{SNAP!r}'")
    return (
        "\nWITH RECURSIVE verts(gid, oid, part, ring, seq, x, y)"
        " AS (VALUES\n"
        + ",".join(vrows)
        + "),\nmeta(oid, parent_osm_id, n_points_before) AS (VALUES\n"
        + ",".join(meta) + "),\n" + body
    )


def dual_export_oracle_sql(tol: float = 0.05, n_levels: int = 4,
                           prepared=None) -> str:
    """DuckDB twin of the `dual_export` registry query (S9/O10): per
    boundary feature, the natural AND shared-edge-simplified variant
    with point counts and signed shoelace areas
    (generate_geojson.py:203-221 dual emit). Each adminlevel is its own
    mesh (gid) — chains and owner-sets never cross levels, exactly like
    the per-level shared_edge_simplify loop in
    sinks.dual_geojson_feature_df. The simplified areas come from the
    kept-point ring reconstruction in DUAL_ORACLE_TAIL; the fixture's
    4-edge rings keep float-sum-order differences far below the 1e-9
    rounding grid (same argument as dissolve_parents_oracle_sql)."""
    if prepared is None:
        from posmspark import synth
        from posmspark.joins import prepare_boundaries

        prepared = prepare_boundaries(
            synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(),
            n_levels=n_levels)
    lvp = prepared.levels_pdf
    vrows, meta, rnat = [], [], []
    for r in lvp.itertuples(index=False):
        oid = r.osm_id
        if oid not in prepared.polys_by_id:
            continue
        o = str(oid).replace("'", "''")
        lv = int(r.adminlevel)
        meta.append(f"('{o}',{lv})")
        for part, rings in enumerate(prepared.polys_by_id[oid]):
            for ri, ring in enumerate(rings):
                rr = np.asarray(ring, dtype=np.float64)
                rnat.append(f"('{o}',{part},{ri},{len(rr)})")
                a = rr[:-1] if np.allclose(rr[0], rr[-1]) else rr
                for sq in range(len(a)):
                    vrows.append(
                        f"({lv},'{o}',{part},{ri},{sq},"
                        f"CAST('{float(a[sq, 0])!r}' AS DOUBLE),"
                        f"CAST('{float(a[sq, 1])!r}' AS DOUBLE))")
    body = (SIMPLIFY_ORACLE_BODY + DUAL_ORACLE_TAIL).replace(
        "CAST(0.05 AS DOUBLE)", f"CAST('{tol!r}' AS DOUBLE)"
    ).replace("{S}", f"'{SNAP!r}'")
    return (
        "\nWITH RECURSIVE verts(gid, oid, part, ring, seq, x, y)"
        " AS (VALUES\n"
        + ",".join(vrows)
        + "),\nmeta(oid, adminlevel) AS (VALUES\n" + ",".join(meta)
        + "),\nrnat(oid, part, ring, n_raw) AS (VALUES\n"
        + ",".join(rnat) + "),\n" + body
    )
