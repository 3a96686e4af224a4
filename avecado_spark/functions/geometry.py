"""Pure numpy/python computational geometry kernels.

These reproduce the boost::geometry operations the reference's adminizer
relies on (/root/reference/src/post_process/adminizer.cpp):

  - bg::intersects(geom, polygon)  — boundary-inclusive   (:565-592)
  - within / disjoint trichotomy                          (:331-385)
  - bg::intersection / bg::difference of lines vs polygon (:277-329 split_hack)
  - duplicate-vertex drop at 1e-12                        (:208-210, :258-260)

plus the clip-to-tile-box step of the MVT encode path (semantics of the
mapnik-vector-tile submodule, pinned by the clipped-line golden in
/root/reference/test/make_vector_tile.cpp:146-173).

Shapely is not available in this container; everything here is numpy +
small-python. Polygons are lists of rings (first = outer, rest = holes),
each ring a closed (n,2) float array (first point == last point tolerated
either way — normalized on input).
"""

from __future__ import annotations

import numpy as np

EPS = 1e-12  # reference adminizer.cpp:208 duplicate-vertex threshold


# ---------------------------------------------------------------------------
# basics
# ---------------------------------------------------------------------------

def dedupe_vertices(arr: np.ndarray) -> np.ndarray:
    """Drop consecutive vertices within 1e-12 in both axes
    (reference adminizer.cpp:208-210)."""
    if len(arr) < 2:
        return arr
    d = np.abs(np.diff(arr, axis=0))
    keep = np.concatenate([[True], (d[:, 0] >= EPS) | (d[:, 1] >= EPS)])
    return arr[keep]


def close_ring(ring: np.ndarray) -> np.ndarray:
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        return np.vstack([ring, ring[:1]])
    return ring


def bbox(arr: np.ndarray) -> tuple[float, float, float, float]:
    return (float(arr[:, 0].min()), float(arr[:, 1].min()),
            float(arr[:, 0].max()), float(arr[:, 1].max()))


def bbox_of_rings(rings) -> tuple[float, float, float, float]:
    return bbox(np.vstack(rings))


def ring_area2(ring: np.ndarray) -> float:
    """Twice signed area (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------

def points_on_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Boolean mask: point lies on the ring boundary (within EPS)."""
    ring = close_ring(ring)
    a = ring[:-1]
    b = ring[1:]
    out = np.zeros(len(pts), dtype=bool)
    for i in range(len(a)):
        ax, ay = a[i]
        bx, by = b[i]
        cross = (pts[:, 0] - ax) * (by - ay) - (pts[:, 1] - ay) * (bx - ax)
        seg2 = (bx - ax) ** 2 + (by - ay) ** 2
        on_line = np.abs(cross) <= EPS * max(1.0, np.sqrt(seg2))
        dot = (pts[:, 0] - ax) * (bx - ax) + (pts[:, 1] - ay) * (by - ay)
        out |= on_line & (dot >= -EPS) & (dot <= seg2 + EPS)
    return out


def points_in_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number test, exclusive of boundary (vectorized over points)."""
    ring = close_ring(ring)
    x, y = pts[:, 0], pts[:, 1]
    inside = np.zeros(len(pts), dtype=bool)
    a = ring[:-1]
    b = ring[1:]
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(len(a)):
            ax, ay = a[i]
            bx, by = b[i]
            cond = (ay > y) != (by > y)
            xint = ax + (y - ay) * (bx - ax) / (by - ay)
            crosses = cond & (x < xint)
            inside ^= crosses
    return inside


def ring_distance2(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Squared distance from each point to a polygon ring: 0.0 strictly
    inside (crossing-number), else the minimum squared point-segment
    distance over the ring's edges — the boost STRtree.nearest
    geometry-distance contract for polygons (reference adminizer.cpp
    J2 trichotomy). The float64 op ORDER here is pinned: the SQL oracle
    evaluates the identical expression edge-by-edge, so parity is exact."""
    ring = close_ring(np.asarray(ring, dtype=np.float64))
    a, b = ring[:-1], ring[1:]
    x, y = pts[:, 0].astype(np.float64), pts[:, 1].astype(np.float64)
    best = np.full(len(pts), np.inf)
    for i in range(len(a)):
        ax, ay = a[i]
        bx, by = b[i]
        dx = bx - ax
        dy = by - ay
        seg2 = dx * dx + dy * dy
        if seg2 > 0.0:
            t = ((x - ax) * dx + (y - ay) * dy) / seg2
            t = np.minimum(1.0, np.maximum(0.0, t))
        else:
            # Degenerate (zero-length) edge: 0/0 would be NaN and poison
            # np.minimum; any finite t gives cx=ax, cy=ay (dx=dy=0), i.e.
            # distance-to-vertex-a — identical to the SQL oracle, whose
            # LEAST/GREATEST clamp maps the NaN to a finite t.
            t = 0.0
        cx = ax + t * dx
        cy = ay + t * dy
        ed2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
        best = np.minimum(best, ed2)
    best[points_in_ring(pts, ring)] = 0.0
    return best


def ring_distance2_pairs(pts: np.ndarray, rings3d: np.ndarray) -> np.ndarray:
    """Pairwise ring_distance2: squared distance from pts[i] to its OWN
    ring rings3d[i] — rings3d is (n, L, 2) of CLOSED equal-length rings
    (last vertex == first). One vectorized pass over all (point, edge)
    cells replaces n single-ring calls; the float64 op ORDER per cell is
    identical to ring_distance2 (same expressions elementwise; the min
    over edges is order-independent for the NaN-free operands built
    here), so results are bit-equal — pinned by
    tests/test_property.py::test_ring_distance2_pairs_parity. The probe
    loops in adminizer group candidate (point, polygon) pairs by ring
    LENGTH instead of by polygon, turning ~10^3 tiny per-polygon numpy
    calls per chunk into one call per distinct ring length (r08: the
    10^4-hexagon kNN bench probe spent 80% of its time on per-call
    overhead here)."""
    a = rings3d[:, :-1, :]
    b = rings3d[:, 1:, :]
    x = pts[:, 0].astype(np.float64)[:, None]
    y = pts[:, 1].astype(np.float64)[:, None]
    ax, ay = a[..., 0], a[..., 1]
    bx, by = b[..., 0], b[..., 1]
    dx = bx - ax
    dy = by - ay
    seg2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((x - ax) * dx + (y - ay) * dy) / seg2
        t = np.where(seg2 > 0.0, np.minimum(1.0, np.maximum(0.0, t)), 0.0)
        cx = ax + t * dx
        cy = ay + t * dy
        best = ((x - cx) * (x - cx) + (y - cy) * (y - cy)).min(axis=1)
        # crossing-number inside test, same op order as points_in_ring
        cond = (ay > y) != (by > y)
        xint = ax + (y - ay) * dx / dy
        crosses = cond & (x < xint)
    inside = (crosses.sum(axis=1) & 1).astype(bool)
    best[inside] = 0.0
    return best


def points_cover(pts: np.ndarray, rings) -> np.ndarray:
    """bg::intersects(point, polygon): inside or on boundary."""
    res = points_in_ring(pts, rings[0])
    for hole in rings[1:]:
        res &= ~points_in_ring(pts, hole)
    on = points_on_ring(pts, rings[0])
    for hole in rings[1:]:
        on |= points_on_ring(pts, hole)
    return res | on


def points_within(pts: np.ndarray, rings) -> np.ndarray:
    """bg::within(point, polygon): strictly interior."""
    res = points_in_ring(pts, rings[0])
    for hole in rings[1:]:
        res &= ~(points_in_ring(pts, hole) | points_on_ring(pts, hole))
    return res & ~points_on_ring(pts, rings[0])


# ---------------------------------------------------------------------------
# segment intersections
# ---------------------------------------------------------------------------

def _seg_seg_params(p0, p1, q0, q1):
    """Intersection parameters (t on p-segment) of segment p with segment q.
    Returns a list of t values in [0,1] where p crosses/touches q,
    including the overlap interval endpoints for collinear cases."""
    r = (p1[0] - p0[0], p1[1] - p0[1])
    s = (q1[0] - q0[0], q1[1] - q0[1])
    denom = r[0] * s[1] - r[1] * s[0]
    qp = (q0[0] - p0[0], q0[1] - p0[1])
    if abs(denom) > EPS:
        t = (qp[0] * s[1] - qp[1] * s[0]) / denom
        u = (qp[0] * r[1] - qp[1] * r[0]) / denom
        if -EPS <= t <= 1 + EPS and -EPS <= u <= 1 + EPS:
            return [min(max(t, 0.0), 1.0)]
        return []
    # parallel
    cross = qp[0] * r[1] - qp[1] * r[0]
    if abs(cross) > EPS:
        return []  # parallel, non-collinear
    # collinear: project q endpoints onto p
    rr = r[0] * r[0] + r[1] * r[1]
    if rr < EPS:
        return []
    t0 = ((q0[0] - p0[0]) * r[0] + (q0[1] - p0[1]) * r[1]) / rr
    t1 = ((q1[0] - p0[0]) * r[0] + (q1[1] - p0[1]) * r[1]) / rr
    ts = []
    for t in (t0, t1):
        if -EPS <= t <= 1 + EPS:
            ts.append(min(max(t, 0.0), 1.0))
    return ts


def _ring_edges(rings):
    for ring in rings:
        ring = close_ring(np.asarray(ring, dtype=np.float64))
        for i in range(len(ring) - 1):
            yield ring[i], ring[i + 1]


def line_intersects_polygon(line: np.ndarray, rings) -> bool:
    """bg::intersects(linestring, polygon): any shared point (incl. boundary)."""
    if points_cover(line, rings).any():
        return True
    for i in range(len(line) - 1):
        p0, p1 = line[i], line[i + 1]
        for q0, q1 in _ring_edges(rings):
            if _seg_seg_params(tuple(p0), tuple(p1), tuple(q0), tuple(q1)):
                return True
    return False


def polygon_intersects_polygon(rings_a, rings_b) -> bool:
    a_pts = np.vstack([np.asarray(r) for r in rings_a])
    b_pts = np.vstack([np.asarray(r) for r in rings_b])
    if points_cover(a_pts, rings_b).any() or points_cover(b_pts, rings_a).any():
        return True
    for r in rings_a:
        if line_intersects_polygon(close_ring(np.asarray(r)), rings_b):
            return True
    return False


def line_within_polygon(line: np.ndarray, rings) -> bool:
    """bg::within(linestring, polygon): all inside the closed polygon with
    interior contact; approximated as every vertex + every segment midpoint
    covered, and at least one strictly interior point."""
    mids = (line[:-1] + line[1:]) / 2.0
    allpts = np.vstack([line, mids])
    if not points_cover(allpts, rings).all():
        return False
    # segments must not leave the polygon: also require no proper crossing
    # where a midpoint would be outside — covered mids handle fixture shapes.
    return bool(points_within(allpts, rings).any())


def polygon_within_polygon(rings_a, rings_b) -> bool:
    pts = np.vstack([np.asarray(r) for r in rings_a])
    mids = None
    if not points_cover(pts, rings_b).all():
        return False
    # no boundary crossings allowed
    for r in rings_a:
        rc = close_ring(np.asarray(r))
        for i in range(len(rc) - 1):
            m = (rc[i] + rc[i + 1]) / 2.0
            if not points_cover(m[None, :], rings_b)[0]:
                return False
    return True


# ---------------------------------------------------------------------------
# line split (intersection + difference vs polygon) — general, parametric
# ---------------------------------------------------------------------------

def split_line_by_polygon(line: np.ndarray, rings):
    """Split a linestring at polygon boundaries.

    Returns (inside_lines, outside_lines): lists of (n,2) arrays, the
    portions within the closed polygon and outside it, reproducing
    bg::intersection / bg::difference for linestrings
    (reference adminizer.cpp:310-329 split_hack<multi_linestring_2d>).

    Consecutive sub-segments with the same classification are chained
    back into maximal linestrings.
    """
    line = dedupe_vertices(np.asarray(line, dtype=np.float64))
    inside_runs: list[np.ndarray] = []
    outside_runs: list[np.ndarray] = []

    cur_pts: list[np.ndarray] = []
    cur_state: bool | None = None

    def flush():
        nonlocal cur_pts, cur_state
        if cur_state is not None and len(cur_pts) >= 2:
            arr = dedupe_vertices(np.asarray(cur_pts))
            if len(arr) >= 2:
                (inside_runs if cur_state else outside_runs).append(arr)
        cur_pts = []
        cur_state = None

    for i in range(len(line) - 1):
        p0, p1 = line[i], line[i + 1]
        ts = {0.0, 1.0}
        for q0, q1 in _ring_edges(rings):
            for t in _seg_seg_params(tuple(p0), tuple(p1), tuple(q0), tuple(q1)):
                ts.add(t)
        ts = sorted(ts)
        for a, b in zip(ts[:-1], ts[1:]):
            if b - a < EPS:
                continue
            pa = p0 + (p1 - p0) * a
            pb = p0 + (p1 - p0) * b
            mid = (pa + pb) / 2.0
            state = bool(points_cover(mid[None, :], rings)[0])
            if cur_state is None:
                cur_pts = [pa, pb]
                cur_state = state
            elif state == cur_state and np.allclose(cur_pts[-1], pa, atol=1e-9):
                cur_pts.append(pb)
            else:
                flush()
                cur_pts = [pa, pb]
                cur_state = state
    flush()
    return inside_runs, outside_runs


# ---------------------------------------------------------------------------
# polygon clip (Sutherland–Hodgman against a convex clip polygon)
# ---------------------------------------------------------------------------

def _clip_ring_halfplane(ring: np.ndarray, a, b) -> np.ndarray:
    """Clip ring to the left side of directed edge a→b (CCW convex clipper)."""
    out = []
    r = close_ring(ring)
    ex, ey = b[0] - a[0], b[1] - a[1]

    def side(p):
        return ex * (p[1] - a[1]) - ey * (p[0] - a[0])

    for i in range(len(r) - 1):
        p, q = r[i], r[i + 1]
        sp, sq = side(p), side(q)
        if sp >= -EPS:
            out.append(p)
            if sq < -EPS:
                t = sp / (sp - sq)
                out.append(p + (q - p) * t)
        elif sq >= -EPS:
            t = sp / (sp - sq)
            out.append(p + (q - p) * t)
    if not out:
        return np.empty((0, 2))
    arr = dedupe_vertices(np.asarray(out))
    return arr


def clip_ring_convex(ring: np.ndarray, clip_ring: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: subject ring ∩ convex clip ring → single ring
    (possibly empty). Clip ring is normalized to CCW."""
    cr = close_ring(np.asarray(clip_ring, dtype=np.float64))
    if ring_area2(cr) < 0:
        cr = cr[::-1]
    out = np.asarray(ring, dtype=np.float64)
    for i in range(len(cr) - 1):
        out = _clip_ring_halfplane(out, cr[i], cr[i + 1])
        if len(out) < 3:
            return np.empty((0, 2))
    return close_ring(out)


def split_polygon_by_box(rings, box) -> tuple[list, list]:
    """Split polygon (list of rings) against an axis-aligned box.

    Returns (inside_polys, outside_polys) as lists of ring-lists.
    The outside part is decomposed into up to four rectangular slabs
    (left, right, bottom-middle, top-middle), each clipped with
    Sutherland–Hodgman — exact for the axis-aligned admin fixtures the
    reference tests use; general (convex or concave) clip polygons route to
    clip_polygon_general (Greiner–Hormann) in the adminizer operator.
    Holes in the subject are clipped against the same regions.
    """
    minx, miny, maxx, maxy = box
    BIG = 1e18

    def clip_to_rect(rect):
        rx0, ry0, rx1, ry1 = rect
        clip = np.array([[rx0, ry0], [rx1, ry0], [rx1, ry1], [rx0, ry1], [rx0, ry0]])
        outer = clip_ring_convex(rings[0], clip)
        if len(outer) < 4:
            return None
        holes = []
        for h in rings[1:]:
            hc = clip_ring_convex(h, clip)
            if len(hc) >= 4:
                holes.append(hc)
        return [outer] + holes

    inside = clip_to_rect((minx, miny, maxx, maxy))
    outside = []
    for rect in ((-BIG, -BIG, minx, BIG), (maxx, -BIG, BIG, BIG),
                 (minx, -BIG, maxx, miny), (minx, maxy, maxx, BIG)):
        part = clip_to_rect(rect)
        if part is not None:
            outside.append(part)
    return ([inside] if inside is not None else []), outside


def clip_lines_to_box(lines, box):
    """Clip a list of linestrings to an axis-aligned box (closed region).
    Used by the tile-encode path for the buffered tile box; reproduces the
    clipped-line golden of test/make_vector_tile.cpp:146-173."""
    minx, miny, maxx, maxy = box
    ring = [np.array([[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]])]
    out = []
    for line in lines:
        ins, _ = split_line_by_polygon(np.asarray(line, dtype=np.float64), ring)
        out.extend(ins)
    return out


# ---------------------------------------------------------------------------
# general polygon ∩ / \ polygon (Greiner–Hormann traversal)
#
# Reference parity: adminizer split mode calls bg::intersection /
# bg::difference against ARBITRARY admin polygons
# (/root/reference/src/post_process/adminizer.cpp:285-291). The axis-box
# Sutherland–Hodgman path above stays as the fast path; this clipper covers
# convex and concave simple clips. Degenerate contacts (vertex exactly on an
# edge, collinear overlaps) are resolved by containment fallbacks when no
# proper crossing exists; proper crossings drive the traversal otherwise.
# ---------------------------------------------------------------------------

_GH_EPS = 1e-12


def _ensure_ccw(ring: np.ndarray) -> np.ndarray:
    r = close_ring(np.asarray(ring, dtype=np.float64))
    return r if ring_area2(r) >= 0 else r[::-1]


def _seg_cross(p0, p1, q0, q1):
    """Transversal crossing params (t, u) of segments p and q, or None when
    parallel / collinear / touching only at endpoints."""
    r = (p1[0] - p0[0], p1[1] - p0[1])
    s = (q1[0] - q0[0], q1[1] - q0[1])
    denom = r[0] * s[1] - r[1] * s[0]
    if abs(denom) <= EPS:
        return None
    qp = (q0[0] - p0[0], q0[1] - p0[1])
    t = (qp[0] * s[1] - qp[1] * s[0]) / denom
    u = (qp[0] * r[1] - qp[1] * r[0]) / denom
    return (t, u)


_GH_VERT = 1e-9  # params within this of 0/1 snap to the vertex


def _crossing_nodes(subj: np.ndarray, clip: np.ndarray):
    """Candidate intersection nodes between two rings, endpoint contacts
    INCLUDED (snapped to the vertex and deduplicated): [(i, t, j, u, point)]
    with t,u in [0,1). Tangential touches are filtered later by the
    transversality (parity-flip) test in _gh_rings."""
    ns, nc = len(subj) - 1, len(clip) - 1
    nodes = {}
    for i in range(ns):
        p0, p1 = subj[i], subj[i + 1]
        for j in range(nc):
            q0, q1 = clip[j], clip[j + 1]
            r = _seg_cross(p0, p1, q0, q1)
            if r is None:
                continue
            t, u = r
            if not (-_GH_VERT <= t <= 1 + _GH_VERT
                    and -_GH_VERT <= u <= 1 + _GH_VERT):
                continue
            i2, t2 = (i, t)
            if t <= _GH_VERT:
                t2 = 0.0
            elif t >= 1 - _GH_VERT:
                i2, t2 = (i + 1) % ns, 0.0
            j2, u2 = (j, u)
            if u <= _GH_VERT:
                u2 = 0.0
            elif u >= 1 - _GH_VERT:
                j2, u2 = (j + 1) % nc, 0.0
            pt = (subj[i2] if t2 == 0.0 else p0 + (p1 - p0) * t2)
            nodes[(i2, round(t2, 12), j2, round(u2, 12))] = pt
    return [(i, t, j, u, pt) for (i, t, j, u), pt in sorted(nodes.items())]


def _proper_crossings(subj: np.ndarray, clip: np.ndarray):
    """Transversal interior crossings only (no endpoint contacts) — used by
    the hole-attachment logic to ask 'does this ring cut that one?'."""
    return [(i, t, j, u, pt) for i, t, j, u, pt in _crossing_nodes(subj, clip)
            if t > 0.0 and u > 0.0]


def _augment(ring: np.ndarray, keyed):
    """Insert intersection points into a ring walk. keyed: list of
    (edge_idx, param, inter_id) — returns [(point, inter_id|-1), ...] open
    (no duplicated closing vertex). A node with param 0 sits ON the edge's
    start vertex and REPLACES it (one geometric point, one entry)."""
    byedge: dict[int, list] = {}
    atvert: dict[int, int] = {}
    for e, t, iid in keyed:
        if t == 0.0:
            atvert[e] = iid
        else:
            byedge.setdefault(e, []).append((t, iid))
    seq = []
    for i in range(len(ring) - 1):
        seq.append((ring[i], atvert.get(i, -1)))
        for t, iid in sorted(byedge.get(i, [])):
            seq.append((ring[i] + (ring[i + 1] - ring[i]) * t, iid))
    return seq


def _gh_rings(subj_ring: np.ndarray, clip_ring: np.ndarray,
              want_inside: bool) -> list[np.ndarray] | None:
    """Traversal core over two CCW simple rings. want_inside=True →
    intersection pieces; False → difference (subject \\ clip) pieces.
    Returns None when there is no proper crossing (caller decides by
    containment)."""
    subj = _ensure_ccw(subj_ring)
    # complement trick: difference = intersection with the reversed clip,
    # with "inside" meaning outside the original clip
    clip = _ensure_ccw(clip_ring)
    walk_clip = clip if want_inside else clip[::-1]
    crossings = _crossing_nodes(subj, walk_clip)
    if not crossings:
        return None
    skeys = [(i, t, k) for k, (i, t, j, u, pt) in enumerate(crossings)]
    ckeys = [(j, u, k) for k, (i, t, j, u, pt) in enumerate(crossings)]
    sseq = _augment(subj, skeys)
    cseq = _augment(walk_clip, ckeys)
    spos = {iid: idx for idx, (_, iid) in enumerate(sseq) if iid >= 0}
    cpos = {iid: idx for idx, (_, iid) in enumerate(cseq) if iid >= 0}

    def _pred(pt) -> bool:
        on = points_on_ring(pt.reshape(1, 2), clip)[0]
        inside = points_in_ring(pt.reshape(1, 2), clip)[0] or on
        return inside if want_inside else not inside

    # transversality filter: keep a node only where the subject walk flips
    # the inside predicate (drops tangential vertex touches — the classic
    # Greiner–Hormann degeneracy), then entry flags from the after-side.
    ns = len(sseq)
    entry = {}
    drop = set()
    for iid, idx in spos.items():
        prv = sseq[(idx - 1) % ns][0]
        nxt = sseq[(idx + 1) % ns][0]
        before = _pred((prv + sseq[idx][0]) / 2.0)
        after = _pred((sseq[idx][0] + nxt) / 2.0)
        if before == after:
            drop.add(iid)
        else:
            entry[iid] = after
    if drop:
        sseq = [(p, -1 if iid in drop else iid) for p, iid in sseq]
        cseq = [(p, -1 if iid in drop else iid) for p, iid in cseq]
        spos = {iid: idx for idx, (_, iid) in enumerate(sseq) if iid >= 0}
        cpos = {iid: idx for idx, (_, iid) in enumerate(cseq) if iid >= 0}
    if not entry:
        return None

    used = set()
    out = []
    for start in sorted(entry):
        if start in used or not entry[start]:
            continue
        pts = []
        iid = start
        on_subj = True
        guard = 4 * (ns + len(cseq)) + 8
        while guard > 0:
            guard -= 1
            used.add(iid)
            seq, pos = (sseq, spos) if on_subj else (cseq, cpos)
            if iid not in pos:
                # two crossing nodes snapped to one vertex (_augment keeps a
                # single id per vertex) — degenerate contact; fall back to
                # the caller's containment decision, same as the guard path
                return None
            idx = pos[iid]
            n = len(seq)
            # walk forward to the next intersection on this ring
            step = 1
            while True:
                p, pid = seq[(idx + step) % n]
                pts.append(p)
                if pid >= 0:
                    iid = pid
                    break
                step += 1
            on_subj = not on_subj
            if iid == start:
                break
        if guard <= 0:
            return None  # tangled degeneracy — caller falls back
        ring = dedupe_vertices(np.asarray(pts))
        if len(ring) >= 3:
            out.append(close_ring(ring))
    return out


def _ring_in_ring(inner: np.ndarray, outer: np.ndarray) -> bool:
    pts = np.asarray(inner, dtype=np.float64)[:-1]
    cov = points_in_ring(pts, outer) | points_on_ring(pts, outer)
    return bool(cov.all())


def clip_polygon_general(subject_rings, clip_rings) -> tuple[list, list]:
    """(inside_polys, outside_polys) of a polygon-with-holes subject against
    an arbitrary simple polygon clip (no clip holes needed by the adminizer
    fixtures; clip holes are honored via the hole-algebra below).

    Set algebra over the two GH primitives:
      inside  = (outerS ∩ outerC)  \\ holesS  \\ holesC
      outside = (outerS \\ outerC) ∪ (outerS ∩ holesC), all \\ holesS
    Hole rings that cross a piece are subtracted with GH; holes strictly
    inside a piece are attached as holes.
    """
    souter = _ensure_ccw(np.asarray(subject_rings[0], dtype=np.float64))
    sholes = [_ensure_ccw(np.asarray(h, dtype=np.float64))
              for h in subject_rings[1:]]
    couter = _ensure_ccw(np.asarray(clip_rings[0], dtype=np.float64))
    choles = [_ensure_ccw(np.asarray(h, dtype=np.float64))
              for h in clip_rings[1:]]

    def _op(ring_a, ring_b, want_inside) -> list[np.ndarray]:
        res = _gh_rings(ring_a, ring_b, want_inside)
        if res is not None:
            return res
        a_in_b = _ring_in_ring(ring_a, ring_b)
        b_in_a = _ring_in_ring(ring_b, ring_a)
        if want_inside:
            if a_in_b:
                return [np.array(ring_a)]
            if b_in_a:
                return [np.array(ring_b)]
            return []
        if a_in_b:
            return []
        # disjoint or b inside a; the hole case is resolved by the caller
        return [np.array(ring_a)]

    def _sub_holes(pieces: list[np.ndarray], holes: list[np.ndarray]) -> list[list]:
        """pieces (outer rings) minus hole rings → polygons (ring lists)."""
        polys = [[p] for p in pieces]
        for h in holes:
            nxt = []
            for poly in polys:
                outer = poly[0]
                if _ring_in_ring(h, outer):
                    crossings = _proper_crossings(_ensure_ccw(outer),
                                                  _ensure_ccw(h))
                    if not crossings:
                        nxt.append(poly + [h])  # strictly interior → hole
                        continue
                pieces2 = _op(outer, h, want_inside=False)
                # a crossing hole splits the outer into pieces that don't
                # all contain every previously-attached hole (and a piece
                # boundary can even cut through one) — re-subtract the
                # carried holes against each new piece instead of copying
                # them verbatim
                nxt.extend(_sub_holes(pieces2, poly[1:]))
            polys = nxt
        return polys

    inside_outers = _op(souter, couter, want_inside=True)
    inside = _sub_holes(inside_outers, sholes + choles)

    outside_outers = _op(souter, couter, want_inside=False)
    # subject fully covers clip with no crossing → clip becomes a hole
    if (outside_outers and len(outside_outers) == 1
            and outside_outers[0] is not None
            and _ring_in_ring(couter, souter)
            and not _proper_crossings(_ensure_ccw(souter), _ensure_ccw(couter))
            and not _ring_in_ring(souter, couter)):
        outside = _sub_holes([souter], sholes + [couter])
    else:
        outside = _sub_holes(outside_outers, sholes)
    # add back clip holes ∩ subject (a hole in the clip is OUTSIDE the clip)
    for h in choles:
        back = _op(souter, h, want_inside=True)
        outside.extend(_sub_holes(back, sholes))
    return inside, outside
