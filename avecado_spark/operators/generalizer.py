"""Generalizer — geometry simplification post-processor.

Reference: /root/reference/src/post_process/generalizer.cpp (delegating to
mapnik::simplify_converter; algorithm chosen by name, default
"douglas-peucker", tolerance in map units — generalizer.cpp:66-72).

Algorithms (mapnik names):
  radial-distance    — drop vertices within tolerance of the last kept one
  douglas-peucker    — classic recursive max-perpendicular-distance
  visvalingam-whyatt — effective-area heap elimination with the TRUE
      triangle area and strict `area < tolerance` removal, pinned by the
      golden: zigzag (0,0)(1,1)(2,0)(3,1)(4,0) collapses fully at tolerance
      2.001 (after the two area-1 middles go, (3,1)'s recomputed area is
      exactly 2 — removed only because 2 < 2.001), but not at 2.0 —
      /root/reference/test/generalizer.cpp:32-64 ("somewhere must be <
      rather than <=").

Endpoints always survive. Geometry type is preserved.
"""

from __future__ import annotations

import heapq

import numpy as np

from ..functions.wkt import Geom


def simplify_radial(arr: np.ndarray, tolerance: float) -> np.ndarray:
    if len(arr) <= 2:
        return arr
    tol2 = tolerance * tolerance
    keep = [0]
    last = arr[0]
    for i in range(1, len(arr) - 1):
        d = arr[i] - last
        if d[0] * d[0] + d[1] * d[1] > tol2:
            keep.append(i)
            last = arr[i]
    keep.append(len(arr) - 1)
    return arr[keep]


def simplify_dp(arr: np.ndarray, tolerance: float) -> np.ndarray:
    """Douglas-Peucker, iterative stack, vectorized distance per segment."""
    n = len(arr)
    if n <= 2:
        return arr
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        p, q = arr[a], arr[b]
        seg = q - p
        L2 = seg[0] * seg[0] + seg[1] * seg[1]
        pts = arr[a + 1:b]
        if L2 == 0.0:
            d2 = ((pts - p) ** 2).sum(axis=1)
        else:
            t = np.clip(((pts - p) @ seg) / L2, 0.0, 1.0)
            proj = p + t[:, None] * seg
            d2 = ((pts - proj) ** 2).sum(axis=1)
        imax = int(np.argmax(d2))
        if d2[imax] > tolerance * tolerance:
            m = a + 1 + imax
            keep[m] = True
            stack.append((a, m))
            stack.append((m, b))
    return arr[keep]


def simplify_vw(arr: np.ndarray, tolerance: float) -> np.ndarray:
    """Visvalingam-Whyatt with the true triangle-area metric and strict
    `area < tolerance` elimination (golden-pinned; see module docstring)."""
    n = len(arr)
    if n <= 2:
        return arr
    prev = np.arange(n) - 1
    nxt = np.arange(n) + 1
    alive = np.ones(n, dtype=bool)

    def cross(i):
        a, b, c = arr[prev[i]], arr[i], arr[nxt[i]]
        return 0.5 * abs((b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]))

    heap = [(cross(i), i) for i in range(1, n - 1)]
    heapq.heapify(heap)
    alive_count = n
    while heap:
        area, i = heapq.heappop(heap)
        if not alive[i] or prev[i] < 0 or nxt[i] >= n:
            continue
        # stale entry check
        if area != cross(i):
            heapq.heappush(heap, (cross(i), i))
            continue
        if area >= tolerance:
            break
        # eliminate i, relink neighbors, push their recomputed areas
        alive[i] = False
        alive_count -= 1
        p, q = prev[i], nxt[i]
        nxt[p] = q
        prev[q] = p
        for j in (p, q):
            if 0 < j < n - 1 and alive[j]:
                heapq.heappush(heap, (cross(j), j))
    return arr[alive]


def simplify_zs(arr: np.ndarray, tolerance: float) -> np.ndarray:
    """Zhao-Saalfeld sleeve fitting (linear-time; the fourth algorithm
    name mapnik::simplify_algorithm_from_string accepts). A sleeve is the
    half-width-`tolerance` corridor around the ray from the last KEPT
    vertex through the first following vertex; vertices are consumed
    while they stay inside the corridor (and ahead of the anchor), and
    the vertex before the first escape is kept as the new anchor.
    Implemented from the published algorithm (Zhao & Saalfeld 1997,
    "Linear-time sleeve-fitting polyline simplification") — the
    reference has no fixtures for it, so tests pin the algorithm's own
    invariants (endpoints kept, corridor property, collinear collapse)."""
    n = len(arr)
    if n <= 2 or tolerance <= 0:
        return arr

    def in_sleeve(a, b, q):
        d = b - a
        L2 = float(d[0] * d[0] + d[1] * d[1])
        if L2 == 0.0:
            dq = q - a
            return float(dq[0] * dq[0] + dq[1] * dq[1]) <= tolerance ** 2
        w = q - a
        if float(w[0] * d[0] + w[1] * d[1]) < 0.0:
            return False  # behind the anchor: the sleeve is a ray
        cross = float(d[0] * w[1] - d[1] * w[0])
        return cross * cross <= tolerance * tolerance * L2

    keep = [0]
    anchor = arr[0]
    guide = arr[1]
    last_i = 1
    for k in range(2, n):
        if in_sleeve(anchor, guide, arr[k]):
            last_i = k
            continue
        keep.append(last_i)
        anchor = arr[last_i]
        guide = arr[k]
        last_i = k
    if keep[-1] != n - 1:
        keep.append(n - 1)
    return arr[keep]


_ALGORITHMS = {
    "radial-distance": simplify_radial,
    "douglas-peucker": simplify_dp,
    "visvalingam-whyatt": simplify_vw,
    "zhao-saalfeld": simplify_zs,
}


def simplify(arr: np.ndarray, tolerance: float,
             algorithm: str = "douglas-peucker") -> np.ndarray:
    try:
        fn = _ALGORITHMS[algorithm]
    except KeyError:
        raise NotImplementedError(
            f"simplify algorithm {algorithm!r}; available: {sorted(_ALGORITHMS)}")
    return fn(np.asarray(arr, dtype=np.float64), float(tolerance))


def generalize_features(features: list[dict], algorithm: str = "douglas-peucker",
                        tolerance: float = 1.0) -> list[dict]:
    """izer surface: simplify every path of every feature in place
    (reference generalizer::process iterates feature paths,
    generalizer.cpp:36-64). Points pass through untouched."""
    out = []
    for feat in features:
        new_geoms = []
        for g in feat["geoms"]:
            if g.base_type() == "POINT":
                new_geoms.append(g)
            elif g.base_type() == "LINESTRING":
                new_geoms.append(Geom(g.type, [[simplify(p[0], tolerance, algorithm)]
                                               for p in g.parts]))
            else:
                new_geoms.append(Geom(g.type, [[simplify(r, tolerance, algorithm)
                                                for r in rings] for rings in g.parts]))
        out.append({**feat, "geoms": new_geoms})
    return out
