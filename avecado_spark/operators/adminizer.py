"""Adminizer — the spatial join post-processor.

Reference: /root/reference/src/post_process/adminizer.cpp (820 LoC).
For every feature of a layer, find admin polygons whose geometry intersects
it and attribute the polygon's `param_name` value onto the feature:

  mode first   (default) — value of the lowest-index intersecting polygon
                (param_updater + `*indices.begin()`, adminizer.cpp:63-80,
                 :103-112); early exit once polygon 0 matched (:766-768).
  mode collect — all matching values joined in ascending index order with a
                delimiter (default ",") (adminizer.cpp:94-107, :688-691).
  mode split   — recursively split feature geometry into inside/outside
                parts per matched polygon in ascending index order, each
                part adminized separately (adminizer.cpp:277-329, :392-443,
                 :456-522).

Index: packed STRtree over polygon bboxes, exact geometry re-check on
candidates (adminizer.cpp:620, :728-742, :594-602) — here a numpy STRtree
broadcast to executors.

Surfaces:
  * `adminize_features` — exact row-level reference semantics over Geom
    features (used by the izer pipeline and the ported fixture tests).
  * `adminize_points` / `adminize_points_rings` — the Spark-scale broadcast
    PIP joins for the pages table (billions of points vs an admin table up
    to ~10^5 entries): driver ships the table as a Spark broadcast, probes
    inside Arrow-batched mapInPandas with vectorized numpy candidate
    tests. No shuffle: the admin side is broadcast, the probe map-side.
    `adminize_points_rings` takes its candidates from a dense bbox matrix.
  * `adminize_points_s2index` — the same first-match PIP contract as
    `adminize_points_rings`, with candidates from one broadcast S2
    leaf-range index instead of the bbox matrix (the shape for 10^4+
    polygons).
  * `adminize_points_s2join` — the same contract as a shuffle join on S2
    cells, for polygon tables too large to broadcast.
  * `adminize_points_knn_rings` — exact k-nearest-polygon classification
    (the J2 STRtree.nearest contract) via the packed tree's certified beam
    descent; see its docstring for the bound/pruning math.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geometry as G
from ..functions import wkt as W
from ..functions.strtree import STRtree
from ..functions.wkt import Geom

# s2index probe: candidate (point, polygon) pairs per vectorized
# crossing-number pass — bounds the expanded (pair x edge) temporaries
_PAIR_CHUNK = 65536

# kNN probe points per chunk and beam width. r04 tuning (10^4-polygon
# probe, measured BOTH ways): beam 4 halves the slate the bound pass walks
# vs beam 8, and chunk size trades per-polygon numpy call overhead against
# slate memory traffic (3 × chunk×4·beam float64 live per task).
# Single-core the optimum is large chunks (32k: 124 us/pt vs 500 at 4k),
# but under 32 concurrent workers the 50 MB slates thrash memory bandwidth
# and 32k is 6-8x SLOWER than 8k (interleaved A/B in one run: 8192/4
# = 5.7-7.4s, 32768/4 = 42-60s, 4096/8 = 9-26s on 3.65M points).
# 8192/beam-4 is the concurrent sweet spot. Certificate failures (dense
# rescans) stay ~0 either way — exactness is never traded.
_KNN_CHUNK = 8192
_KNN_BEAM = 4


# ---------------------------------------------------------------------------
# entries + index construction (reference make_entries/make_index)
# ---------------------------------------------------------------------------

class AdminEntry:
    __slots__ = ("rings", "value", "index", "box")

    def __init__(self, rings, value, index):
        self.rings = [np.asarray(r, dtype=np.float64) for r in rings]
        self.value = value
        self.index = index
        self.box = G.bbox_of_rings(self.rings)


def make_entries(admin_rows: list[tuple]) -> list[AdminEntry]:
    """admin_rows: [(wkt, value)] in datasource order. One entry per POLYGON
    path; non-polygon geometries ignored (adminizer.cpp:706-716)."""
    entries = []
    index = 0
    for wkt_str, value in admin_rows:
        g = W.loads(wkt_str)
        if g.base_type() != "POLYGON":
            continue
        for rings in g.parts:
            entries.append(AdminEntry(rings, value, index))
            index += 1
    return entries


def make_index(entries: list[AdminEntry]) -> STRtree:
    return STRtree(np.array([e.box for e in entries]).reshape(-1, 4))


# ---------------------------------------------------------------------------
# exact geometry predicates per path (reference trichotomy + intersects)
# ---------------------------------------------------------------------------

def _intersects(geom_type: str, part, rings) -> bool:
    if geom_type == "POINT":
        return bool(G.points_cover(part[0], rings).any())
    if geom_type == "LINESTRING":
        return G.line_intersects_polygon(G.dedupe_vertices(part[0]), rings)
    return G.polygon_intersects_polygon(part, rings)


def _within(geom_type: str, part, rings) -> bool:
    if geom_type == "POINT":
        return bool(G.points_within(part[0], rings).all())
    if geom_type == "LINESTRING":
        return G.line_within_polygon(G.dedupe_vertices(part[0]), rings)
    return G.polygon_within_polygon(part, rings)


def _disjoint(geom_type: str, part, rings) -> bool:
    return not _intersects(geom_type, part, rings)


def _is_axis_box(rings) -> tuple | None:
    """Detect an axis-aligned rectangular clip polygon (no holes)."""
    if len(rings) != 1:
        return None
    r = G.close_ring(np.asarray(rings[0]))
    pts = r[:-1]
    if len(pts) != 4:
        return None
    xs, ys = set(pts[:, 0].tolist()), set(pts[:, 1].tolist())
    if len(xs) == 2 and len(ys) == 2:
        return (min(xs), min(ys), max(xs), max(ys))
    return None


def _split_part(geom_type: str, part, entry: AdminEntry):
    """split_hack equivalent: part → (inside_parts, outside_parts).
    Returns lists of parts of the same geometry type."""
    rings = entry.rings
    if geom_type == "POINT":
        pts = part[0]
        mask = G.points_cover(pts, rings)
        ins = [ [pts[mask]] ] if mask.any() else []
        outs = [ [pts[~mask]] ] if (~mask).any() else []
        return ins, outs
    if geom_type == "LINESTRING":
        ins, outs = G.split_line_by_polygon(part[0], rings)
        return [[a] for a in ins], [[a] for a in outs]
    # POLYGON: axis-box fast path (Sutherland–Hodgman slabs, all reference
    # fixtures), Greiner–Hormann general path for arbitrary (convex or
    # concave) admin polygons — the bg::intersection/bg::difference pair of
    # the reference (adminizer.cpp:285-291).
    box = _is_axis_box(rings)
    if box is not None:
        return G.split_polygon_by_box(part, box)
    return G.clip_polygon_general(part, rings)


# ---------------------------------------------------------------------------
# feature-level adminize (reference adminize_feature + split_and_update)
# ---------------------------------------------------------------------------

def _feature_paths(feat: dict):
    """Yield (geom_type, part) pairs, one per mapnik-style path."""
    for g in feat["geoms"]:
        bt = g.base_type()
        for part in g.parts:
            yield bt, part


def _update_params(indices: set[int], collect: bool, entries, feat: dict,
                   param_name: str, delimiter: str, append_to: list):
    append_to.append(feat)
    if indices:
        if collect:
            vals = [str(entries[i].value) for i in sorted(indices)]
            feat["props"] = dict(feat["props"], **{param_name: delimiter.join(vals)})
        else:
            feat["props"] = dict(feat["props"],
                                 **{param_name: entries[min(indices)].value})


def _split_and_update(indices: set[int], remaining: list[int], collect: bool,
                      entries, feat: dict, param_name: str, delimiter: str,
                      append_to: list):
    """Recursive split over matched polygon indices in ascending order
    (reference split_and_update, adminizer.cpp:456-522)."""
    if not remaining:
        _update_params(indices, collect, entries, feat, param_name,
                       delimiter, append_to)
        return
    remaining = list(remaining)
    index = heapq.heappop(remaining)
    e = entries[index]

    def _mk_geom(gtype: str, parts: list) -> Geom:
        return Geom(gtype if len(parts) == 1 else "MULTI" + gtype, parts)

    inside_geoms: list[Geom] = []
    outside_geoms: list[Geom] = []
    for gtype, part in _feature_paths(feat):
        if _within(gtype, part, e.rings):
            inside_geoms.append(Geom(gtype, [part]))
        elif _disjoint(gtype, part, e.rings):
            outside_geoms.append(Geom(gtype, [part]))
        else:
            ins, outs = _split_part(gtype, part, e)
            if ins:
                inside_geoms.append(_mk_geom(gtype, ins))
            if outs:
                outside_geoms.append(_mk_geom(gtype, outs))

    if inside_geoms:
        inside_feat = {"id": feat["id"], "props": dict(feat["props"]),
                       "geoms": inside_geoms}
        in_indices = indices | {index}
        if collect:
            _split_and_update(in_indices, remaining, collect, entries,
                              inside_feat, param_name, delimiter, append_to)
        else:
            # ascending order ⇒ first match already found (adminizer.cpp:497-505)
            _update_params(in_indices, collect, entries, inside_feat,
                           param_name, delimiter, append_to)
    if outside_geoms:
        outside_feat = {"id": feat["id"], "props": dict(feat["props"]),
                        "geoms": outside_geoms}
        _split_and_update(indices, remaining, collect, entries, outside_feat,
                          param_name, delimiter, append_to)


def adminize_features(features: list[dict], admin_rows: list[tuple],
                      param_name: str, split: bool = False,
                      collect: bool = False, delimiter: str = ",") -> list[dict]:
    """Exact reference semantics (adminizer::process, adminizer.cpp:779-800).

    features: [{"id": int, "props": {..}, "geoms": [Geom, ...]}]
    admin_rows: [(wkt, value)] in datasource order.
    Returns the new feature list (features may multiply in split mode).
    """
    entries = make_entries(admin_rows)
    tree = make_index(entries)
    out: list[dict] = []
    for feat in features:
        indices: set[int] = set()
        finished = False
        for gtype, part in _feature_paths(feat):
            env = G.bbox(np.vstack([np.asarray(a) for a in part]))
            for ei in tree.query_box(env):
                e = entries[int(ei)]
                if _intersects(gtype, part, e.rings):
                    indices.add(e.index)
                    if not collect and e.index == 0:
                        finished = True
            if finished:
                break
        if split:
            heap = sorted(indices)
            _split_and_update(set(), heap, collect, entries, feat,
                              param_name, delimiter, out)
        else:
            _update_params(indices, collect, entries, feat, param_name,
                           delimiter, out)
    return out


# ---------------------------------------------------------------------------
# Spark-scale broadcast point joins (pages table)
# ---------------------------------------------------------------------------

def adminize_points(df: DataFrame, admin_rows: list[tuple[int, float, float, float, float, str]],
                    mode: str = "first", delimiter: str = ",",
                    x_col: str = "mx_mm", y_col: str = "my_mm",
                    out_col: str = "admin") -> DataFrame:
    """Broadcast point-in-polygon join for axis-aligned admin boxes.

    admin_rows: [(idx, minx, miny, maxx, maxy, value)] — ships as a Spark
    broadcast variable (one torrent transfer per executor; same role as the
    reference's per-thread rtree, and scales to 10^4-10^5 boxes where a
    per-task closure pickle would not).
    mode 'first' → lowest-idx containing box; 'collect' → all values
    ascending joined by delimiter; 'knn' → value of nearest box by TRUE box
    distance (0 inside, clamped axis gaps outside; ties by idx —
    STRtree.nearest role).
    """
    rows = sorted(admin_rows)
    bc = df.sparkSession.sparkContext.broadcast(
        (np.array([r[1:5] for r in rows], dtype=np.float64).reshape(-1, 4),
         [r[5] for r in rows]))

    from pyspark.sql.types import StringType, StructField, StructType
    # note: StructType.add mutates self — build a fresh one
    schema = StructType(list(df.schema.fields) + [StructField(out_col, StringType())])

    # dense rows×boxes masks are ideal for small admin tables; above this
    # many cells, chunk the point axis so the mask stays ~32 MB
    _CHUNK_CELLS = 4_000_000

    def probe(batches):
        boxes, values = bc.value
        for pdf in batches:
            xs = pdf[x_col].to_numpy(dtype=np.float64)
            ys = pdf[y_col].to_numpy(dtype=np.float64)
            if len(xs) * max(len(boxes), 1) > _CHUNK_CELLS:
                step = max(1, _CHUNK_CELLS // max(len(boxes), 1))
                outs = []
                for s in range(0, len(xs), step):
                    sub = pdf.iloc[s:s + step].copy()
                    outs.extend(probe([sub]))
                yield from outs
                continue
            if mode == "knn":
                # true box distance (STRtree.nearest contract): 0 inside,
                # else the clamped axis gaps — not the centroid shortcut
                dx = np.maximum(0.0, np.maximum(boxes[None, :, 0] - xs[:, None],
                                                xs[:, None] - boxes[None, :, 2]))
                dy = np.maximum(0.0, np.maximum(boxes[None, :, 1] - ys[:, None],
                                                ys[:, None] - boxes[None, :, 3]))
                d2 = dx * dx + dy * dy
                best = np.argmin(d2, axis=1)  # ties → lowest idx (rows sorted)
                pdf[out_col] = [values[b] for b in best]
            else:
                hit = ((xs[:, None] >= boxes[None, :, 0]) & (xs[:, None] <= boxes[None, :, 2]) &
                       (ys[:, None] >= boxes[None, :, 1]) & (ys[:, None] <= boxes[None, :, 3]))
                if mode == "first":
                    any_hit = hit.any(axis=1)
                    first = np.argmax(hit, axis=1)
                    pdf[out_col] = [values[f] if h else None
                                    for h, f in zip(any_hit, first)]
                else:  # collect
                    pdf[out_col] = [
                        delimiter.join(values[j] for j in np.flatnonzero(hit[i]))
                        if hit[i].any() else None
                        for i in range(len(xs))]
            yield pdf

    return df.mapInPandas(probe, schema=schema)


def adminize_points_rings(df: DataFrame, polygons: list[tuple[int, list, str]],
                          x_col: str = "mx_mm", y_col: str = "my_mm",
                          out_col: str = "admin") -> DataFrame:
    """Broadcast point-in-POLYGON join for general (non-box) admin rings,
    mode first: value of the lowest-index polygon strictly containing the
    point by the crossing-number test (points_in_ring — the same division
    expression the DuckDB oracle evaluates, so parity is exact in float64).

    polygons: [(idx, ring [(x, y), ...], value)]. The ring table ships as a
    Spark BROADCAST variable (one torrent transfer per executor, not one
    closure pickle per task — the 10^4-polygon ADM2 case). The probe runs
    the exact crossing test ONLY on (point, ring) candidate pairs from the
    vectorized bbox prefilter (STRtree.query_points semantics: dense box
    matrix beats tree descent in numpy, functions/strtree.py note), so per
    batch the exact work is O(hits · ring_len), not O(points · polygons)."""
    polys = sorted(polygons)
    bc = df.sparkSession.sparkContext.broadcast(
        ([np.asarray(r, dtype=np.float64) for _, r, _ in polys],
         [v for _, _, v in polys],
         np.array([G.bbox(np.asarray(r, dtype=np.float64))
                   for _, r, _ in polys]).reshape(-1, 4)))

    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType(list(df.schema.fields) + [StructField(out_col, StringType())])

    def probe(batches):
        rings, values, boxes = bc.value
        for pdf in batches:
            pts = np.stack([pdf[x_col].to_numpy(dtype=np.float64),
                            pdf[y_col].to_numpy(dtype=np.float64)], axis=1)
            n = len(pts)
            # first-match = LOWEST idx → track the current best (min) index
            best = np.full(n, len(rings), dtype=np.int64)
            pi, bi = _box_candidates(pts, boxes)
            for j in np.unique(bi):
                sel = pi[bi == j]
                sel = sel[best[sel] > j]  # already matched a lower idx
                if len(sel) == 0:
                    continue
                ins = G.points_in_ring(pts[sel], rings[j])
                best[sel[ins]] = np.minimum(best[sel[ins]], j)
            pdf[out_col] = [values[b] if b < len(rings) else None
                            for b in best]
            yield pdf

    return df.mapInPandas(probe, schema=schema)


def _box_candidates(pts: np.ndarray, boxes: np.ndarray,
                    chunk_cells: int = 8_000_000):
    """(point_idx, box_idx) pairs where the point lies in the box — the
    vectorized bbox prefilter, chunked over the point axis so the dense
    mask stays ~64 MB even at 10^4 admin polygons."""
    if len(pts) == 0 or len(boxes) == 0:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty.copy()
    outs_p, outs_b = [], []
    step = max(1, chunk_cells // max(len(boxes), 1))
    for s in range(0, len(pts), step):
        x = pts[s:s + step, 0]
        y = pts[s:s + step, 1]
        hit = ((x[:, None] >= boxes[None, :, 0]) & (x[:, None] <= boxes[None, :, 2]) &
               (y[:, None] >= boxes[None, :, 1]) & (y[:, None] <= boxes[None, :, 3]))
        pi, bi = np.nonzero(hit)
        outs_p.append(pi + s)
        outs_b.append(bi)
    return np.concatenate(outs_p), np.concatenate(outs_b)


def adminize_points_knn_rings(df: DataFrame,
                              polygons: list[tuple[int, list, str]],
                              k: int = 1,
                              x_col: str = "mx_mm", y_col: str = "my_mm",
                              out_col: str = "admin",
                              rank_col: str = "rank",
                              metrics: dict | None = None) -> DataFrame:
    """k-nearest admin POLYGONS for every point — the general-geometry J2
    (reference adminizer.cpp:331-385 STRtree.nearest trichotomy): distance
    to a polygon is 0 strictly inside, else the min point-segment distance
    over its ring edges (functions/geometry.ring_distance2, float64 op
    order pinned to the SQL oracle). Ties by ascending polygon idx. Output:
    k rows per input row with (out_col, rank_col), rank 1-based by
    (distance, idx).

    Scale shape (10^9 points × 10^4 polygons): the polygon table AND its
    packed STRtree ship as one Spark broadcast; per point chunk the probe
    runs the tree's vectorized beam descent (STRtree.knn_candidates — the
    bgi::rtree nearest descent of adminizer.cpp:331-385, level-by-level
    across the whole batch) to get a fixed-width slate of candidate leaves
    with a pruning CERTIFICATE. Candidates are narrowed further by bbox
    lower bound ≤ k-th smallest vertex-distance upper bound (any polygon
    with lb > that threshold has exact > the k best — strict, so tie-safe),
    exact ring distances run only on the survivors, and a point whose k-th
    exact distance is not strictly below the smallest pruned-subtree lower
    bound falls back to the dense scan (provably-exact kNN, never
    approximate). Exact work is O(k·ring_len) per point; bound work is
    O(levels · beam · 16), independent of the polygon count.

    Pass `metrics={}` to instrument the probe with Spark accumulators —
    after an action runs, the dict holds `points` (points probed),
    `rescans` (certificate failures → dense fallbacks), `exact_evals`
    (point×polygon exact ring-distance evaluations) and `slate`
    (beam-descent candidates before bound pruning), each a
    `.value`-readable accumulator. This decomposes the probe's cost into
    inherent exact work vs beam-too-narrow rescans."""
    if k < 1:
        raise ValueError("k must be >= 1")
    polys = sorted(polygons)
    rings = [np.asarray(r, dtype=np.float64) for _, r, _ in polys]
    boxes = np.array([G.bbox(r) for r in rings]).reshape(-1, 4)
    # ring-LENGTH classes for the pairwise exact pass: candidates group
    # by closed-ring vertex count, so the exact distances of a whole
    # chunk run in one vectorized call per distinct length instead of
    # one call per polygon (r08: per-call overhead was 80% of the probe)
    closed = [G.close_ring(r) for r in rings]
    lens = np.array([len(c) for c in closed])
    class_lens = np.unique(lens)
    cls_of = np.searchsorted(class_lens, lens)
    pos_in_class = np.zeros(len(rings), dtype=np.int64)
    class_stacks = []
    for g, L in enumerate(class_lens):
        idx = np.flatnonzero(cls_of == g)
        pos_in_class[idx] = np.arange(len(idx))
        class_stacks.append(np.stack([closed[i] for i in idx]))
    bc = df.sparkSession.sparkContext.broadcast(
        (rings,
         [v for _, _, v in polys],
         boxes,
         np.array([r[0] for r in rings]),  # representative vertex per poly
         STRtree(boxes),
         cls_of, pos_in_class, class_stacks))

    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    schema = StructType(list(df.schema.fields)
                        + [StructField(out_col, StringType()),
                           StructField(rank_col, LongType())])

    _DENSE_M = 64          # below this, dense exact beats the tree

    acc = None
    if metrics is not None:
        sc = df.sparkSession.sparkContext
        for key in ("points", "rescans", "exact_evals", "slate"):
            metrics[key] = sc.accumulator(0)
        acc = dict(metrics)

    def _dense_topk(pts, rings, m, kk):
        d2 = np.empty((len(pts), m))
        for j in range(m):
            d2[:, j] = G.ring_distance2(pts, rings[j])
        return np.argsort(d2, axis=1, kind="stable")[:, :kk]

    def probe(batches):
        (rings, values, boxes, v0, tree,
         cls_of, pos_in_class, class_stacks) = bc.value
        m = len(rings)
        kk = min(k, m)
        beam = max(_KNN_BEAM, kk)
        BIG = np.iinfo(np.int64).max
        for pdf in batches:
            xall = pdf[x_col].to_numpy(dtype=np.float64)
            yall = pdf[y_col].to_numpy(dtype=np.float64)
            n = len(xall)
            order_out = np.empty((n, kk), dtype=np.int64)
            for s in range(0, n, _KNN_CHUNK):
                x = xall[s:s + _KNN_CHUNK]
                y = yall[s:s + _KNN_CHUNK]
                pts = np.stack([x, y], axis=1)
                if m <= _DENSE_M:
                    order_out[s:s + len(x)] = _dense_topk(pts, rings, m, kk)
                    if acc is not None:
                        acc["points"].add(len(x))
                        acc["exact_evals"].add(len(x) * m)
                    continue
                leaf, lb, min_pruned = tree.knn_candidates(x, y, beam=beam)
                pad = leaf < 0
                # upper bound per candidate: distance to one ring vertex
                lv = np.where(pad, 0, leaf)
                ub = ((x[:, None] - v0[lv, 0]) ** 2
                      + (y[:, None] - v0[lv, 1]) ** 2)
                ub[pad] = np.inf
                thresh = np.partition(ub, kk - 1, axis=1)[:, kk - 1]
                use = (lb <= thresh[:, None]) & ~pad
                pi, ci = np.nonzero(use)
                lj = leaf[pi, ci]
                # exact ring distance for survivors — one pairwise
                # vectorized call per distinct ring LENGTH (bit-equal to
                # the per-polygon ring_distance2, see
                # geometry.ring_distance2_pairs)
                d2c = np.full(leaf.shape, np.inf)
                cls = cls_of[lj]
                for g in np.unique(cls):
                    sel = cls == g
                    R = class_stacks[g][pos_in_class[lj[sel]]]
                    d2c[pi[sel], ci[sel]] = G.ring_distance2_pairs(
                        pts[pi[sel]], R)
                # per-row sort by (d2, polygon idx): reorder columns by idx
                # first, then STABLE argsort on d2 → ties break ascending
                io = np.argsort(np.where(pad, BIG, leaf), axis=1,
                                kind="stable")
                leaf_s = np.take_along_axis(leaf, io, axis=1)
                d2_s = np.take_along_axis(d2c, io, axis=1)
                sel = np.argsort(d2_s, axis=1, kind="stable")[:, :kk]
                top = np.take_along_axis(leaf_s, sel, axis=1)
                dk = np.take_along_axis(d2_s, sel, axis=1)[:, -1]
                # certificate: k-th exact strictly under every pruned
                # subtree's lower bound, else dense rescan for that point
                bad = np.flatnonzero(~(dk < min_pruned))
                if len(bad):
                    top[bad] = _dense_topk(pts[bad], rings, m, kk)
                if acc is not None:
                    acc["points"].add(len(x))
                    acc["rescans"].add(int(len(bad)))
                    acc["exact_evals"].add(int(len(lj))
                                           + int(len(bad)) * m)
                    acc["slate"].add(int(np.count_nonzero(~pad)))
                order_out[s:s + len(x)] = top
            out = pdf.loc[pdf.index.repeat(kk)].reset_index(drop=True)
            out[out_col] = [values[j] for j in order_out.ravel()]
            out[rank_col] = np.tile(np.arange(1, kk + 1, dtype=np.int64), n)
            yield out

    return df.mapInPandas(probe, schema=schema)


def polygons_to_df(spark, polygons: list[tuple[int, list, str]]):
    """The polygon side as a DataFrame (pid, value, coords flat ring) — the
    input shape for the SHUFFLE spatial join, where the admin table is too
    large to broadcast.  pid is the position in the reference's sorted
    polygon order, so min(pid) reproduces mode=first semantics."""
    rows = []
    for pid, (_, ring, val) in enumerate(sorted(polygons)):
        coords = [float(c) for xy in ring for c in xy]
        rows.append((pid, val, coords))
    return spark.createDataFrame(rows, "pid long, value string, coords array<double>")


def adminize_points_s2join(df: DataFrame, polys_df: DataFrame,
                           id_col: str = "url",
                           max_level: int = 12,
                           x_col: str = "mx_mm", y_col: str = "my_mm",
                           out_col: str = "admin") -> DataFrame:
    """adminize_points_rings semantics as a DISTRIBUTED SHUFFLE join — the
    path for a polygon side too large to broadcast (10^6+ polygons: every
    OSM admin area, parcel tables).  Both sides stay DataFrames end-to-end;
    no driver-side index, no broadcast of the polygon table.

    Shape (the canonical S2 join at corpus scale):
      1. polygon side: one map-side pass computes each polygon's ADAPTIVE
         mixed-level bbox cover (s2.cover_mercator_bboxes_mm_batch) →
         (cell, pid) rows.
      2. point side: one vectorized map-side pass computes the LEAF id;
         ancestors at the cover's distinct levels are pure JVM bit math
         (mask/or on the long), exploded to (cell, point) rows.
      3. candidates = equi-join on cell — a plain shuffled hash/sort-merge
         join Catalyst and AQE handle like any other key join (skew rules
         apply: a continent-sized polygon's cover is many cells, so its
         candidates spread over many keys instead of one hot row).
         Adaptive covers are DISJOINT ranges, so each (point, polygon)
         pair joins at most once — no dedup pass needed.
      4. exact crossing-number PIP on candidate pairs only (Arrow-batched),
         then groupBy(point).min(struct(pid, value)) reproduces the
         reference's mode=first ascending-index semantics JVM-side.

    Parity-pinned against the broadcast dense probe on the same inputs."""
    from pyspark.sql import functions as F

    from ..functions import s2

    # -- 1. polygon covers ---------------------------------------------------
    def gen_covers(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf["pid"].to_numpy(dtype=np.int64)
            # whole Arrow batch of bbox covers in one batched BFS
            bbs = np.array([G.bbox(np.asarray(c, dtype=np.float64)
                                   .reshape(-1, 2)) for c in pdf["coords"]])
            ids, owner = s2.cover_mercator_bboxes_mm_batch(
                bbs[:, 0], bbs[:, 1], bbs[:, 2], bbs[:, 3], max_level)
            lvls = s2.cell_level(ids.view(np.uint64)).astype(np.int64)
            yield pd.DataFrame({"cell": ids, "lvl": lvls, "pid": pids[owner]})

    from .dedup import persist_latest
    covers = polys_df.mapInPandas(gen_covers, schema="cell long, lvl long, pid long")
    # one-generation cache: the cover table feeds both the distinct-level
    # probe (a driver action over <= MAX_LEVEL tiny rows) and the join
    covers = persist_latest("s2join_covers", covers)
    levels = sorted(r[0] for r in covers.select("lvl").distinct().collect())

    # -- 2. point leaf ids + JVM ancestors ----------------------------------
    from pyspark.sql.types import LongType, StructField, StructType
    leaf_schema = StructType(list(df.schema.fields)
                             + [StructField("s2_leaf", LongType())])

    def add_leaf(batches):
        for pdf in batches:
            leaf = s2.cellid_from_mercator_mm(
                pdf[x_col].to_numpy(dtype=np.int64),
                pdf[y_col].to_numpy(dtype=np.int64))
            pdf["s2_leaf"] = leaf
            yield pdf

    pts = df.mapInPandas(add_leaf, schema=leaf_schema)

    def _signed(v: int) -> int:
        return v - (1 << 64) if v >= (1 << 63) else v

    ancestors = []
    for lvl in levels:
        lsb = 1 << (2 * (s2.MAX_LEVEL - lvl))
        mask = _signed((~(2 * lsb - 1)) & ((1 << 64) - 1))
        ancestors.append(F.col("s2_leaf").bitwiseAND(F.lit(mask))
                         .bitwiseOR(F.lit(_signed(lsb))))
    pt_cells = pts.select(F.col(id_col), F.col(x_col).alias("_px"),
                          F.col(y_col).alias("_py"),
                          F.explode(F.array(*ancestors)).alias("cell"))

    # -- 3. candidate equi-join + ring fetch ---------------------------------
    cand = (pt_cells.join(covers.select("cell", "pid"), "cell")
            .join(polys_df, "pid")
            .select(id_col, "_px", "_py", "pid", "value", "coords"))

    # -- 4. exact PIP on candidates only -------------------------------------
    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pts_arr = np.stack([pdf["_px"].to_numpy(dtype=np.float64),
                                pdf["_py"].to_numpy(dtype=np.float64)], axis=1)
            pid_arr = pdf["pid"].to_numpy(dtype=np.int64)
            keep = np.zeros(len(pdf), dtype=bool)
            for p in np.unique(pid_arr):
                sel = np.nonzero(pid_arr == p)[0]
                ring = np.asarray(pdf["coords"].iloc[sel[0]],
                                  dtype=np.float64).reshape(-1, 2)
                keep[sel] = G.points_in_ring(pts_arr[sel], ring)
            out = pdf.loc[keep, [id_col, "pid", "value"]]
            if len(out):
                yield out

    hits = cand.sortWithinPartitions("pid").mapInPandas(
        verify, schema=f"{id_col} string, pid long, value string")
    first = (hits.groupBy(id_col)
             .agg(F.min(F.struct("pid", "value")).alias("_m"))
             .select(id_col, F.col("_m.value").alias(out_col)))
    return df.join(first, id_col, "left")


def _leaf_interval_index(ranges: list[tuple[np.ndarray, np.ndarray]]):
    """Flatten per-polygon cover ranges into ONE global elementary-interval
    table → (bounds, off, pids): sorted leaf-id boundaries B, and per gap
    [B[i], B[i+1]) the polygon ids pids[off[i]:off[i+1]] whose cover
    contains that gap.  S2 cell ranges are laminar (two cell ranges are
    nested, equal, or disjoint), so the sweep's active set only ever
    changes by whole ranges and the per-gap lists stay small (nesting
    depth ~ admin hierarchy depth, not polygon count).  Build is a
    driver-side one-time O(R log R) sweep over R = total cover cells; the
    probe then costs O(log R) per point independent of the polygon count —
    the ADM2-scale (10^4+) index."""
    starts, ends, pids = [], [], []
    for pid, (rmin, rmax) in enumerate(ranges):
        if len(rmin) == 0:
            continue
        starts.append(rmin)
        ends.append(rmax + np.uint64(1))
        pids.append(np.full(len(rmin), pid, dtype=np.int64))
    if not starts:
        z = np.zeros(0, dtype=np.uint64)
        zi = np.zeros(0, dtype=np.int64)
        return z, zi, zi.copy()
    s = np.concatenate(starts)
    e = np.concatenate(ends)
    p = np.concatenate(pids)
    bounds = np.unique(np.concatenate([s, e]))
    n_gaps = len(bounds) - 1
    # each range [s, e) spans the contiguous gap run [si, ei); materialize
    # one (gap, pid) pair per covered gap, fully vectorized (ranges of one
    # polygon are disjoint, so pairs are unique by construction)
    si = np.searchsorted(bounds, s)
    ei = np.searchsorted(bounds, e)
    spans = ei - si
    total = int(spans.sum())
    base = np.repeat(si, spans)
    step = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(spans) - spans, spans)
    gap_idx = base + step
    pid_rep = np.repeat(p, spans)
    order = np.lexsort((pid_rep, gap_idx))
    out_pids = pid_rep[order]
    cnt = np.bincount(gap_idx[order], minlength=n_gaps)
    off = np.zeros(n_gaps + 1, dtype=np.int64)
    np.cumsum(cnt, out=off[1:])
    return bounds, off, out_pids


def adminize_points_s2index(df: DataFrame,
                            polygons: list[tuple[int, list, str]],
                            max_level: int = 12,
                            x_col: str = "mx_mm", y_col: str = "my_mm",
                            out_col: str = "admin",
                            metrics: dict | None = None) -> DataFrame:
    """adminize_points_rings semantics via the FLATTENED elementary-interval
    S2 index (_leaf_interval_index) — the one broadcast S2 probe.

    Index build (driver-side, once): each polygon's mercator bbox gets an
    ADAPTIVE cover (cells fully inside the bbox stay coarse, boundary cells
    go down to `max_level`), so its size is O(perimeter) cells; every cover
    cell is the leaf-id range [range_min, range_max], and all polygons'
    ranges flatten into one sorted table that is BROADCAST.  Probe
    (map-side, no shuffle): each point's LEAF id, one searchsorted per
    batch for ALL polygons, then the exact crossing-number test on the
    candidates only — probe cost O(points · (log R + depth)), independent
    of the polygon count.  Covers are supersets of the bboxes, so candidate
    recall is exact by construction.  This is the broadcast path sized for
    10^4+ admin polygons (ADM2 planet scale); adminize_points_s2join is the
    shuffle shape for polygon tables too large to broadcast.

    Pass `metrics={}` to instrument the probe (same contract as the kNN
    probe): `index_build_s` (driver-side cover+index build, a plain float)
    plus Spark accumulators `points` (points probed), `cand_pairs`
    (point×polygon candidate pairs the interval index emitted),
    `exact_evals` (pairs given the exact point-in-ring test — equal to
    cand_pairs since the batched crossing pass tests every pair) and
    `probe_s` (seconds spent inside the python probe, summed over
    workers)."""
    import time as _time

    from ..functions import s2

    t_build0 = _time.time()
    polys = sorted(polygons)
    rings = [np.asarray(r, dtype=np.float64) for _, r, _ in polys]
    values = [v for _, _, v in polys]
    # ALL bbox covers in one batched BFS (cover_bboxes_rad_batch):
    # per-owner cells equal the per-ring scalar cover (test-pinned),
    # built in a handful of full-width numpy passes instead of one
    # Python recursion per polygon — the index-build side of the
    # "10^4+ admin polygons" sizing, not just the probe side.
    bbs = np.array([G.bbox(r) for r in rings], dtype=np.float64)
    ids, owner = s2.cover_mercator_bboxes_mm_batch(
        bbs[:, 0], bbs[:, 1], bbs[:, 2], bbs[:, 3], max_level)
    cu = ids.view(np.uint64)
    lo, hi = s2.range_min(cu), s2.range_max(cu)
    order = np.argsort(owner, kind="stable")
    owner, lo, hi = owner[order], lo[order], hi[order]
    cuts = np.searchsorted(owner, np.arange(len(rings) + 1))
    ranges = [(np.sort(lo[cuts[k]:cuts[k + 1]]),
               np.sort(hi[cuts[k]:cuts[k + 1]]))
              for k in range(len(rings))]
    bounds, off, gap_pids = _leaf_interval_index(ranges)
    # packed ring edges (a->b per edge, rings closed) so the probe can run
    # ONE vectorized crossing-number pass over ALL candidate (point, pid)
    # pairs instead of a python loop calling points_in_ring per pid — with
    # ~10^3 distinct candidate pids per Arrow batch averaging a handful of
    # points each, the per-call overhead dominated the probe
    closed = [G.close_ring(r) for r in rings]
    edge_off = np.zeros(len(rings) + 1, dtype=np.int64)
    np.cumsum([len(c) - 1 for c in closed], out=edge_off[1:])
    ea = (np.concatenate([c[:-1] for c in closed])
          if closed else np.zeros((0, 2)))
    eb = (np.concatenate([c[1:] for c in closed])
          if closed else np.zeros((0, 2)))
    bc = df.sparkSession.sparkContext.broadcast(
        (rings, values, bounds, off, gap_pids, ea, eb, edge_off))

    acc = None
    if metrics is not None:
        sc = df.sparkSession.sparkContext
        metrics["index_build_s"] = round(_time.time() - t_build0, 3)
        for key in ("points", "cand_pairs", "exact_evals"):
            metrics[key] = sc.accumulator(0)
        metrics["probe_s"] = sc.accumulator(0.0)
        acc = {k: v for k, v in metrics.items() if k != "index_build_s"}

    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType(list(df.schema.fields) + [StructField(out_col, StringType())])

    def probe(batches):
        rings, values, bounds, off, gap_pids, ea, eb, edge_off = bc.value
        eax, eay = ea[:, 0], ea[:, 1]
        ebx, eby = eb[:, 0], eb[:, 1]
        # sentinel slot len(rings) -> None, so output assembly is one fancy
        # index instead of a per-row python comprehension
        out_vals = np.array(values + [None], dtype=object)
        for pdf in batches:
            t0 = _time.time() if acc else 0.0
            n_cand = n_exact = 0
            mx = pdf[x_col].to_numpy(dtype=np.int64)
            my = pdf[y_col].to_numpy(dtype=np.int64)
            n = len(mx)
            best = np.full(n, len(rings), dtype=np.int64)
            if n and len(bounds):
                leaf = s2.cellid_from_mercator_mm(mx, my).view(np.uint64)
                gap = np.searchsorted(bounds, leaf, side="right") - 1
                inb = (gap >= 0) & (gap < len(bounds) - 1)
                gi = gap[inb]
                cnt = off[gi + 1] - off[gi]
                pt_idx = np.repeat(np.nonzero(inb)[0], cnt)
                # flat candidate pid per (point, candidate) pair
                base = np.repeat(off[gi], cnt)
                step = np.arange(len(pt_idx), dtype=np.int64) - np.repeat(
                    np.cumsum(cnt) - cnt, cnt)
                cand_pid = gap_pids[base + step]
                n_cand = n_exact = len(cand_pid)
                # ONE crossing-number pass over all (pair, edge) rows: the
                # per-edge expression is points_in_ring's, elementwise, so
                # results are bit-identical to the per-pid scalar loop;
                # chunk pairs so the expanded edge rows stay cache-sized
                px = mx.astype(np.float64)
                py = my.astype(np.float64)
                ec_all = edge_off[1:] - edge_off[:-1]
                for c0 in range(0, len(cand_pid), _PAIR_CHUNK):
                    pidc = cand_pid[c0:c0 + _PAIR_CHUNK]
                    ptc = pt_idx[c0:c0 + _PAIR_CHUNK]
                    ec = ec_all[pidc]
                    tot = int(ec.sum())
                    if tot == 0:
                        continue
                    pair_rep = np.repeat(
                        np.arange(len(pidc), dtype=np.int64), ec)
                    estep = np.arange(tot, dtype=np.int64) - np.repeat(
                        np.cumsum(ec) - ec, ec)
                    eg = np.repeat(edge_off[pidc], ec) + estep
                    x = px[ptc][pair_rep]
                    y = py[ptc][pair_rep]
                    ay, by = eay[eg], eby[eg]
                    cond = (ay > y) != (by > y)
                    ax, bx = eax[eg], ebx[eg]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        xint = ax + (y - ay) * (bx - ax) / (by - ay)
                    crosses = cond & (x < xint)
                    inside = (np.bincount(pair_rep, weights=crosses,
                                          minlength=len(pidc))
                              .astype(np.int64) & 1).astype(bool)
                    np.minimum.at(best, ptc[inside], pidc[inside])
            pdf[out_col] = out_vals[best]
            if acc:
                acc["points"].add(n)
                acc["cand_pairs"].add(n_cand)
                acc["exact_evals"].add(n_exact)
                acc["probe_s"].add(_time.time() - t0)
            yield pdf

    return df.mapInPandas(probe, schema=schema)
