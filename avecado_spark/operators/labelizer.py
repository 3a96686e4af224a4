"""Labelizer — label placements along linear geometries.

The reference DECLARES this izer ("a post-process that handles shield
attribution and concurrencies, and generates label placements along
linear geometries", include/post_process/labelizer.hpp:14-17) but its
body is `// TODO: labelize!` (src/post_process/labelizer.cpp:18-20): it
registers in the factory and passes features through unchanged, ignoring
its config entirely (labelizer.cpp:22-24).

This module completes the declared surface while PRESERVING reference
parity: with any config the reference accepts today (it reads no keys),
the process is the same no-op. Placement activates only on the opt-in
`spacing` key — a key the reference would ignore anyway, so no
reference-valid configuration changes behavior.

Semantics (opt-in):
  * Every LINESTRING feature of arc length L >= min_length gets
    k = max(1, floor(L / spacing)) label placements, at the arc-length
    midpoints of k equal intervals (positions (i + 0.5) * L / k) —
    evenly spaced, deterministic, and count-derivable from L alone
    (which is what makes the driver oracle possible).
  * Placements become POINT features appended after the input features,
    carrying the parent's props plus {label_role: "label"} and the
    parent's id (shield attribution: the label inherits the feature's
    tags, hpp:15).
  * Optional collision suppression (`collision_radius`, map units):
    placements are accepted greedily in (feature order, arc order); a
    candidate within the radius (Chebyshev) of an accepted label is
    dropped. Greedy-stateful — the oracle configuration leaves it off.

Spark shape: runs inside the per-(tile, layer) izer group, either in
plans/pipeline.apply_to_tiles or fused into the feature encode
(encode.build_feature_tiles), which walks the same whole groups with no
extra shuffle.
"""

from __future__ import annotations

import numpy as np


def _arc_positions(path: np.ndarray, k: int) -> np.ndarray:
    """k points at arc-length positions (i + 0.5) * L / k along the path."""
    seg = np.diff(path, axis=0)
    seglen = np.hypot(seg[:, 0], seg[:, 1])
    cum = np.concatenate([[0.0], np.cumsum(seglen)])
    total = cum[-1]
    targets = (np.arange(k) + 0.5) * total / k
    idx = np.searchsorted(cum, targets, side="right") - 1
    idx = np.clip(idx, 0, len(seglen) - 1)
    denom = np.where(seglen[idx] > 0, seglen[idx], 1.0)
    t = (targets - cum[idx]) / denom
    return path[idx] + t[:, None] * seg[idx]


def labelize_features(features: list[dict], config: dict) -> list[dict]:
    """izer surface. features: [{"id", "props", "geoms": [Geom]}].
    No `spacing` in config → reference no-op (labelizer.cpp:18-20)."""
    spacing = config.get("spacing")
    if spacing is None:
        return features
    spacing = float(spacing)
    if spacing <= 0:
        raise ValueError("labelizer spacing must be > 0")
    min_length = float(config.get("min_length", 0.0))
    radius = float(config.get("collision_radius", 0.0))
    role_key = config.get("label_role_key", "label_role")

    from ..functions.wkt import Geom

    # collision suppression via a grid hash (cell = radius): a candidate
    # only compares against accepted labels in its 3x3 neighborhood, so a
    # label-dense tile stays O(accepted), not O(accepted^2). Chebyshev
    # radius means any conflicting label lies within one cell step.
    grid: dict[tuple[int, int], list[tuple[float, float]]] = {}

    def collides(px: float, py: float) -> bool:
        cx, cy = int(px // radius), int(py // radius)
        for gx in (cx - 1, cx, cx + 1):
            for gy in (cy - 1, cy, cy + 1):
                for ax, ay in grid.get((gx, gy), ()):
                    if max(abs(px - ax), abs(py - ay)) <= radius:
                        return True
        return False

    def accept(px: float, py: float) -> None:
        grid.setdefault((int(px // radius), int(py // radius)),
                        []).append((px, py))

    labels: list[dict] = []
    for feat in features:
        for g in feat["geoms"]:
            if g.base_type() != "LINESTRING":
                continue
            for part in g.parts:
                path = np.asarray(part[0], dtype=np.float64)
                if len(path) < 2:
                    continue
                seg = np.diff(path, axis=0)
                length = float(np.hypot(seg[:, 0], seg[:, 1]).sum())
                if length <= 0 or length < min_length:
                    continue
                k = max(1, int(length // spacing))
                for px, py in _arc_positions(path, k):
                    if radius > 0:
                        if collides(float(px), float(py)):
                            continue
                        accept(float(px), float(py))
                    props = dict(feat["props"])
                    props[role_key] = "label"
                    labels.append({
                        "id": feat["id"],
                        "props": props,
                        "geoms": [Geom("POINT",
                                       [[np.array([[px, py]])]])],
                    })
    return features + labels
