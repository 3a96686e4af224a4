"""Adaptive S2 covers: collapse soundness, disjoint leaf ranges and the
perimeter size bound."""

import numpy as np

from avecado_spark.functions import s2

rng = np.random.default_rng(13)


def _cover(box, level):
    ids, _ = s2.cover_bboxes_rad_batch(*([v] for v in box), level)
    return ids


def test_adaptive_cover_is_conservative_and_smaller():
    lon_lo, lat_lo, lon_hi, lat_hi = -0.3, 0.1, 0.2, 0.55
    adap = _cover((lon_lo, lat_lo, lon_hi, lat_hi), 8)
    au = adap.view(np.uint64)
    rmin, rmax = s2.range_min(au), s2.range_max(au)
    # each collapsed cell stands for its 4^(8 - level) level-8 descendants:
    # the cover is 3x smaller than the level-8 cells it spans
    spanned = (4 ** (8 - s2.cell_level(au).astype(np.int64))).sum()
    assert len(adap) < spanned / 3
    # disjoint ranges
    order = np.argsort(rmin)
    assert np.all(rmax[order][:-1] < rmin[order][1:])
    # conservativeness: every bbox point's leaf id falls in some range
    lon = rng.uniform(lon_lo, lon_hi, 3000)
    lat = rng.uniform(lat_lo, lat_hi, 3000)
    r = s2.EARTH_RADIUS_M * 1000.0
    leaf = s2.cellid_from_mercator_mm(
        (lon * r).astype(np.int64),
        (np.arctanh(np.sin(lat)) * r).astype(np.int64)).view(np.uint64)
    pos = np.searchsorted(rmin[order], leaf, side="right") - 1
    assert np.all(pos >= 0)
    assert np.all(leaf <= rmax[order][pos])
    # precision: adaptive cells at the max level only appear on the
    # boundary — every emitted cell still intersects the bbox (checked by
    # construction), and deep levels exist
    assert s2.cell_level(au).max() == 8


def test_adaptive_cover_perimeter_scaling():
    """Two extra levels of precision cost ~4x cells (perimeter), not ~16x
    (area) — the property that makes precision affordable."""
    box = (-0.35, 0.05, 0.35, 0.6)
    n10 = len(_cover(box, 10))
    n12 = len(_cover(box, 12))
    assert n12 < 8 * n10
