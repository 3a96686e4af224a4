"""S2 bbox covers: conservativeness (the candidate-recall contract of the
cover join), the size cap, pruning, and batch/scalar parity."""

import numpy as np
import pytest

from avecado_spark.functions import s2

rng = np.random.default_rng(11)


@pytest.mark.parametrize("case", [
    "midlat", "equator_crossing", "polar_north", "polar_south", "wide"])
def test_cover_bbox_is_conservative(case):
    """Every point inside the bbox must land in a cover cell — the exact
    candidate-recall contract of the cover join."""
    boxes = {
        "midlat": (-0.3, 0.6, -0.1, 0.75),
        "equator_crossing": (1.2, -0.05, 1.7, 0.2),
        "polar_north": (-2.0, 1.45, -0.5, 1.53),
        "polar_south": (0.5, -1.54, 2.8, -1.47),
        "wide": (-3.0, -0.4, 3.0, 0.4),
    }
    lon_lo, lat_lo, lon_hi, lat_hi = boxes[case]
    level = 6
    cover = set(s2.cover_bbox_rad(lon_lo, lat_lo, lon_hi, lat_hi, level).tolist())
    assert cover
    lon = rng.uniform(lon_lo, lon_hi, 4000)
    lat = rng.uniform(lat_lo, lat_hi, 4000)
    r = s2.EARTH_RADIUS_M * 1000.0
    mx = (lon * r).astype(np.int64)
    my = (np.arctanh(np.sin(lat)) * r).astype(np.int64)
    cells = s2.cellid_from_mercator_mm(mx, my, level)
    missing = [c for c in np.unique(cells).tolist() if c not in cover]
    assert not missing, (case, missing[:5])


def test_cover_cap_raises():
    with pytest.raises(ValueError, match="cover exceeds"):
        s2.cover_bbox_rad(-3.1, -1.5, 3.1, 1.5, 12, max_cells=100)


def test_cover_prunes_far_cells():
    """The cover of a small bbox is small — pruning works, it is not a
    keep-everything fallback."""
    cover = s2.cover_bbox_rad(0.10, 0.10, 0.12, 0.12, 8)
    assert 1 <= len(cover) <= 60
    full_face = 256 * 256
    assert len(cover) < full_face / 100


def test_batch_cover_matches_scalar_per_owner():
    """cover_bboxes_rad_batch emits, per owner, EXACTLY the scalar
    cover_bbox_rad cell set of that owner's bbox (both adaptive and
    fixed-level), over random bboxes incl. antimeridian-free wide/thin
    shapes and polar-touching ones."""
    m = 40
    lon0 = rng.uniform(-np.pi, np.pi * 0.9, m)
    lon1 = lon0 + rng.uniform(1e-4, 0.3, m)
    lat0 = rng.uniform(-1.45, 1.35, m)
    lat1 = lat0 + rng.uniform(1e-4, 0.25, m)
    for adaptive in (True, False):
        ids, owner = s2.cover_bboxes_rad_batch(
            lon0, lat0, lon1, lat1, level=8, adaptive=adaptive)
        for k in range(m):
            want = np.sort(s2.cover_bbox_rad(
                float(lon0[k]), float(lat0[k]), float(lon1[k]),
                float(lat1[k]), level=8, adaptive=adaptive))
            got = np.sort(ids[owner == k])
            assert np.array_equal(got, want), (k, adaptive)
