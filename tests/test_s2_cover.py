"""S2 bbox covers: conservativeness (the candidate-recall contract of the
cover join), the size cap, pruning, and chunked batch/scalar parity."""

import numpy as np
import pytest

from avecado_spark.functions import s2

rng = np.random.default_rng(11)


def _cover(lon_lo, lat_lo, lon_hi, lat_hi, level, **kw):
    ids, _ = s2.cover_bboxes_rad_batch(
        np.array([lon_lo]), np.array([lat_lo]),
        np.array([lon_hi]), np.array([lat_hi]), level, **kw)
    return ids


@pytest.mark.parametrize("case", [
    "midlat", "equator_crossing", "polar_north", "polar_south", "wide"])
def test_cover_bbox_is_conservative(case):
    """Every point inside the bbox has its leaf id inside some cover cell's
    [range_min, range_max] — the exact candidate-recall contract of the
    cover join."""
    boxes = {
        "midlat": (-0.3, 0.6, -0.1, 0.75),
        "equator_crossing": (1.2, -0.05, 1.7, 0.2),
        "polar_north": (-2.0, 1.45, -0.5, 1.53),
        "polar_south": (0.5, -1.54, 2.8, -1.47),
        "wide": (-3.0, -0.4, 3.0, 0.4),
    }
    lon_lo, lat_lo, lon_hi, lat_hi = boxes[case]
    cover = _cover(lon_lo, lat_lo, lon_hi, lat_hi, 6).view(np.uint64)
    assert len(cover)
    order = np.argsort(s2.range_min(cover))
    rmin, rmax = s2.range_min(cover)[order], s2.range_max(cover)[order]
    lon = rng.uniform(lon_lo, lon_hi, 4000)
    lat = rng.uniform(lat_lo, lat_hi, 4000)
    r = s2.EARTH_RADIUS_M * 1000.0
    leaf = s2.cellid_from_mercator_mm(
        (lon * r).astype(np.int64),
        (np.arctanh(np.sin(lat)) * r).astype(np.int64)).view(np.uint64)
    pos = np.searchsorted(rmin, leaf, side="right") - 1
    hit = (pos >= 0) & (leaf <= rmax[np.maximum(pos, 0)])
    assert hit.all(), (case, leaf[~hit][:5])


def test_cover_cap_raises():
    with pytest.raises(ValueError, match="cover exceeds"):
        _cover(-3.1, -1.5, 3.1, 1.5, 12, max_total_cells=100)


def test_cover_prunes_far_cells():
    """The cover of a small bbox is small — pruning works, it is not a
    keep-everything fallback."""
    cover = _cover(0.10, 0.10, 0.12, 0.12, 8)
    assert 1 <= len(cover) <= 60
    full_face = 256 * 256
    assert len(cover) < full_face / 100


def test_batch_cover_matches_scalar_per_owner(monkeypatch):
    """A batch cover split into chunks of _COVER_CHUNK_OWNERS gives every
    owner exactly the cells of its unchunked batch cover and of its own
    one-bbox (scalar) cover, over random bboxes incl. antimeridian-free
    wide/thin shapes and polar-touching ones."""
    m = 40
    lon0 = rng.uniform(-np.pi, np.pi * 0.9, m)
    lon1 = lon0 + rng.uniform(1e-4, 0.3, m)
    lat0 = rng.uniform(-1.45, 1.35, m)
    lat1 = lat0 + rng.uniform(1e-4, 0.25, m)
    assert m <= s2._COVER_CHUNK_OWNERS
    want_ids, want_owner = s2.cover_bboxes_rad_batch(lon0, lat0, lon1, lat1, 8)
    monkeypatch.setattr(s2, "_COVER_CHUNK_OWNERS", 7)
    ids, owner = s2.cover_bboxes_rad_batch(lon0, lat0, lon1, lat1, 8)
    assert len(ids) == len(want_ids)
    for k in range(m):
        got = np.sort(ids[owner == k])
        want = np.sort(want_ids[want_owner == k])
        assert len(want) and np.array_equal(got, want), k
        scalar = np.sort(_cover(lon0[k], lat0[k], lon1[k], lat1[k], 8))
        assert np.array_equal(got, scalar), k
