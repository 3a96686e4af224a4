"""The reference overzoom truth tables (test/overzoom.cpp:38-101) run
through sources/fetch.fetch_tiles_overzoom, and raster pixel tests (spirit
of test/render_vector_tile.cpp:23-110)."""

import numpy as np
import pytest

from avecado_spark.functions import mvt
from avecado_spark.operators.raster import (png_decode, png_encode,
                                            render_tile, render_tile_png)

# name -> (tiles exist at lo..hi, status elsewhere, max_zoom, mask_zoom,
#          {requested z: served?}); requests are tile (z, 0, 0)
OVERZOOM_TABLES = {
    "missing": (11, 16, 404, 18, 12,
                {19: True, 18: True, 17: True, 16: True, 15: True,
                 14: True, 13: True, 12: True, 11: True, 10: False}),
    # only a not-found retries at the mask zoom, a server error does not
    "error_not_masked": (11, 16, 500, 18, 12,
                         {19: False, 18: False, 17: False, 16: True,
                          15: True, 14: True, 13: True, 12: True,
                          11: True, 10: False}),
    "no_mask": (11, 16, 404, 18, None,
                {19: False, 18: False, 17: False, 16: True}),
    "no_mask2": (11, 18, 404, 18, None,
                 {19: True, 18: True, 17: True, 16: True}),
}


def _zoom_opener(lo, hi, miss):
    def opener(url, headers):
        z, x, y = url.rsplit(".", 1)[0].rsplit("/", 3)[1:]
        if lo <= int(z) <= hi:
            return 200, f"{z}/{x}/{y}".encode(), {}
        return miss, b"", {}
    return opener


@pytest.mark.parametrize("case", [*OVERZOOM_TABLES, "ancestor_coords"])
def test_fetch_tiles_overzoom(spark, case):
    from avecado_spark.sources.fetch import fetch_tiles_overzoom
    url = "https://t.example/{z}/{x}/{y}.pbf"
    if case == "ancestor_coords":
        # z16 remaps to its z14 ancestor (>>2); when that is missing, the
        # mask retry fetches the z12 ancestor (>>2 again)
        coords = spark.createDataFrame([(16, 1000, 2000)],
                                       "z int, x long, y long")
        for hi, served in [(14, (14, 250, 500)), (12, (12, 62, 125))]:
            (r,) = fetch_tiles_overzoom(
                coords, url, 14, mask_zoom=12,
                opener=_zoom_opener(0, hi, 404)).collect()
            assert (r.status, r.served_z, r.served_x, r.served_y) == \
                (200, *served)
            assert bytes(r.tile_pbf) == "/".join(map(str, served)).encode()
        return
    lo, hi, miss, max_zoom, mask_zoom, table = OVERZOOM_TABLES[case]
    coords = spark.createDataFrame([(z, 0, 0) for z in table],
                                   "z int, x long, y long")
    got = {r.z: r.status == 200 for r in fetch_tiles_overzoom(
        coords, url, max_zoom, mask_zoom=mask_zoom,
        opener=_zoom_opener(lo, hi, miss)).collect()}
    assert got == table


BACKGROUND = (0x8C, 0xC6, 0x3F, 0xFF)
FILL = (0x51, 0x21, 0x4D, 0xFF)


def test_render_empty_tile_background():
    """Empty tile → every pixel is the background colour
    (render_vector_tile.cpp:23-40)."""
    img = render_tile(None, {}, BACKGROUND)
    assert img.shape == (256, 256, 4)
    assert (img == np.array(BACKGROUND, dtype=np.uint8)).all()


def _full_cover_tile():
    layer = mvt.MvtLayer(name="layer", extent=256)
    # ring covering the whole extent (with margin so pixel centers are inside)
    ring = [(-1, -1), (257, -1), (257, 257), (-1, 257), (-1, -1)]
    xs = np.array([p[0] for p in ring])
    ys = np.array([p[1] for p in ring])
    cmds = mvt.encode_geometry([(xs, ys)], mvt.GEOM_POLYGON)
    layer.features.append(mvt.MvtFeature(id=1, type=mvt.GEOM_POLYGON, geometry=cmds))
    return mvt.tile_to_gzip(mvt.MvtTile(layers=[layer]))


def test_render_full_cover_polygon():
    """Full-cover polygon → every pixel is the fill colour
    (render_vector_tile.cpp:42-110)."""
    data = _full_cover_tile()
    img = render_tile(data, {"layer": FILL}, BACKGROUND)
    assert (img == np.array(FILL, dtype=np.uint8)).all()


def test_render_unstyled_layer_skipped():
    """Style↔layer name join (J5): a tile layer with no matching style
    renders nothing (render_vector_tile.cpp:33-56)."""
    data = _full_cover_tile()
    img = render_tile(data, {"other_layer": FILL}, BACKGROUND)
    assert (img == np.array(BACKGROUND, dtype=np.uint8)).all()


def test_png_roundtrip_size():
    img = render_tile(None, {}, BACKGROUND)
    data = png_encode(img)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert png_decode(data).shape[:2] == (256, 256)


def test_render_tile_png_deterministic():
    d1 = render_tile_png(_full_cover_tile(), {"layer": FILL})
    d2 = render_tile_png(_full_cover_tile(), {"layer": FILL})
    assert d1 == d2


def test_raster_digest_golden(spark):
    """Cross-round golden for the raster leg: digest of all z6 PNG md5s at
    sf0.001 — any rasterizer/PNG-encoder regression moves it."""
    import hashlib
    from pyspark.sql import functions as F
    from avecado_spark.api import build_tiles
    from avecado_spark.operators.raster import render_tiles
    from avecado_spark.sources.pages import pages_df
    tiles = build_tiles(pages_df(spark, "/root/testdata/sf0.001"), z=6)
    pngs = render_tiles(tiles, styles={"pages": (0x51, 0x21, 0x4D, 0xFF)})
    rows = pngs.select("x", "y", F.md5("png").alias("m")).collect()
    dig = hashlib.md5("".join(
        f"{r.x},{r.y},{r.m};" for r in sorted(rows, key=lambda r: (r.x, r.y))
    ).encode()).hexdigest()
    assert len(rows) == 2048
    assert dig == "652346f422835caa026566cbbde5bdb4"


# ---------------------------------------------------------------------------
# PNG decoder (the matching half of png_encode, run by vectorize_tiles)
# ---------------------------------------------------------------------------

def test_png_decode_roundtrip_rgba():
    import numpy as np
    from avecado_spark.operators.raster import png_decode
    rng = np.random.default_rng(7)
    rgba = rng.integers(0, 256, size=(23, 17, 4), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(rgba)), rgba)


def _apply_filter(ftype, line, prev, channels):
    """Spec-side filterer (RFC 2083 §6): recon row → filtered bytes."""
    import numpy as np
    line = line.astype(np.int32)
    prev = prev.astype(np.int32)
    left = np.zeros_like(line)
    left[channels:] = line[:-channels]
    ul = np.zeros_like(prev)
    ul[channels:] = prev[:-channels]
    if ftype == 0:
        out = line
    elif ftype == 1:
        out = line - left
    elif ftype == 2:
        out = line - prev
    elif ftype == 3:
        out = line - ((left + prev) // 2)
    else:
        p = left + prev - ul
        pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, prev, ul))
        out = line - pred
    return (out % 256).astype(np.uint8)


def test_png_decode_all_filters():
    """Build an IDAT that uses every filter type 0-4 on successive rows and
    check the decoder reconstructs the original pixels."""
    import struct
    import zlib
    import numpy as np
    from avecado_spark.operators.raster import _chunk, png_decode
    rng = np.random.default_rng(11)
    w, h, ch = 13, 10, 3
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    raw = b""
    prev = np.zeros(w * ch, dtype=np.uint8)
    for y in range(h):
        f = y % 5
        line = img[y].reshape(-1)
        raw += bytes([f]) + _apply_filter(f, line, prev, ch).tobytes()
        prev = line
    data = (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(raw))
            + _chunk(b"IEND", b""))
    assert np.array_equal(png_decode(data), img)


def test_png_decode_malformed_fails_loudly(spark):
    """Malformed PNGs raise a ValueError that says what is wrong, a palette
    PNG the same NotImplementedError as an interlaced one, and a bad tile
    inside vectorize_tiles names its z/x/y."""
    import struct
    import zlib
    from avecado_spark.operators.raster import _chunk, vectorize_tiles
    good = png_encode(np.zeros((4, 4, 4), np.uint8))
    with pytest.raises(ValueError, match="IHDR.*truncated"):
        png_decode(good[:30])
    magic = good[:8]
    palette = (magic
               + _chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0))
               + _chunk(b"PLTE", b"\x00\x00\x00")
               + _chunk(b"IDAT", zlib.compress(bytes(4 * 5)))
               + _chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError, match="colour type 3"):
        png_decode(palette)
    short_ihdr = (magic + _chunk(b"IHDR", b"\x00\x00\x00\x04")
                  + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IHDR chunk is 4 bytes, not 13"):
        png_decode(short_ihdr)
    bad_zlib = good[:41] + b"\x00" + good[42:]  # zlib header of the IDAT
    with pytest.raises(ValueError, match="corrupt IDAT stream"):
        png_decode(bad_zlib)
    df = spark.createDataFrame([(6, 33, 21, bytearray(good[:30]))],
                               "z int, x long, y long, png binary")
    with pytest.raises(Exception, match="tile 6/33/21: PNG: .*truncated"):
        vectorize_tiles(df).collect()


# ---------------------------------------------------------------------------
# styled renderer (Mapnik-rule JSON subset)
# ---------------------------------------------------------------------------

def _styled_tile():
    """One tile, three layers: water polygon covering all, roads (two lines
    with different 'highway' tags), pois (one point at center)."""
    water = mvt.MvtLayer(name="water", extent=256)
    ring = [(-1, -1), (257, -1), (257, 257), (-1, 257), (-1, -1)]
    xs = np.array([p[0] for p in ring]); ys = np.array([p[1] for p in ring])
    water.features.append(mvt.MvtFeature(
        id=1, type=mvt.GEOM_POLYGON,
        geometry=mvt.encode_geometry([(xs, ys)], mvt.GEOM_POLYGON)))

    roads = mvt.MvtLayer(name="roads", extent=256,
                         keys=["highway"], values=["primary", "service"])
    roads.features.append(mvt.MvtFeature(
        id=2, type=mvt.GEOM_LINESTRING, tags=[0, 0],
        geometry=mvt.encode_geometry(
            [(np.array([10, 240]), np.array([64, 64]))], mvt.GEOM_LINESTRING)))
    roads.features.append(mvt.MvtFeature(
        id=3, type=mvt.GEOM_LINESTRING, tags=[0, 1],
        geometry=mvt.encode_geometry(
            [(np.array([10, 240]), np.array([192, 192]))], mvt.GEOM_LINESTRING)))

    pois = mvt.MvtLayer(name="pois", extent=256)
    pois.features.append(mvt.MvtFeature(
        id=4, type=mvt.GEOM_POINT,
        geometry=mvt.encode_geometry(
            [(np.array([128]), np.array([128]))], mvt.GEOM_POINT)))
    return mvt.tile_to_gzip(mvt.MvtTile(layers=[water, roads, pois]))


def test_styled_translucent_fill_composites():
    from avecado_spark.operators.raster import render_tile_styled
    style = {"background": "#000000",
             "layers": [{"layer": "water", "polygon": {"fill": "#ff000080"}}]}
    img = render_tile_styled(_styled_tile(), style)
    # src-over 0x80 red over black: (255*128 + 0*127 + 127)//255 = 128
    assert (img[:, :, 0] == 128).all()
    assert (img[:, :, 1] == 0).all() and (img[:, :, 2] == 0).all()


def test_styled_filter_selects_features():
    from avecado_spark.operators.raster import render_tile_styled
    style = {"background": "#000000",
             "layers": [{"layer": "roads",
                         "filter": {"key": "highway", "equals": "primary"},
                         "line": {"stroke": "#ffffff", "width": 3}}]}
    img = render_tile_styled(_styled_tile(), style)
    assert (img[64, 100] == (255, 255, 255, 255)).all()   # primary drawn
    assert (img[192, 100] == (0, 0, 0, 255)).all()        # service filtered


def test_styled_line_width():
    from avecado_spark.operators.raster import render_tile_styled
    style = {"background": "#000000",
             "layers": [{"layer": "roads",
                         "line": {"stroke": "#ffffff", "width": 7}}]}
    img = render_tile_styled(_styled_tile(), style)
    col = img[:, 100, 0] == 255  # vertical slice through the y=64 line
    rows = np.flatnonzero(col[:128])
    assert 6 <= len(rows) <= 8                  # ~7 px of coverage
    assert abs(int(rows.mean()) - 64) <= 1      # centered on the line


def test_styled_point_radius_and_order():
    from avecado_spark.operators.raster import render_tile_styled
    style = {"background": "#000000",
             "layers": [
                 {"layer": "water", "polygon": {"fill": "#0000ff"}},
                 {"layer": "pois", "point": {"fill": "#ffff00", "radius": 5}}]}
    img = render_tile_styled(_styled_tile(), style)
    assert (img[128, 128] == (255, 255, 0, 255)).all()    # marker on top
    assert (img[128, 140] == (0, 0, 255, 255)).all()      # water below
    disk = (img[:, :, 0] == 255) & (img[:, :, 1] == 255)
    assert 60 <= disk.sum() <= 90                         # ~pi*5^2 = 78 px


def test_styled_empty_tile_and_unknown_layer():
    from avecado_spark.operators.raster import render_tile_styled
    style = {"background": "#8cc63f",
             "layers": [{"layer": "nope", "polygon": {"fill": "#ffffff"}}]}
    img = render_tile_styled(None, style)
    assert (img == np.array((0x8C, 0xC6, 0x3F, 0xFF), dtype=np.uint8)).all()
    img2 = render_tile_styled(_styled_tile(), style)
    assert (img2 == np.array((0x8C, 0xC6, 0x3F, 0xFF), dtype=np.uint8)).all()


def test_render_tiles_job(spark, tmp_path):
    """jobs/render_tiles.py path: styled Spark render over a built tile
    table writes a z/x/y.png tree (accumulator-counted single pass)."""
    import json
    import subprocess
    import sys
    import os
    from avecado_spark.api import build_tiles
    from avecado_spark.sources.manifest import run_resumable_build
    from avecado_spark.sources.pages import pages_df

    tiles = build_tiles(pages_df(spark, "/root/testdata/sf0.001"), z=6)
    table = str(tmp_path / "tiletable")
    run_resumable_build(spark, tiles, 6, table, lineage="render-test")

    style = {"background": "#102030",
             "layers": [{"layer": "pages", "point": {"fill": "#ffffff",
                                                     "radius": 2}}]}
    style_path = str(tmp_path / "style.json")
    with open(style_path, "w") as f:
        json.dump(style, f)
    out = str(tmp_path / "pngs")
    res = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__),
                                      "..", "jobs", "render_tiles.py"),
         "--tiles", table, "--style", style_path, "--out", out],
        capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    info = json.loads(res.stdout.strip().splitlines()[-1])
    assert info["rendered"] > 0
    pngs = [os.path.join(dp, f) for dp, _, fs in os.walk(out)
            for f in fs if f.endswith(".png")]
    assert len(pngs) == info["rendered"]
    from avecado_spark.operators.raster import png_decode
    img = png_decode(open(pngs[0], "rb").read())
    assert img.shape == (256, 256, 4)


def _overzoom_tile():
    """z6 data tile at (6,10,20): water fills the NE quadrant (x in
    [128,256], y in [0,128] of the 256-extent frame) and a small box at
    x [128,160], y [0,32] in layer 'parks'."""
    water = mvt.MvtLayer(name="water", extent=256)
    xs = np.array([128, 256, 256, 128, 128])
    ys = np.array([0, 0, 128, 128, 0])
    water.features.append(mvt.MvtFeature(
        id=1, type=mvt.GEOM_POLYGON,
        geometry=mvt.encode_geometry([(xs, ys)], mvt.GEOM_POLYGON)))
    parks = mvt.MvtLayer(name="parks", extent=256)
    px = np.array([128, 160, 160, 128, 128])
    py = np.array([0, 0, 32, 32, 0])
    parks.features.append(mvt.MvtFeature(
        id=2, type=mvt.GEOM_POLYGON,
        geometry=mvt.encode_geometry([(px, py)], mvt.GEOM_POLYGON)))
    return mvt.tile_to_gzip(mvt.MvtTile(layers=[water, parks]))


def test_overzoom_render_child_quadrants():
    """Reference render_vector_tile.cpp:43-47: rendering a z7 request from
    its z6 ancestor scales the matching quadrant up 2x; the NE child is
    fully water, the NW child shows none of it."""
    from avecado_spark.operators.raster import render_tile_styled
    style = {"background": "#000000",
             "layers": [{"layer": "water", "polygon": {"fill": "#0000ff"}}]}
    tile = _overzoom_tile()
    ne = render_tile_styled(tile, style, request_zxy=(7, 21, 40),
                            data_zxy=(6, 10, 20))
    assert (ne[:, :, 2] == 255).all()            # whole frame is water
    nw = render_tile_styled(tile, style, request_zxy=(7, 20, 40),
                            data_zxy=(6, 10, 20))
    assert (nw[:, :, 2] == 0).all()              # none of it
    se = render_tile_styled(tile, style, request_zxy=(7, 21, 41),
                            data_zxy=(6, 10, 20))
    assert (se[:, :, 2] == 0).all()


def test_overzoom_scales_subtile_geometry():
    """The 32x32 park box at the z6 NE corner becomes a 64x64 box at the
    z7 NE child's origin, and a 128x128 box at the z8 great-grandchild."""
    from avecado_spark.operators.raster import render_tile_styled
    style = {"background": "#000000",
             "layers": [{"layer": "parks", "polygon": {"fill": "#00ff00"}}]}
    tile = _overzoom_tile()
    z7 = render_tile_styled(tile, style, request_zxy=(7, 21, 40),
                            data_zxy=(6, 10, 20))
    green = z7[:, :, 1] == 255
    assert green[:64, :64].all()
    assert not green[70:, :].any() and not green[:, 70:].any()
    # z8 first child of the NE child: the box covers 128x128
    z8 = render_tile_styled(tile, style, request_zxy=(8, 42, 80),
                            data_zxy=(6, 10, 20))
    g8 = z8[:, :, 1] == 255
    assert g8[:128, :128].all()
    assert not g8[134:, :].any() and not g8[:, 134:].any()


def test_overzoom_same_zoom_identity_and_errors():
    from avecado_spark.operators.raster import render_tile_styled
    style = {"background": "#000000",
             "layers": [{"layer": "water", "polygon": {"fill": "#0000ff"}}]}
    tile = _overzoom_tile()
    plain = render_tile_styled(tile, style)
    same = render_tile_styled(tile, style, request_zxy=(6, 10, 20),
                              data_zxy=(6, 10, 20))
    assert (plain == same).all()
    with pytest.raises(ValueError, match="not a descendant"):
        render_tile_styled(tile, style, request_zxy=(7, 23, 40),
                           data_zxy=(6, 10, 20))
    with pytest.raises(ValueError, match="below data z"):
        render_tile_styled(tile, style, request_zxy=(5, 5, 10),
                           data_zxy=(6, 10, 20))


def test_overzoom_spark_surface(spark):
    """render_tiles_styled_overzoom over the fetch_tiles_overzoom shape:
    the z7 NE child renders all-water from its z6 ancestor's bytes."""
    from avecado_spark.operators.raster import (png_decode,
                                                render_tiles_styled_overzoom)
    style = {"background": "#000000",
             "layers": [{"layer": "water", "polygon": {"fill": "#0000ff"}}]}
    tile = bytes(_overzoom_tile())
    rows = [(7, 21, 40, 6, 10, 20, tile),   # NE child ← ancestor
            (7, 20, 40, 6, 10, 20, tile),   # NW child ← ancestor
            (6, 10, 20, 6, 10, 20, tile)]   # same-zoom passthrough
    df = spark.createDataFrame(
        rows, "z int, x long, y long, served_z int, served_x long, served_y long, "
              "tile_pbf binary")
    out = {(r.z, r.x, r.y): bytes(r.png)
           for r in render_tiles_styled_overzoom(df, style).collect()}
    ne = png_decode(out[(7, 21, 40)])
    assert (ne[:, :, 2] == 255).all()
    nw = png_decode(out[(7, 20, 40)])
    assert (nw[:, :, 2] == 0).all()
    parent = png_decode(out[(6, 10, 20)])
    quad = parent[:, :, 2] == 255
    assert quad[:128, 128:].all() and not quad[128:, :128].any()


def test_render_tiles_stats_equals_vectorize_counts(spark):
    """render_tiles_stats (image-side painted count) and vectorize_tiles
    (PNG-decode pixel explosion) must agree tile-for-tile — the two
    raster-analysis paths pinning each other; the registered
    raster_pixels_oracle row carries the SQL-derivable twin."""
    from avecado_spark.api import build_tiles
    from avecado_spark.operators.raster import (render_tiles,
                                                render_tiles_stats,
                                                vectorize_tiles)
    from avecado_spark.sources.pages import pages_df
    import pyspark.sql.functions as F

    tiles = build_tiles(pages_df(spark, "/root/testdata/sf0.001"), z=6)
    style = {"pages": (0x51, 0x21, 0x4D, 0xFF)}
    stats = {(r.x, r.y): r.n_painted for r in
             render_tiles_stats(tiles, styles=style).collect()}
    vec = {(r.x, r.y): r.n for r in
           (vectorize_tiles(render_tiles(tiles, styles=style))
            .groupBy("x", "y").agg(F.count("*").alias("n"))).collect()}
    assert stats == vec and len(stats) > 0
