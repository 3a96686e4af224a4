"""MVT wire-format goldens from the reference test suite.

Command-stream integers: /root/reference/test/multi_verification.cpp:75-81
(multilinestring) and :128-144 (multipolygon).
Layer fields: /root/reference/test/util_tile.cpp:26-30 (extent/version).
Interestingness: /root/reference/test/util_tile.cpp:15-82 (all five cases).
GeoJSON goldens: /root/reference/test/make_vector_tile.cpp:55-59.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from avecado_spark.functions import mvt
from avecado_spark.functions import wkt
from avecado_spark.operators.encode import make_layer, make_vector_tile

Z, X, Y = 0, 0, 0
TILE_SIZE = 256
PATH_MULT = 1  # the reference tests use extent 256 (tile_size * 1)


def _decode_single_feature(data: bytes):
    tile = mvt.decode_tile(data)
    assert len(tile.layers) == 1
    layer = tile.layers[0]
    assert len(layer.features) == 1
    return layer, layer.features[0]


def _decoded_mercator_paths(feature, extent, z=Z, x=X, y=Y):
    from avecado_spark.functions.mercator import box_for_tile
    minx, miny, maxx, maxy = box_for_tile(z, x, y)
    span = maxx - minx
    out = []
    for xs, ys in mvt.decode_geometry(feature.geometry, feature.type):
        mx = xs / extent * span + minx
        my = maxy - ys / extent * span
        out.append(np.column_stack([mx, my]))
    return out


def _mk(wkt_str, name):
    return {"id": 1, "props": {"name": name}, "geom": wkt.loads(wkt_str)}


def test_single_point_golden():
    data = make_vector_tile(
        {"point": [_mk("POINT(0 0)", "null island")]},
        Z, X, Y, tile_size=TILE_SIZE, path_multiplier=PATH_MULT, tolerance=1)
    layer, feat = _decode_single_feature(data)
    assert layer.name == "point"
    assert feat.type == mvt.GEOM_POINT
    paths = _decoded_mercator_paths(feat, layer.extent)
    assert paths[0][0] == pytest.approx([0.0, 0.0], abs=1e-3)
    # property round-trip
    assert layer.keys == ["name"]
    assert layer.values == ["null island"]


GOLDEN_LINE = [[-2035059.44106453, 0.0],
               [-939258.203568246, 1252344.27142433],
               [939258.203568246, 939258.203568246],
               [2035059.44106453, 0.0]]


def test_single_line_golden():
    data = make_vector_tile(
        {"point": [_mk("LINESTRING(-2000000 0,-1000000 1250000,1000000 1000000,2000000 0)",
                       "null highway")]},
        Z, X, Y, tile_size=TILE_SIZE, path_multiplier=PATH_MULT, tolerance=1)
    layer, feat = _decode_single_feature(data)
    assert feat.type == mvt.GEOM_LINESTRING
    paths = _decoded_mercator_paths(feat, layer.extent)
    assert len(paths) == 1
    assert paths[0] == pytest.approx(np.array(GOLDEN_LINE), abs=1e-3)


def test_single_polygon_golden():
    # golden single_poly_json: outer ring + hole, z0 extent 256
    data = make_vector_tile(
        {"point": [_mk("POLYGON((-2000000 0,-1000000 1050000,1000000 1000000,2000000 0,-2000000 0),"
                       "(-100000 0,0 100000,100000 0,-100000 0))", "null lake")]},
        Z, X, Y, tile_size=TILE_SIZE, path_multiplier=PATH_MULT, tolerance=1)
    layer, feat = _decode_single_feature(data)
    assert feat.type == mvt.GEOM_POLYGON
    paths = _decoded_mercator_paths(feat, layer.extent)
    assert len(paths) == 2
    # golden single_poly_json: closing duplicate kept as LineTo, then the
    # ClosePath decode repeats the first point once more
    outer = np.array([[-2035059.44106453, 0.0],
                      [-939258.203568246, 1095801.23749629],
                      [939258.203568246, 939258.203568246],
                      [2035059.44106453, 0.0],
                      [-2035059.44106453, 0.0],
                      [-2035059.44106453, 0.0]])
    assert paths[0] == pytest.approx(outer, abs=1e-3)
    hole = np.array([[-156543.033928041, 0.0],
                     [0.0, 156543.033928041],
                     [156543.033928041, 0.0],
                     [-156543.033928041, 0.0],
                     [-156543.033928041, 0.0]])
    assert paths[1] == pytest.approx(hole, abs=1e-3)


def test_intersected_line_z1_golden():
    """Line extending beyond z1/0/0 is clipped at the tile edge
    (make_vector_tile.cpp:146-173)."""
    data = make_vector_tile(
        {"point": [_mk("LINESTRING(-2000000 0,-1000000 1250000,1000000 1000000,2000000 0)",
                       "null highway")]},
        1, 0, 0, tile_size=TILE_SIZE, path_multiplier=PATH_MULT, tolerance=1)
    layer, feat = _decode_single_feature(data)
    paths = _decoded_mercator_paths(feat, layer.extent, 1, 0, 0)
    golden = np.array([[-2035059.44106453, 0.0],
                       [-1017529.72053227, 1252344.27142433],
                       [0.0, 1095801.23749629]])
    assert len(paths) == 1
    assert paths[0] == pytest.approx(golden, abs=1e-3)


def test_multilinestring_command_stream():
    """Golden command ints: multi_verification.cpp:75-81 — geometry size 12,
    entries 0/3/6/9 are 9, 10, 9, 10 (MoveTo1, LineTo1, MoveTo1, LineTo1)."""
    data = make_vector_tile(
        {"point": [_mk("MULTILINESTRING((-1000000 0,-1000000 1000000),"
                       "(1000000 0,1000000 1000000))", "null highway")]},
        Z, X, Y, tile_size=TILE_SIZE, path_multiplier=PATH_MULT, tolerance=1)
    layer, feat = _decode_single_feature(data)
    assert feat.type == 2
    g = feat.geometry
    assert len(g) == 12
    assert g[0] == 9 and g[3] == 10 and g[6] == 9 and g[9] == 10


def test_multipolygon_command_stream():
    """Golden: multi_verification.cpp:128-144 — size 37, type 3, commands
    9,26,15 / 9,42,15 / 9,26,15."""
    data = make_vector_tile(
        {"point": [_mk(
            "MULTIPOLYGON(((400000 400000,200000 450000,450000 300000,400000 400000)),"
            "((200000 350000,100000 300000,100000 100000,300000 50000,450000 200000,200000 350000),"
            "(300000 200000,200000 150000,200000 250000,300000 200000)))", "null lake")]},
        Z, X, Y, tile_size=TILE_SIZE, path_multiplier=PATH_MULT, tolerance=1)
    layer, feat = _decode_single_feature(data)
    assert feat.type == 3
    g = feat.geometry
    assert len(g) == 37
    assert g[0] == 9 and g[3] == 26 and g[10] == 15
    assert g[11] == 9 and g[14] == 42 and g[25] == 15
    assert g[26] == 9 and g[29] == 26 and g[36] == 15


def test_layer_fields():
    layer = make_layer("point", [_mk("POINT(0 0)", "x")], 0, 0, 0)
    assert layer.extent == 4096  # default 256*16, asserted util_tile.cpp:29
    assert layer.version == 1
    data = mvt.tile_to_gzip(mvt.MvtTile(layers=[layer]))
    assert data[:2] == b"\x1f\x8b"  # gzip framing (tile.cpp:49-72)
    rt = mvt.decode_tile(data)
    assert rt.layers[0].extent == 4096
    assert rt.layers[0].version == 1
    assert rt.layers[0].name == "point"
    # compression_level=0 → raw pbf (tile.cpp:52-54)
    raw = mvt.tile_to_gzip(mvt.MvtTile(layers=[layer]), 0)
    assert raw[:2] != b"\x1f\x8b"
    assert mvt.decode_tile(raw).layers[0].name == "point"


FULL_COVER = [9, 63, 8256, 26, 0, 8319, 8320, 0, 0, 8320, 15]
DEGENERATE = [9, 63, 8256, 58, 0, 8319, 8320, 0, 0, 8320, 8319,
              0, 8320, 0, 8319, 0, 8320, 0, 15]


def _mk_layer(n_features, geom, extent):
    layer = mvt.MvtLayer(name="boundingbox", extent=extent)
    for i in range(n_features):
        layer.features.append(mvt.MvtFeature(id=i + 1, type=3, geometry=list(geom)))
    return layer


def test_interesting_empty():
    assert mvt.is_interesting(mvt.MvtLayer(name="x")) is False


def test_interesting_full_cover():
    assert mvt.is_interesting(_mk_layer(1, FULL_COVER, 4096)) is False


def test_interesting_degenerate():
    assert mvt.is_interesting(_mk_layer(1, DEGENERATE, 4096)) is False


def test_interesting_many():
    assert mvt.is_interesting(_mk_layer(2, FULL_COVER, 4096)) is True


def test_interesting_shape_inside():
    assert mvt.is_interesting(_mk_layer(1, FULL_COVER, 8192)) is True


def test_varint_roundtrip():
    for v in (0, 1, 127, 128, 300, 2 ** 32 - 1, 2 ** 63):
        buf = mvt._varint(v)
        out, pos = mvt.read_varint(buf, 0)
        assert out == v and pos == len(buf)


@given(st.integers(0, 10**6))
@settings(max_examples=30, deadline=None)
def test_random_bytes_never_hang_mvt(seed):
    rng = np.random.default_rng(seed)
    blob = bytes(rng.integers(0, 256, 400, dtype=np.uint8))
    try:
        mvt.decode_tile(blob)
    except Exception as e:
        assert not isinstance(e, (MemoryError, RecursionError))


def test_make_vector_tile_full_signature_with_post_processor():
    """Reference binding parity (python_module.cpp:203-212): all kwargs
    accepted; post_processor izers run per layer before encoding."""
    from avecado_spark.plans.pipeline import PostProcessor
    pp = PostProcessor({"point": [{"minzoom": 0, "maxzoom": 22, "process": [{
        "type": "adminizer", "param_name": "foo",
        "datasource": {"inline_rows": [
            ("POLYGON((-10000000 -10000000, -10000000 10000000, 10000000 10000000, "
             "10000000 -10000000, -10000000 -10000000))", "inside")]}}]}]})
    data = make_vector_tile(
        {"point": [_mk("POINT(0 0)", "null island")]}, 0, 0, 0,
        path_multiplier=1, buffer_size=0, scale_factor=1.0,
        offset_x=0, offset_y=0, tolerance=1, image_format="jpeg",
        scaling_method="near", scale_denominator=0.0, post_processor=pp)
    layer, feat = _decode_single_feature(data)
    assert "foo" in layer.keys and "inside" in layer.values


def test_make_vector_tile_offset():
    d0 = make_vector_tile({"p": [_mk("POINT(0 0)", "x")]}, 0, 0, 0,
                          path_multiplier=1)
    d1 = make_vector_tile({"p": [_mk("POINT(0 0)", "x")]}, 0, 0, 0,
                          path_multiplier=1, offset_x=10, offset_y=-5)
    _, f0 = _decode_single_feature(d0)
    _, f1 = _decode_single_feature(d1)
    p0 = mvt.decode_geometry(f0.geometry, 1)[0]
    p1 = mvt.decode_geometry(f1.geometry, 1)[0]
    assert p1[0][0] - p0[0][0] == 10 and p1[1][0] - p0[1][0] == -5


def test_tile_md5_golden(spark):
    """Golden snapshot of the full z14 distributed build's tile BYTES at
    sf0.001 — the byte-assembly half of mvt_build_z14's correctness (the
    (x, y, n_features, interesting) half is oracle-checked by the driver).
    Tiles are deterministic: gzip mtime=0, fixed key/value tables, salted
    partial tiles merged in salt order. Any codec, quantization, or
    ordering regression moves this digest."""
    import hashlib
    from pyspark.sql import functions as F
    from avecado_spark.api import build_tiles
    from avecado_spark.sources.pages import pages_df
    tiles = build_tiles(pages_df(spark, "/root/testdata/sf0.001"), z=14)
    rows = tiles.select("x", "y", F.md5("tile_pbf").alias("m")).collect()
    dig = hashlib.md5("".join(
        f"{r.x},{r.y},{r.m};" for r in sorted(rows, key=lambda r: (r.x, r.y))
    ).encode()).hexdigest()
    assert len(rows) == 3242
    assert dig == "2708e43246f50ecb801057e5631eb4c8"


def test_tile_bytes_golden_z16_and_multiprop(spark):
    """Deep-zoom (z>14) builds produce decodable, deterministic tiles: two
    runs byte-identical; each feature's one tag pair is lang, the pages
    layer's one property, pointing into the fixed value table."""
    from pyspark.sql import functions as F
    from avecado_spark.functions import mvt
    from avecado_spark.operators.keys import geocode, with_tile_keys, with_salt
    from avecado_spark.operators.encode import PAGES_VALUES, build_point_tiles
    from avecado_spark.sources.pages import pages_df

    def build():
        p = geocode(pages_df(spark, "/root/testdata/sf0.001"))
        p = with_tile_keys(p, 16).withColumn(
            "feature_id", F.col("url").substr(32, 20).cast("long"))
        t = build_point_tiles(with_salt(p, 16), 16)
        return {(r.x, r.y): bytes(r.tile_pbf) for r in t.collect()}

    a, b = build(), build()
    assert a == b, "deep-zoom build must be deterministic"
    big = next(v for v in a.values() if len(v) > 200)
    layer = mvt.decode_tile(big).layers[0]
    assert layer.keys == ["lang"]
    assert layer.values == PAGES_VALUES
    for f in layer.features:
        assert len(f.tags) == 2 and f.tags[0] == 0
        assert layer.values[f.tags[1]] in PAGES_VALUES


def test_out_of_vocab_lang_is_untagged(spark):
    """Null / out-of-vocab categorical values must produce UNTAGGED
    features (the reserved sentinel combo), never silently borrow the
    first vocab value's tag."""
    from avecado_spark.functions import mvt as M
    from avecado_spark.operators.encode import build_point_tiles

    z = 4
    rows = [
        # (x, y, salt, mx_mm, my_mm, feature_id, lang) — all in one tile
        (8, 8, 0, 100000, 100000, 1, "de"),      # in vocab
        (8, 8, 1, 200000, 200000, 2, "xx"),      # NOT in vocab
        (8, 8, 2, 300000, 300000, 3, None),      # null
    ]
    df = spark.createDataFrame(
        rows, "x long, y long, salt int, mx_mm long, my_mm long, "
              "feature_id long, lang string")
    tiles = build_point_tiles(df, z).collect()
    assert len(tiles) == 1
    tile = M.decode_tile(bytes(tiles[0].tile_pbf))
    layer = tile.layers[0]
    tags_by_id = {f.id: list(f.tags) for f in layer.features}
    assert set(tags_by_id) == {1, 2, 3}
    # in-vocab: one (key, value) pair pointing at 'de'
    k, v = tags_by_id[1][0], tags_by_id[1][1]
    assert layer.keys[k] == "lang" and layer.values[v] == "de"
    # out-of-vocab and null: NO tags at all
    assert tags_by_id[2] == []
    assert tags_by_id[3] == []


def test_salt_value_never_moves_a_point(spark):
    """The salt only orders features inside a tile: points keyed to 4/8/8
    with salts 0, 17 and -1 all land in 4/8/8, whatever the salt's width
    (a salt packed into the tile key's low bits would carry into y)."""
    from avecado_spark.functions import mvt as M
    from avecado_spark.operators.encode import build_point_tiles

    df = spark.createDataFrame(
        [(8, 8, salt, 100_000_000 * (i + 1), -500_000_000, i + 1, "de")
         for i, salt in enumerate((0, 17, -1))],
        "x long, y long, salt long, mx_mm long, my_mm long, "
        "feature_id long, lang string")
    tiles = build_point_tiles(df, 4).collect()
    assert [(t.z, t.x, t.y) for t in tiles] == [(4, 8, 8)]
    layer = M.decode_tile(bytes(tiles[0].tile_pbf)).layers[0]
    assert sorted(f.id for f in layer.features) == [1, 2, 3]
    assert tiles[0].n_features == 3


# tag lists per combo: untagged (the sentinel combo), one pair, a two-byte
# value index, and a multi-prop table whose body length needs two varint bytes
_TAGS = [[], [0, 1], [0, 5, 1, 130],
         [i for k in range(40) for i in (k, 200 + k)]]
_TAG_TABLE = [mvt._packed_uint32(2, t) if t else b"" for t in _TAGS]
_EDGE_IDS = [0, 127, 128, 16383, 16384, 2 ** 53 + 1, 2 ** 63 - 1, -1,
             -2 ** 63]
_EDGE_COORDS = [0, 1, 4096, 8191]  # 4096 = the default extent


def _expected_point_block(fid, px, py, combo):
    geom = mvt.encode_geometry([(np.array([px]), np.array([py]))],
                               mvt.GEOM_POINT)
    return mvt._len_delim(2, mvt._encode_feature(mvt.MvtFeature(
        id=fid, type=mvt.GEOM_POINT, geometry=geom, tags=_TAGS[combo])))


def _check_point_blocks(rows):
    from avecado_spark.operators.encode import _encode_point_blocks
    cols = np.array(rows, dtype=np.int64).reshape(-1, 4).T
    buf, off = _encode_point_blocks(*cols, _TAG_TABLE)
    assert len(off) == len(rows) + 1 and off[0] == 0 and off[-1] == len(buf)
    for i, row in enumerate(rows):
        assert buf[off[i]:off[i + 1]].tobytes() == _expected_point_block(*row)


def test_point_blocks_edge_values():
    """The vectorized point encoder is byte-identical to the per-feature
    protobuf encoder at the varint boundaries: ten-byte negative ids,
    extent-edge coords, untagged rows and a two-byte body length."""
    import itertools
    assert len(_expected_point_block(0, 0, 0, 3)) > 2 + 127
    _check_point_blocks(list(itertools.product(
        _EDGE_IDS, _EDGE_COORDS, _EDGE_COORDS, range(len(_TAGS)))))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(-2 ** 63, 2 ** 63 - 1),
                          st.integers(0, 8191), st.integers(0, 8191),
                          st.integers(0, len(_TAGS) - 1)), max_size=40))
def test_point_blocks_match_feature_encoder(rows):
    _check_point_blocks(rows)


@pytest.mark.parametrize("col", ["feature_id", "mx_mm", "my_mm", "x", "y",
                                 "salt"])
def test_null_key_input_fails_naming_the_tile(spark, col):
    """A null key input fails the build with the tile's z/x/y instead of
    being encoded as garbage (a null feature_id reaches pandas as NaN, whose
    int64 cast is int64 min, i.e. MVT id 2^63)."""
    from avecado_spark.operators.encode import build_point_tiles
    cols = ("x", "y", "salt", "mx_mm", "my_mm", "feature_id", "lang")
    bad = dict(zip(cols, (8, 8, 1, 200000, 200000, 2, "de")), **{col: None})
    df = spark.createDataFrame(
        [(8, 8, 0, 100000, 100000, 1, "de"), tuple(bad[c] for c in cols)],
        "x long, y long, salt int, mx_mm long, my_mm long, "
        "feature_id long, lang string")
    tile = f"4/{bad['x'] or 'null'}/{bad['y'] or 'null'}"
    with pytest.raises(Exception, match=f"point tile {tile}: null"):
        build_point_tiles(df, 4).collect()


@pytest.mark.parametrize("mx_mm,my_mm", [
    (-1_000_000_000, 1_000_000_000),   # in 4/7/7: px, py < 0
    (3_000_000_000, -1_000_000_000),   # in 4/9/8: px > extent
    (1_000_000_000, -3_000_000_000),   # in 4/8/9: py > extent
], ids=["northwest", "east", "south"])
def test_point_outside_its_tile_fails_naming_the_tile(spark, mx_mm, my_mm):
    """A point keyed to tile 4/8/8 that lies in another tile fails the build
    with the tile's z/x/y instead of packing an out-of-range px/py into its
    geometry and tag."""
    from avecado_spark.operators.encode import build_point_tiles
    df = spark.createDataFrame(
        [(8, 8, 0, mx_mm, my_mm, 1, "de")],
        "x long, y long, salt int, mx_mm long, my_mm long, "
        "feature_id long, lang string")
    with pytest.raises(Exception, match="point tile 4/8/8: mx_mm, my_mm lie "
                                        "outside the tile"):
        build_point_tiles(df, 4).collect()
