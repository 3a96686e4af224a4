"""MVT tile assembly — single-tile kernel + distributed tile builds.

Single-tile kernel (`make_layer`, `make_tile_bytes`) reproduces the reference
pipeline avecado::make_vector_tile (/root/reference/src/make_vector_tile.cpp:12-47
driving the mapnik-vector-tile processor, observable semantics pinned by the
goldens in /root/reference/test/make_vector_tile.cpp:55-59 and
/root/reference/test/multi_verification.cpp):

  mercator coords → tile-local float px (extent = tile_size × path_multiplier)
  → clip to buffered tile box → integer quantization (floor(v+0.5), ties-up — the reference encoder rounding, shared with build_point_tiles)
  → tolerance thinning → zigzag/command encoding → protobuf → gzip.

Distributed point build (`build_point_tiles`) is one Spark stage boundary:

  repartition by the tile key tkey = x·2^z + y → sortWithinPartitions by
  (tkey, salt) → ONE mapInPandas that encodes every feature of the batch
  at once (`_encode_point_blocks`, numpy-vectorized, against the fixed
  key/value table of the pages layer) and writes each tile from one slice
  of that buffer: layer header + feature blocks + key/value tail, gzip.
  This is the reference's per-layer accumulation, serialized once per tile
  (reference src/backend.cpp:15-44). The salt only orders features inside
  a tile. Every Python stage pays a fixed per-task boundary cost, so the
  build runs one stage whose exchange has no explicit partition count
  (AQE coalesces it to the data); with the vectorized encode a hot tile's
  task is bound by its gzip, which is serial per tile in any shape.

Fixed tables make feature blocks position-independent, so partial tiles
merge by byte concatenation: `partials_only=True` stops at one row per
(tkey, salt), and `merge_point_partials` merges any union of partials
(salt slices, streaming micro-batches) through the same tile writer.

Distributed feature build (`build_feature_tiles`, lines/polygons/multi-*)
has the same shape: one exchange on the tile key, a sort by (z, x, y,
layer, id), and ONE mapInPandas that walks each tile run through the
single-tile kernel (izers per layer, `make_layer`, `make_tile_bytes`) —
the reference's "all features of one layer of one tile → izers → encode"
(backend.cpp:15-44, izer_base.hpp:14-21).

Why mapInPandas instead of groupBy().applyInPandas: at z14 most tiles hold a
handful of pages, so there are O(number-of-tiles) groups; grouped-map pays
per-group scheduling overhead, while repartition+sortWithinPartitions gives
the same grouping as a byproduct of one shuffle and lets us walk contiguous
key runs inside large Arrow batches (`_numpy_batches`). Tile groups never
straddle partitions (hash repartition), and batch boundaries are handled
with a carry buffer.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import mvt
from ..functions.geometry import clip_lines_to_box, clip_ring_convex, close_ring
from ..functions.mercator import WORLD_SIZE as WORLD_SIZE_ENC
from ..functions.mercator import box_for_tile
from ..functions.mvt import (GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON,
                             MvtFeature, MvtLayer, MvtTile, _len_delim,
                             _varint, _varint_field, encode_geometry)
from ..functions.wkt import Geom

DEFAULT_TILE_SIZE = 256
DEFAULT_PATH_MULT = 16  # reference default (avecado_exporter.cpp:57-59)


# ---------------------------------------------------------------------------
# single-tile kernel
# ---------------------------------------------------------------------------

def _to_local(arr: np.ndarray, minx: float, maxy: float, span: float, extent: int) -> np.ndarray:
    out = np.empty_like(arr)
    out[:, 0] = (arr[:, 0] - minx) / span * extent
    out[:, 1] = (maxy - arr[:, 1]) / span * extent
    return out


def make_layer(name: str, features: list[dict], z: int, x: int, y: int,
               tile_size: int = DEFAULT_TILE_SIZE,
               path_multiplier: int = DEFAULT_PATH_MULT,
               buffer_size: int = 0, tolerance: int = 1,
               offset_x: int = 0, offset_y: int = 0) -> MvtLayer:
    """Encode one layer of one tile.

    features: [{"id": int, "props": {k: v}, "geom": Geom (mercator coords)}]
    buffer_size in pixels (scaled by path_multiplier), like the reference's
    buffer_size option (include/avecado.hpp:41-44). offset_x/offset_y shift
    the tile origin in pixels (include/avecado.hpp:46-49).
    """
    extent = tile_size * path_multiplier
    minx, miny, maxx, maxy = box_for_tile(z, x, y)
    span = maxx - minx
    buf = buffer_size * path_multiplier
    off = np.array([offset_x * path_multiplier, offset_y * path_multiplier],
                   dtype=np.float64)
    layer = MvtLayer(name=name, extent=extent)
    key_idx: dict[str, int] = {}
    val_idx: dict = {}

    for feat in features:
        g: Geom = feat["geom"]
        base = g.base_type()
        paths: list[tuple[np.ndarray, np.ndarray]] = []
        if base == "POINT":
            pts = np.vstack([p[0] for p in g.parts])
            loc = _to_local(pts, minx, maxy, span, extent) + off
            keep = ((loc[:, 0] >= -buf) & (loc[:, 0] <= extent + buf) &
                    (loc[:, 1] >= -buf) & (loc[:, 1] <= extent + buf))
            loc = np.floor(loc[keep] + 0.5).astype(np.int64)
            if len(loc):
                paths.append((loc[:, 0], loc[:, 1]))
            gtype = GEOM_POINT
        elif base == "LINESTRING":
            lines = [_to_local(p[0], minx, maxy, span, extent) + off
                     for p in g.parts]
            clipped = clip_lines_to_box(lines, (-buf, -buf, extent + buf, extent + buf))
            for arr in clipped:
                q = np.floor(arr + 0.5).astype(np.int64)
                paths.append((q[:, 0], q[:, 1]))
            gtype = GEOM_LINESTRING
        else:  # POLYGON / MULTIPOLYGON
            clipbox = np.array([[-buf, -buf], [extent + buf, -buf],
                                [extent + buf, extent + buf], [-buf, extent + buf],
                                [-buf, -buf]], dtype=np.float64)
            for rings in g.parts:
                for ring in rings:
                    loc = _to_local(np.asarray(ring, dtype=np.float64),
                                    minx, maxy, span, extent) + off
                    c = clip_ring_convex(loc, clipbox)
                    if len(c) >= 4:
                        q = np.floor(close_ring(c) + 0.5).astype(np.int64)
                        paths.append((q[:, 0], q[:, 1]))
            gtype = GEOM_POLYGON

        if not paths:
            continue
        cmds = encode_geometry(paths, gtype, tolerance=tolerance)
        if not cmds:
            continue
        tags: list[int] = []
        for k, v in feat.get("props", {}).items():
            if v is None:
                continue  # null properties dropped (tilejson.cpp:153-181)
            if k not in key_idx:
                key_idx[k] = len(layer.keys)
                layer.keys.append(k)
            vk = (type(v).__name__, v)
            if vk not in val_idx:
                val_idx[vk] = len(layer.values)
                layer.values.append(v)
            tags.extend((key_idx[k], val_idx[vk]))
        layer.features.append(MvtFeature(id=int(feat.get("id", 0)),
                                         type=gtype, geometry=cmds, tags=tags))
    return layer


def make_tile_bytes(layers: list[MvtLayer], compression_level: int = 6) -> bytes:
    # level 6 == zlib Z_DEFAULT_COMPRESSION, the reference's default
    # (avecado_exporter.cpp:82-84 compression-level -1); measured 2.2x
    # faster than level 9 on the z14 corpus for +0.02% bytes.
    return mvt.tile_to_gzip(MvtTile(layers=layers), compression_level)


def make_vector_tile(features_by_layer: dict[str, list[dict]], z: int, x: int, y: int,
                     tile_size: int = DEFAULT_TILE_SIZE,
                     path_multiplier: int = DEFAULT_PATH_MULT,
                     buffer_size: int = 0, scale_factor: float = 1.0,
                     offset_x: int = 0, offset_y: int = 0,
                     tolerance: int = 1, image_format: str = "jpeg",
                     scaling_method: str = "near",
                     scale_denominator: float = 0.0,
                     post_processor=None,
                     compression_level: int = 6) -> bytes:
    """Public single-tile API mirroring the reference Python binding
    avecado.make_vector_tile(map, z, x, y, path_multiplier=16,
    buffer_size=0, scale_factor=1.0, offset_x=0, offset_y=0, tolerance=1,
    image_format='jpeg', scaling_method='near', scale_denominator=0.0,
    post_processor=None) — /root/reference/src/python_module.cpp:203-212.

    post_processor: a plans.pipeline.PostProcessor (config as a plain dict,
    the binding's idiom, python_module.cpp:72-189); its izers run per layer
    before encoding, zoom-gated at z. scale_factor / image_format /
    scaling_method / scale_denominator apply only to raster features in the
    reference; accepted here for signature parity (vector path ignores
    them, as the reference does for vector layers)."""
    return _encode_tile(features_by_layer, z, x, y, tile_size,
                        path_multiplier, buffer_size, tolerance, offset_x,
                        offset_y, post_processor, compression_level)[0]


def _encode_tile(features_by_layer: dict[str, list[dict]], z: int, x: int,
                 y: int, tile_size: int, path_multiplier: int,
                 buffer_size: int, tolerance: int, offset_x: int = 0,
                 offset_y: int = 0, post_processor=None,
                 compression_level: int = 6) -> tuple[bytes, int, bool]:
    """One tile: izers per layer (PostProcessor.process_layer, zoom-gated
    at z), make_layer, make_tile_bytes over the non-empty layers →
    (tile bytes, feature count, interesting)."""
    layers = []
    for name, feats in features_by_layer.items():
        if post_processor is not None:
            izer_feats = [{"id": f.get("id", 0), "props": dict(f.get("props", {})),
                           "geoms": [f["geom"]]} for f in feats]
            izer_feats, _ = post_processor.process_layer(izer_feats, name, z,
                                                         tile_size)
            feats = [{"id": f["id"], "props": f["props"], "geom": g}
                     for f in izer_feats for g in f["geoms"]]
        layer = make_layer(name, feats, z, x, y, tile_size, path_multiplier,
                           buffer_size, tolerance, offset_x, offset_y)
        if layer.features:
            layers.append(layer)
    return (make_tile_bytes(layers, compression_level),
            sum(len(l.features) for l in layers),
            any(mvt.is_interesting(l) for l in layers))


# ---------------------------------------------------------------------------
# distributed point-tile build
# ---------------------------------------------------------------------------

# fixed value table of the pages layer's one property, lang: feature blocks
# index it, so partial tiles merge by byte concatenation
PAGES_VALUES = ["en", "de", "fr", "es", "zh", "ru", "pt"]
# packed tags of a feature whose lang is PAGES_VALUES[i]; the last entry (a
# null lang or one not in PAGES_VALUES) emits no tag, the reference's
# untagged feature, instead of borrowing the first value's tag
_LANG_TAGS = ([mvt._packed_uint32(2, (0, i)) for i in range(len(PAGES_VALUES))]
              + [b""])

_PARTIAL_SCHEMA = ("tkey long, salt long, fblock binary, "
                   "n_features long, inside1 boolean")
_TILE_SCHEMA = "z int, x long, y long, tile_pbf binary, n_features long, interesting boolean"


def _varint_len(v: np.ndarray) -> np.ndarray:
    """Protobuf varint length (1..10 bytes) of each uint64 in v."""
    n = np.ones(len(v), dtype=np.int64)
    for k in range(1, 10):
        more = v >= np.uint64(1 << (7 * k))
        if not more.any():
            break
        n += more
    return n


def _put_varint(buf: np.ndarray, pos: np.ndarray, v: np.ndarray,
                n: np.ndarray) -> None:
    """Write each uint64 v[i] as the n[i]-byte varint at buf[pos[i]:]."""
    for k in range(int(n.max(initial=0))):
        m = n > k
        byte = (v[m] >> np.uint64(7 * k)).astype(np.uint8) & 0x7F
        buf[pos[m] + k] = byte | ((n[m] > k + 1).astype(np.uint8) << 7)


def _encode_point_blocks(fid: np.ndarray, px: np.ndarray, py: np.ndarray,
                         combo: np.ndarray, tag_table: list[bytes]
                         ) -> tuple[np.ndarray, np.ndarray]:
    """Point features → one uint8 buffer and offsets: row i is the layer's
    field-2 feature message buf[off[i]:off[i+1]], the same bytes as
    _len_delim(2, mvt._encode_feature(...)) for id fid[i], the packed tags
    tag_table[combo[i]], type POINT and geometry MoveTo(px[i], py[i]).
    Every field is written for all rows at once (no per-feature Python),
    so the blocks of a sorted run of rows are one buffer slice."""
    fid = np.asarray(fid, dtype=np.int64).view(np.uint64)
    px = np.asarray(px, dtype=np.int64)
    py = np.asarray(py, dtype=np.int64)
    zx = ((px << 1) ^ (px >> 63)).view(np.uint64)  # zigzag
    zy = ((py << 1) ^ (py >> 63)).view(np.uint64)
    used, inv = np.unique(np.asarray(combo, dtype=np.int64),
                          return_inverse=True)
    tags = [tag_table[c] for c in used.tolist()]
    tlen = np.array([len(t) for t in tags], dtype=np.int64)
    ltag = tlen[inv]
    lid, lx, ly = _varint_len(fid), _varint_len(zx), _varint_len(zy)
    body = 6 + lid + ltag + lx + ly  # 08 id | tags | 18 01 22 len 09 x y
    lbody = _varint_len(body.view(np.uint64))
    off = np.zeros(len(fid) + 1, dtype=np.int64)
    np.cumsum(1 + lbody + body, out=off[1:])
    buf = np.empty(off[-1], dtype=np.uint8)

    p = off[:-1].copy()
    buf[p] = 0x12
    _put_varint(buf, p + 1, body.view(np.uint64), lbody)
    p += 1 + lbody
    buf[p] = 0x08
    _put_varint(buf, p + 1, fid, lid)
    p += 1 + lid
    if ltag.any():  # gather each row's tag bytes from the used entries
        row0 = np.cumsum(ltag) - ltag
        step = np.arange(row0[-1] + ltag[-1])
        src = np.repeat((np.cumsum(tlen) - tlen)[inv] - row0, ltag) + step
        flat = np.frombuffer(b"".join(tags), dtype=np.uint8)
        buf[np.repeat(p - row0, ltag) + step] = flat[src]
    p += ltag
    for i, b in enumerate(b"\x18\x01\x22"):  # type POINT, geometry header
        buf[p + i] = b
    buf[p + 3] = 1 + lx + ly
    buf[p + 4] = 0x09  # MoveTo, count 1
    _put_varint(buf, p + 5, zx, lx)
    _put_varint(buf, p + 5 + lx, zy, ly)
    return buf, off


def _group_starts(*keys: np.ndarray) -> np.ndarray:
    n = len(keys[0])
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for k in keys:
        change[1:] |= (k[1:] != k[:-1])
    return np.flatnonzero(change)


def _numpy_batches(batches: Iterator[pd.DataFrame], cols: list[str],
                   key_cols: list[str]):
    """Stream sorted Arrow batches as numpy column dicts of COMPLETE key
    groups (plus group start/end offsets), carrying the trailing group
    across batch boundaries. No per-group pandas objects — grouping is
    pure offset arithmetic."""
    carry: dict | None = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        arrs = {c: pdf[c].to_numpy() for c in cols}
        if carry is not None:
            arrs = {c: np.concatenate([carry[c], arrs[c]]) for c in cols}
        starts = _group_starts(*[arrs[k] for k in key_cols])
        if len(starts) > 1:
            cut = starts[-1]
            complete = {c: arrs[c][:cut] for c in cols}
            carry = {c: arrs[c][cut:] for c in cols}
            yield complete, starts[:-1], np.append(starts[1:-1], cut)
        else:
            carry = arrs
    if carry is not None and len(carry[cols[0]]):
        starts = _group_starts(*[carry[k] for k in key_cols])
        yield carry, starts, np.append(starts[1:], len(carry[cols[0]]))


def _point_tile_writer(z: int, extent: int, compression_level: int):
    """The tile half shared by build_point_tiles and merge_point_partials:
    wrap each tile's concatenated feature blocks in the layer name
    ("pages"), the fixed key/value tables (lang, PAGES_VALUES), extent and
    version, then gzip. The one-feature interestingness flag (inside1) was
    taken at encode time from the quantized coords: for a one-point layer
    the reference classifier reduces to "some coordinate strictly inside
    (0, extent)" (util_tile.cpp:44-105), so no tile is ever decoded."""
    head = _len_delim(1, b"pages")
    tail = (_len_delim(3, b"lang")
            + b"".join(_len_delim(4, mvt._encode_value(v))
                       for v in PAGES_VALUES)
            + _varint_field(5, extent)
            + _varint_field(15, mvt.MVT_VERSION))
    fixed = len(head) + len(tail)
    ymask = (1 << z) - 1

    def write(tkeys: np.ndarray, bodies: list, n_features: np.ndarray,
              inside1: np.ndarray) -> pd.DataFrame:
        pbfs = []
        for body in bodies:
            tile = b"".join((b"\x1a", _varint(fixed + len(body)),
                             head, body, tail))
            pbfs.append(mvt.gzip_bytes(tile, compression_level)
                        if compression_level > 0 else tile)
        return pd.DataFrame({
            "z": np.full(len(tkeys), z, dtype=np.int32),
            "x": tkeys >> z,
            "y": tkeys & ymask,
            "tile_pbf": pbfs, "n_features": n_features,
            "interesting": (n_features > 1) | inside1,
        })

    return write


def build_point_tiles(df: DataFrame, z: int,
                      tile_size: int = DEFAULT_TILE_SIZE,
                      path_multiplier: int = DEFAULT_PATH_MULT,
                      compression_level: int = 6,
                      partials_only: bool = False) -> DataFrame:
    """pages with (x, y, salt, mx_mm, my_mm, feature_id, lang) → one row per
    tile (z, x, y, tile_pbf, n_features, interesting). Each tile has one
    layer, "pages", whose one property is lang; a null lang or one not in
    PAGES_VALUES leaves its feature untagged.

    One exchange on the tile key tkey = x·2^z + y, with no explicit
    partition count so AQE coalesces it to the data, one sort on (tkey,
    salt) and one mapInPandas that encodes every feature with
    _encode_point_blocks and writes each tile from one slice of that
    buffer. The salt, any long, only orders features inside a tile. A
    null feature_id, mx_mm, my_mm, x, y or salt, or a point whose
    mx_mm/my_mm lies outside its (x, y) tile (tile-local px/py outside
    [0, extent]), fails the job with the tile's z/x/y, on the JVM side,
    before the exchange. z <= 30, the deepest zoom the reference serves
    (mapnik_request_handler.cpp:133).

    partials_only: stop at one PARTIAL row per (tkey, salt) — its
    concatenated feature blocks, n_features, inside1 — after the same
    exchange; merge_point_partials turns any union of such rows into tiles.
    """
    if z > 30:
        raise ValueError(f"z={z} > 30, the deepest zoom the point build "
                         "serves")
    extent = tile_size * path_multiplier
    if extent > 8191:
        raise ValueError("payload layout supports extent <= 8191 (13 bits)")

    # JVM-side preparation: quantize to tile-local ints with floor(v+0.5)
    # (the reference encoder's rounding) and pack each feature's payload
    # into one long, pv = lang index << 26 | px << 13 | py (px, py <=
    # extent fit 13 bits), so the shuffle moves 4 longs per row
    lang = F.create_map(*[x for i, v in enumerate(PAGES_VALUES)
                          for x in (F.lit(v), F.lit(i))])
    lang_idx = F.coalesce(F.element_at(lang, F.col("lang")),
                          F.lit(len(PAGES_VALUES))).cast("long")
    H = 0.5 * WORLD_SIZE_ENC
    scale = WORLD_SIZE_ENC / float(1 << z)
    mxm = F.col("mx_mm") / F.lit(1000.0)
    mym = F.col("my_mm") / F.lit(1000.0)
    px = F.floor((mxm - (F.col("x") * F.lit(scale) - F.lit(H))) / F.lit(scale)
                 * F.lit(extent) + F.lit(0.5)).cast("long")
    py = F.floor(((F.lit(H) - F.col("y") * F.lit(scale)) - mym) / F.lit(scale)
                 * F.lit(extent) + F.lit(0.5)).cast("long")
    null_key = (F.col("feature_id").isNull() | F.col("mx_mm").isNull()
                | F.col("my_mm").isNull() | F.col("x").isNull()
                | F.col("y").isNull() | F.col("salt").isNull())
    # a point keyed to a tile it does not lie in has px/py outside
    # [0, extent]; packed into pv, a negative or wider-than-13-bit value
    # corrupts both its geometry and its tag
    off_tile = ((px < 0) | (px > extent) | (py < 0) | (py > extent))

    def fail(msg):
        return F.raise_error(F.format_string(
            "point tile %s/%s/%s: " + msg, F.lit(z), F.col("x"), F.col("y")))

    slim = df.select(
        F.when(null_key, fail("null feature_id, mx_mm, my_mm, x, y or salt"))
        .when(off_tile, fail("mx_mm, my_mm lie outside the tile"))
        .otherwise(F.col("x") * F.lit(1 << z) + F.col("y")).alias("tkey"),
        F.col("salt").cast("long").alias("salt"),
        F.col("feature_id").alias("fid"),
        (lang_idx * F.lit(1 << 26) + px * F.lit(1 << 13) + py).alias("pv"))

    write = _point_tile_writer(z, extent, compression_level)
    group = ["tkey", "salt"] if partials_only else ["tkey"]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # sorted by (tkey, salt) → tiles contiguous, each in salt order
        for arrs, starts, ends in _numpy_batches(
                batches, [*group, "fid", "pv"], group):
            pv = arrs["pv"]
            px = (pv >> 13) & 0x1FFF
            py = pv & 0x1FFF
            buf, off = _encode_point_blocks(arrs["fid"], px, py, pv >> 26,
                                            _LANG_TAGS)
            mv = memoryview(buf)
            blocks = [mv[a:b] for a, b in zip(off[starts].tolist(),
                                              off[ends].tolist())]
            inside = ((px > 0) & (px < extent)) | ((py > 0) & (py < extent))
            n = (ends - starts).astype(np.int64)
            if partials_only:
                yield pd.DataFrame({
                    "tkey": arrs["tkey"][starts],
                    "salt": arrs["salt"][starts],
                    "fblock": [bytes(b) for b in blocks],
                    "n_features": n, "inside1": inside[starts]})
            else:
                yield write(arrs["tkey"][starts], blocks, n, inside[starts])

    return (slim
            .repartition("tkey")
            .sortWithinPartitions("tkey", "salt")
            .mapInPandas(encode, schema=(_PARTIAL_SCHEMA if partials_only
                                         else _TILE_SCHEMA)))


def merge_point_partials(partial: DataFrame, z: int,
                         tile_size: int = DEFAULT_TILE_SIZE,
                         path_multiplier: int = DEFAULT_PATH_MULT,
                         compression_level: int = 6,
                         extra_sort_cols: tuple = ()) -> DataFrame:
    """Merge PARTIAL rows (tkey, salt, fblock, n_features, inside1) from
    build_point_tiles(partials_only=True) into final gzipped tiles by byte
    concatenation, through the same tile writer as the one-stage build.
    Partials merge from ANY partition of the feature set — salt slices, or
    MICRO-BATCHES across a streaming ingest (streaming/tiles.py uses
    batch_id as a time-salt) — because feature blocks index the fixed
    global key/value tables. Rows with the same (tkey, salt) from
    different sources are ordered by extra_sort_cols (e.g. ("batch_id",))
    for deterministic tile bytes."""
    write = _point_tile_writer(z, tile_size * path_multiplier,
                               compression_level)

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # sorted by (tkey, salt) → tiles contiguous, blocks in salt order
        for arrs, starts, ends in _numpy_batches(
                batches, ["tkey", "fblock", "n_features", "inside1"],
                ["tkey"]):
            fbl = arrs["fblock"]
            # per-tile totals in one reduceat: anything per TILE in Python
            # must stay O(1) Python ops (about one tile per 1.5 features)
            totals = np.add.reduceat(arrs["n_features"].astype(np.int64),
                                     starts)
            yield write(arrs["tkey"][starts],
                        [b"".join(fbl[s:e]) for s, e in zip(starts, ends)],
                        totals, arrs["inside1"][starts].astype(bool))

    return (partial
            .repartition("tkey")
            .sortWithinPartitions("tkey", "salt", *extra_sort_cols)
            .mapInPandas(merge, schema=_TILE_SCHEMA))


# ---------------------------------------------------------------------------
# distributed feature-tile build (lines, polygons, multi-*)
# ---------------------------------------------------------------------------

def build_feature_tiles(df: DataFrame, izer_config: dict | None = None,
                        tile_size: int = DEFAULT_TILE_SIZE,
                        path_multiplier: int = DEFAULT_PATH_MULT,
                        buffer_size: int = 0, tolerance: int = 1,
                        compression_level: int = 6) -> DataFrame:
    """(z, x, y, layer, id, props map, wkt) feature rows → one row per
    non-empty tile (z, x, y, tile_pbf, n_features, interesting) — the Spark
    translation of `avecado vector-bulk` for non-point layers, with an
    optional post-processor pipeline applied per (tile, layer) before
    encoding (backend::stop_tile_layer → post_processor::process_layer →
    encode, reference src/backend.cpp:20-26).

    One exchange on the tile key, a sort by (z, x, y, layer, id) and one
    mapInPandas that walks the sorted tile runs and encodes each through
    the single-tile kernel (_encode_tile), so a tile's bytes equal
    make_vector_tile over its layers in name order, features in id order,
    whatever the input partitioning. Every izer sees whole (tile, layer)
    groups, group-coupled ones (unionizer, collect-mode adminizer)
    included. The exchange has no explicit partition count, so AQE
    coalesces it to the data.
    """
    from ..functions import wkt as _wkt
    from ..plans.pipeline import PostProcessor

    cols = ["z", "x", "y", "layer", "id", "props", "wkt"]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        proc = PostProcessor(izer_config) if izer_config else None
        for arrs, starts, ends in _numpy_batches(batches, cols,
                                                 ["z", "x", "y"]):
            zs, xs, ys, lays, ids, props, wkts = (arrs[c] for c in cols)
            rows = []
            for a, b in zip(starts.tolist(), ends.tolist()):
                by_layer: dict[str, list[dict]] = {}
                for i in range(a, b):
                    by_layer.setdefault(lays[i], []).append({
                        "id": int(ids[i]),
                        "props": dict(props[i]) if props[i] is not None else {},
                        "geom": _wkt.loads(wkts[i])})
                z, x, y = int(zs[a]), int(xs[a]), int(ys[a])
                pbf, nf, interesting = _encode_tile(
                    by_layer, z, x, y, tile_size, path_multiplier,
                    buffer_size, tolerance, post_processor=proc,
                    compression_level=compression_level)
                if nf:
                    rows.append((z, x, y, pbf, nf, interesting))
            yield pd.DataFrame(rows, columns=["z", "x", "y", "tile_pbf",
                                              "n_features", "interesting"])

    return (df.select(*cols)
              .repartition("z", "x", "y")
              .sortWithinPartitions("z", "x", "y", "layer", "id")
              .mapInPandas(encode, schema=_TILE_SCHEMA))
