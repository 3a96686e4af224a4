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

  repartition by the tile key (pkey >> salt_bits) → sortWithinPartitions by
  pkey (x, y, salt) → ONE mapInPandas that encodes every feature of the
  batch at once (`_encode_point_blocks`, numpy-vectorized, against a fixed
  per-layer key/value table) and writes each tile from one slice of that
  buffer: layer header + feature blocks + key/value tail, gzip. This is the
  reference's per-layer accumulation, serialized once per tile (reference
  src/backend.cpp:15-44). The salt only orders features inside a tile.
  Every Python stage pays a fixed per-task boundary cost, so the build
  runs one stage, not a salted encode stage plus a merge stage; with the
  vectorized encode a hot tile's task is bound by its gzip, which is
  serial per tile in either shape.

Fixed tables make feature blocks position-independent, so partial tiles
merge by byte concatenation: `partials_only=True` stops at one row per
(x, y, salt), and `merge_point_partials` merges any union of partials (salt
slices, streaming micro-batches) through the same tile writer.

Why mapInPandas instead of groupBy().applyInPandas: at z14 most tiles hold a
handful of pages, so there are O(number-of-tiles) groups; grouped-map pays
per-group scheduling overhead, while repartition+sortWithinPartitions gives
the same grouping as a byproduct of one shuffle and lets us walk contiguous
key runs inside large Arrow batches. Tile groups never straddle partitions
(hash repartition), and batch boundaries are handled with a carry buffer.
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
    layers = []
    for name, feats in features_by_layer.items():
        if post_processor is not None:
            izer_feats = [{"id": f.get("id", 0), "props": dict(f.get("props", {})),
                           "geoms": [f["geom"]]} for f in feats]
            izer_feats, _ = post_processor.process_layer(izer_feats, name, z,
                                                         tile_size)
            feats = [{"id": f["id"], "props": f["props"], "geom": g}
                     for f in izer_feats for g in f["geoms"]]
        layers.append(make_layer(name, feats, z, x, y, tile_size,
                                 path_multiplier, buffer_size, tolerance,
                                 offset_x, offset_y))
    return make_tile_bytes([l for l in layers if l.features], compression_level)


# ---------------------------------------------------------------------------
# distributed point-tile build
# ---------------------------------------------------------------------------

# fixed value table for the pages layer → feature blocks merge by concat
PAGES_VALUES = ["en", "de", "fr", "es", "zh", "ru", "pt"]

_PARTIAL_SCHEMA = ("pkey long, fblock binary, "
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


def _salt_bits(z: int, n_salts: int) -> int:
    """Low bits of the packed key pkey = x << (z + s) | y << s | salt that
    hold the salt: log2(n_salts), capped by the 63 - 2z bits z leaves."""
    bits = max(1, int(np.ceil(np.log2(max(n_salts, 2)))))
    if 2 * z + bits > 63:
        bits = 63 - 2 * z
        if bits < 1:
            raise ValueError(f"z={z} > 30 exceeds the packed-key layout")
        if n_salts > (1 << bits):
            raise ValueError(
                f"z={z} leaves {bits} salt bits; use n_salts <= {1 << bits}")
    return bits


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


def _with_tkey(batches: Iterator[pd.DataFrame],
               salt_bits: int) -> Iterator[pd.DataFrame]:
    """Add each batch's tile key: the packed pkey without its salt bits."""
    for pdf in batches:
        pdf["tkey"] = pdf["pkey"].to_numpy() >> salt_bits
        yield pdf


def _point_tile_writer(z: int, layer_name: str, props_cols: tuple,
                       vocab: dict[str, list], extent: int,
                       compression_level: int):
    """The tile half shared by build_point_tiles and merge_point_partials:
    wrap each tile's concatenated feature blocks in the layer name, the
    fixed key/value tables, extent and version, then gzip. The
    one-feature interestingness flag (inside1) was taken at encode time
    from the quantized coords: for a one-point layer the reference
    classifier reduces to "some coordinate strictly inside (0, extent)"
    (util_tile.cpp:44-105), so no tile is ever decoded."""
    head = _len_delim(1, layer_name.encode("utf-8"))
    tail = (b"".join(_len_delim(3, k.encode("utf-8")) for k in props_cols)
            + b"".join(_len_delim(4, mvt._encode_value(v))
                       for c in props_cols for v in vocab[c])
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
                      layer_name: str = "pages",
                      n_salts: int = 16,
                      compression_level: int = 6,
                      num_partitions: int | None = None,
                      props_cols: tuple = ("lang",),
                      vocab: dict[str, list] | None = None,
                      partials_only: bool = False) -> DataFrame:
    """pages with (x, y, salt, mx_mm, my_mm, feature_id, <props_cols>) → one
    row per tile (z, x, y, tile_pbf, n_features, interesting).

    One exchange on the tile key, one sort on pkey (x, y, salt) and one
    mapInPandas that encodes every feature with _encode_point_blocks and
    writes each tile from one slice of that buffer. The salt only orders
    features inside a tile. A null feature_id, mx_mm, my_mm, x, y or salt,
    or a point whose mx_mm/my_mm lies outside its (x, y) tile (tile-local
    px/py outside [0, extent]), fails the job with the tile's z/x/y, on
    the JVM side, before the exchange.

    partials_only: stop at one PARTIAL row per (x, y, salt) — pkey, its
    concatenated feature blocks, n_features, inside1 — hash-partitioned on
    pkey; merge_point_partials turns any union of such rows into tiles.

    props_cols: categorical string columns carried as MVT tags. vocab maps
    each to its value list; when None it is computed with one distinct()
    per column (map-side partial agg, tiny result — a plan-time decision
    like AQE stats, valid because the fixed global key/value table is what
    makes partial tiles mergeable by byte concatenation).

    Zoom range: z <= 29 with 16 salts, z = 30 with 8 (the packed key spends
    2z + log2(n_salts) bits of the 63 available — reference serves up to
    z=30, mapnik_request_handler.cpp:133).
    """
    extent = tile_size * path_multiplier
    nparts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    nparts = int(nparts)
    salt_bits = _salt_bits(z, n_salts)
    if extent > 8191:
        raise ValueError("payload layout supports extent <= 8191 (13 bits)")

    if vocab is None:
        if tuple(props_cols) == ("lang",):
            vocab = {"lang": PAGES_VALUES}  # pinned order: byte-stable tiles
        else:
            # cardinality-guarded (r07 verdict): never materialize an
            # unbounded vocabulary on the driver — a single column past
            # the combo-space cap can't produce a valid vocab anyway, so
            # collect at most cap+1 values and raise the same "split
            # props" error the combo check below would, BEFORE the
            # driver holds the full distinct set
            cap = 1 << 20
            vocab = {}
            for c in props_cols:
                vals = [r[0] for r in
                        df.select(c).distinct().limit(cap + 1).collect()]
                if len(vals) > cap:
                    raise ValueError(
                        "categorical combo space too large to tabulate; "
                        "split props into separate layers")
                vocab[c] = sorted(v for v in vals if v is not None)
    sizes = [len(vocab[c]) for c in props_cols]
    # each column gets one extra SENTINEL digit (== size) for null /
    # out-of-vocab values: the sentinel emits NO tag bytes for that column
    # (the reference's untagged feature), instead of silently borrowing the
    # first vocab value's tag
    radixes = [s + 1 for s in sizes]
    n_combos = int(np.prod(radixes)) if radixes else 1
    if n_combos > (1 << 20):
        raise ValueError("categorical combo space too large to tabulate; "
                         "split props into separate layers")
    if n_combos > (1 << (63 - 26)):
        raise ValueError("combo id does not fit the payload layout")

    # combo id: mixed-radix over props_cols (JVM map-literal lookups)
    combo_expr = F.lit(0).cast("long")
    stride = 1
    for c, size, radix in zip(reversed(props_cols), reversed(sizes),
                              reversed(radixes)):
        m = F.create_map(*[x for i, v in enumerate(vocab[c])
                           for x in (F.lit(v), F.lit(i))])
        idx = F.coalesce(F.element_at(m, F.col(c)),
                         F.lit(size)).cast("long")  # sentinel = size
        combo_expr = combo_expr + idx * F.lit(stride)
        stride *= radix

    # tag bytes per combo: field 2 packed [k0, v0, k1, v1, ...] with value
    # indices into the concatenated per-column value table; sentinel digits
    # contribute no (k, v) pair
    voffs = np.cumsum([0] + sizes[:-1]).tolist() if sizes else []
    tag_table = []
    for combo in range(n_combos):
        rem, payload = combo, b""
        digits = []
        for radix in reversed(radixes):
            digits.append(rem % radix)
            rem //= radix
        digits.reverse()
        for k, d in enumerate(digits):
            if d == sizes[k]:  # sentinel → untagged for this column
                continue
            payload += _varint(k) + _varint(voffs[k] + d)
        tag_table.append(b"\x12" + _varint(len(payload)) + payload
                         if payload else b"")

    # JVM-side preparation: quantize to tile-local ints with floor(v+0.5)
    # (the reference encoder's rounding) and pack (x, y, salt) into ONE long
    # key — the shuffle then moves 3 longs per row instead of 7 columns, and
    # sortWithinPartitions radix-sorts a single long. The bit layout keeps
    # lexicographic (x, y, salt) order:
    #   pkey = x << (z + salt_bits) | y << salt_bits | salt
    # Payload pv packs combo<<26 | px<<13 | py (px, py <= extent fit 13 bits).
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
    pkey = (F.col("x") * F.lit(1 << (z + salt_bits))
            + F.col("y") * F.lit(1 << salt_bits) + F.col("salt"))

    def fail(msg):
        return F.raise_error(F.format_string(
            "point tile %s/%s/%s: " + msg, F.lit(z), F.col("x"), F.col("y")))

    slim = df.select(
        F.when(null_key, fail("null feature_id, mx_mm, my_mm, x, y or salt"))
        .when(off_tile, fail("mx_mm, my_mm lie outside the tile"))
        .otherwise(pkey).alias("pkey"),
        F.col("feature_id").alias("fid"),
        (combo_expr * F.lit(1 << 26) + px * F.lit(1 << 13) + py).alias("pv"))

    write = _point_tile_writer(z, layer_name, props_cols, vocab, extent,
                               compression_level)
    group = "pkey" if partials_only else "tkey"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # sorted by pkey → tiles contiguous, each tile's rows in salt order
        for arrs, starts, ends in _numpy_batches(
                _with_tkey(batches, salt_bits),
                ["pkey", "tkey", "fid", "pv"], [group]):
            pv = arrs["pv"]
            px = (pv >> 13) & 0x1FFF
            py = pv & 0x1FFF
            buf, off = _encode_point_blocks(arrs["fid"], px, py, pv >> 26,
                                            tag_table)
            mv = memoryview(buf)
            blocks = [mv[a:b] for a, b in zip(off[starts].tolist(),
                                              off[ends].tolist())]
            inside = ((px > 0) & (px < extent)) | ((py > 0) & (py < extent))
            n = (ends - starts).astype(np.int64)
            if partials_only:
                yield pd.DataFrame({
                    "pkey": arrs["pkey"][starts],
                    "fblock": [bytes(b) for b in blocks],
                    "n_features": n, "inside1": inside[starts]})
            else:
                yield write(arrs["tkey"][starts], blocks, n, inside[starts])

    part = (F.col("pkey") if partials_only
            else F.shiftright("pkey", salt_bits))
    return (slim
            .repartition(nparts, part)
            .sortWithinPartitions("pkey")
            .mapInPandas(encode, schema=(_PARTIAL_SCHEMA if partials_only
                                         else _TILE_SCHEMA)))


def merge_point_partials(partial: DataFrame, z: int,
                         tile_size: int = DEFAULT_TILE_SIZE,
                         path_multiplier: int = DEFAULT_PATH_MULT,
                         layer_name: str = "pages",
                         n_salts: int = 16,
                         compression_level: int = 6,
                         num_partitions: int | None = None,
                         props_cols: tuple = ("lang",),
                         vocab: dict[str, list] | None = None,
                         extra_sort_cols: tuple = ()) -> DataFrame:
    """Merge PARTIAL rows (pkey, fblock, n_features, inside1) from
    build_point_tiles(partials_only=True) into final gzipped tiles by byte
    concatenation, through the same tile writer as the one-stage build.
    Partials merge from ANY partition of the feature set — salt slices, or
    MICRO-BATCHES across a streaming ingest (streaming/tiles.py uses
    batch_id as a time-salt) — because feature blocks index the fixed
    global key/value tables. Rows with the same pkey from different sources
    are ordered by extra_sort_cols (e.g. ("batch_id",)) for deterministic
    tile bytes."""
    extent = tile_size * path_multiplier
    nparts = (num_partitions
              or int(partial.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    salt_bits = _salt_bits(z, n_salts)
    if vocab is None:
        if tuple(props_cols) != ("lang",):
            raise ValueError("merge_point_partials needs the vocab the "
                             "partials were built with")
        vocab = {"lang": PAGES_VALUES}
    write = _point_tile_writer(z, layer_name, props_cols, vocab, extent,
                               compression_level)

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # sorted by pkey → tiles contiguous, partial blocks in salt order
        for arrs, starts, ends in _numpy_batches(
                _with_tkey(batches, salt_bits),
                ["tkey", "fblock", "n_features", "inside1"], ["tkey"]):
            fbl = arrs["fblock"]
            # per-tile totals in one reduceat: anything per TILE in Python
            # must stay O(1) Python ops (about one tile per 1.5 features)
            totals = np.add.reduceat(arrs["n_features"].astype(np.int64),
                                     starts)
            yield write(arrs["tkey"][starts],
                        [b"".join(fbl[s:e]) for s, e in zip(starts, ends)],
                        totals, arrs["inside1"][starts].astype(bool))

    return (partial
            .repartition(nparts, F.shiftright("pkey", salt_bits))
            .sortWithinPartitions("pkey", *extra_sort_cols)
            .mapInPandas(merge, schema=_TILE_SCHEMA))


# ---------------------------------------------------------------------------
# distributed build for arbitrary WKT feature layers (lines/polygons too)
# ---------------------------------------------------------------------------

def build_feature_tiles(df: DataFrame, izer_config: dict | None = None,
                        tile_size: int = DEFAULT_TILE_SIZE,
                        path_multiplier: int = DEFAULT_PATH_MULT,
                        buffer_size: int = 0, tolerance: int = 1,
                        compression_level: int = 6) -> DataFrame:
    """General tile build over (z, x, y, layer, id, props map, wkt) feature
    rows — the Spark translation of `avecado vector-bulk` for non-point
    layers (lines, polygons, multi-*), with an optional post-processor
    pipeline applied per (tile, layer) before encoding (exactly
    backend::stop_tile_layer → post_processor::process_layer →
    encode, reference src/backend.cpp:20-26).

    One applyInPandas group per tile: feature layers are the heavy-geometry
    case (few features, real vertex work) where per-group pandas overhead
    is negligible relative to clipping/encoding; points use
    build_point_tiles' vectorized one-stage path instead.
    """
    from ..functions import wkt as _wkt
    from ..plans.pipeline import PostProcessor

    config = izer_config or {}

    def encode_tile_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        proc = PostProcessor(config) if config else None
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        layers = []
        nf = 0
        for layer_name, g in pdf.groupby("layer", sort=True):
            feats = [{"id": int(r.id),
                      "props": dict(r.props) if r.props is not None else {},
                      "geom": _wkt.loads(r.wkt)}
                     for r in g.itertuples(index=False)]
            if proc is not None:
                izer_feats = [{"id": f["id"], "props": f["props"],
                               "geoms": [f["geom"]]} for f in feats]
                izer_feats, _ = proc.process_layer(izer_feats, layer_name, z,
                                                   tile_size)
                feats = [{"id": f["id"], "props": f["props"], "geom": gm}
                         for f in izer_feats for gm in f["geoms"]]
            layer = make_layer(layer_name, feats, z, x, y, tile_size,
                               path_multiplier, buffer_size, tolerance)
            if layer.features:
                layers.append(layer)
                nf += len(layer.features)
        if not layers:
            return pd.DataFrame({"z": [], "x": [], "y": [], "tile_pbf": [],
                                 "n_features": [], "interesting": []})
        tile_bytes = make_tile_bytes(layers, compression_level)
        interesting = any(mvt.is_interesting(l) for l in layers)
        return pd.DataFrame({"z": [z], "x": [x], "y": [y],
                             "tile_pbf": [tile_bytes], "n_features": [nf],
                             "interesting": [interesting]})

    return (df.groupBy("z", "x", "y")
              .applyInPandas(encode_tile_group, schema=_TILE_SCHEMA))


# ---------------------------------------------------------------------------
# salted two-phase build for FEATURE layers (lines / polygons) — the hot-tile
# treatment build_point_tiles gives points, applied to heavy geometries.
# Requires fixed global key/value tables (that is what makes partial tiles
# mergeable by byte concatenation), so it covers the no-izer path; pipelines
# that need every feature of a (tile, layer) together (unionizer joins
# endpoints ACROSS features) must keep whole groups and use
# build_feature_tiles.
# ---------------------------------------------------------------------------

_FPARTIAL_SCHEMA = ("z int, x long, y long, layer string, salt int, "
                    "fblock binary, n_features long, inside1 boolean")


def _global_prop_tables(df: DataFrame) -> tuple[list[str], list]:
    """Fixed global key/value tables from the props map column, in ONE scan:
    explode → a single agg with two collect_sets (map-side partial agg,
    tiny result — same plan-time role as the point path's vocabulary).
    At scale, pass key_table/val_table explicitly and skip the scan."""
    kv = df.select(F.explode_outer("props").alias("k", "v"))
    row = kv.agg(F.collect_set("k").alias("ks"),
                 F.collect_set("v").alias("vs")).first()
    return sorted(row["ks"]), sorted(row["vs"])


def _izer_static_prop_tables(izer_config: dict) -> tuple[list[str], list]:
    """Keys/values an izer pipeline can ADD to feature props, derived
    statically from the config (no data scan): an adminizer writes
    param_name → one of its datasource values. Raises for pipelines whose
    additions are not statically enumerable or that need whole
    (tile, layer) groups — those must use build_feature_tiles's fused
    single-group path instead of the salted split:

      * unionizer — joins endpoints ACROSS features (a salt slice only
        sees its share of the group), and tag accumulation sums values;
      * collect-mode adminizer — emits delimiter-joined value COMBINATIONS
        (combinatorial, not a static table).
    """
    from ..plans.pipeline import parse_inline_csv
    keys: set[str] = set()
    vals: set = set()
    for _layer, ranges in izer_config.items():
        for rng in ranges:
            for izer in rng["process"]:
                t = izer["type"]
                if t == "unionizer":
                    raise ValueError(
                        "unionizer needs whole (tile, layer) groups; use "
                        "build_feature_tiles(izer_config=...) — the fused "
                        "one-shuffle group path")
                if t == "adminizer":
                    if str(izer.get("collect", "false")) == "true":
                        raise ValueError(
                            "collect-mode adminizer emits joined value "
                            "combinations (no static value table); use "
                            "build_feature_tiles(izer_config=...)")
                    keys.add(izer["param_name"])
                    ds = izer.get("datasource", {})
                    rows = (list(ds["inline_rows"]) if "inline_rows" in ds
                            else parse_inline_csv(ds.get("inline", "")))
                    vals.update(v for _w, v in rows)
                # generalizer / labelizer: geometry-only, no prop additions
    return sorted(keys), sorted(vals)


def build_feature_tiles_salted(df: DataFrame,
                               izer_config: dict | None = None,
                               tile_size: int = DEFAULT_TILE_SIZE,
                               path_multiplier: int = DEFAULT_PATH_MULT,
                               buffer_size: int = 0, tolerance: int = 1,
                               compression_level: int = 6,
                               n_salts: int = 16,
                               key_table: list[str] | None = None,
                               val_table: list | None = None,
                               num_partitions: int | None = None) -> DataFrame:
    """(z, x, y, layer, id, props map, wkt) → (z, x, y, tile_pbf,
    n_features, interesting), two-phase: a hot tile's features spread over
    n_salts partial encodes (phase 1 does ALL geometry work — WKT parse,
    clip, quantize, command encode, protobuf feature bytes), then partials
    merge by byte concatenation per (tile, layer) in phase 2. Feature tags
    index fixed GLOBAL key/value tables, so blocks are position-independent.

    Skew math: the reference's hot urban tile holds ~p fraction of the
    corpus; unsalted, one task gets p·N features. Salted, the max task is
    p·N/n_salts + shuffle of already-encoded bytes (cheap relative to
    geometry work, which is ~100 bytes/feature vs WKT's ~100 chars).

    izer_config: FEATURE-LOCAL post-processors (generalizer, first/split
    adminizer, labelizer) fuse INTO phase 1 — each processes features
    independently, so running them per (tile, layer, salt) slice equals
    running them per whole (tile, layer) group, and the izer+encode
    pipeline costs the same two exchanges as the plain salted build (vs
    three for apply_to_tiles → build). Prop keys/values the izers add are
    derived statically from the config (no extra scan). Group-coupled
    izers (unionizer, collect-mode adminizer) are rejected with a pointer
    to build_feature_tiles's fused whole-group path."""
    from ..functions import wkt as _wkt
    from ..functions.mvt import gzip_bytes as _gzb

    nparts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    nparts = int(nparts)
    extent = tile_size * path_multiplier
    izer_keys: list = []
    izer_vals: list = []
    if izer_config:
        izer_keys, izer_vals = _izer_static_prop_tables(izer_config)
    if key_table is None or val_table is None:
        key_table, val_table = _global_prop_tables(df)
    if izer_config:
        key_table = sorted(set(key_table) | set(izer_keys))
        val_table = sorted(set(val_table) | set(izer_vals))
    kidx = {k: i for i, k in enumerate(key_table)}
    vidx = {(type(v).__name__, v): i for i, v in enumerate(val_table)}

    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("id")), F.lit(n_salts)).cast("int"))

    def phase1(key, pdf: pd.DataFrame) -> pd.DataFrame:
        z, x, y, layer_name, salt = (int(key[0]), int(key[1]), int(key[2]),
                                     str(key[3]), int(key[4]))
        feats = [{"id": int(r.id),
                  "props": dict(r.props) if r.props is not None else {},
                  "geom": _wkt.loads(r.wkt)}
                 for r in pdf.itertuples(index=False)]
        if izer_config:
            from ..plans.pipeline import PostProcessor
            proc = PostProcessor(izer_config)
            izer_feats = [{"id": f["id"], "props": f["props"],
                           "geoms": [f["geom"]]} for f in feats]
            izer_feats, _ = proc.process_layer(izer_feats, layer_name, z,
                                               tile_size)
            feats = [{"id": f["id"], "props": f["props"], "geom": gm}
                     for f in izer_feats for gm in f["geoms"]]
        layer = make_layer(layer_name, feats, z, x, y, tile_size,
                           path_multiplier, buffer_size, tolerance)
        if not layer.features:
            return pd.DataFrame({c: [] for c in
                                 ("z", "x", "y", "layer", "salt", "fblock",
                                  "n_features", "inside1")})
        blocks = []
        for f in layer.features:
            # remap local tag indices onto the global tables
            f.tags = [
                (kidx[layer.keys[t]] if i % 2 == 0
                 else vidx[(type(layer.values[t]).__name__, layer.values[t])])
                for i, t in enumerate(f.tags)]
            blocks.append(_len_delim(2, mvt._encode_feature(f)))
        single = mvt.is_interesting(layer) if len(layer.features) == 1 else True
        return pd.DataFrame({
            "z": [z], "x": [x], "y": [y], "layer": [layer_name],
            "salt": [salt], "fblock": [b"".join(blocks)],
            "n_features": [len(layer.features)], "inside1": [single]})

    partial = (salted.groupBy("z", "x", "y", "layer", "salt")
                     .applyInPandas(phase1, schema=_FPARTIAL_SCHEMA))

    tail_common = (b"".join(_len_delim(3, k.encode("utf-8")) for k in key_table)
                   + b"".join(_len_delim(4, mvt._encode_value(v)) for v in val_table)
                   + _varint_field(5, extent)
                   + _varint_field(15, mvt.MVT_VERSION))
    p2cols = ["z", "x", "y", "layer", "fblock", "n_features", "inside1"]

    def phase2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for arrs, starts, ends in _numpy_batches(batches, p2cols, ["z", "x", "y"]):
            zs = arrs["z"]; xs = arrs["x"]; ys = arrs["y"]
            lays = arrs["layer"]; fbl = arrs["fblock"]
            nf = arrs["n_features"].astype(np.int64)
            ins = arrs["inside1"]
            out = {"z": [], "x": [], "y": [], "tile_pbf": [],
                   "n_features": [], "interesting": []}
            for st, e in zip(starts, ends):
                tile = b""
                i = st
                while i < e:  # layers contiguous (sorted), salts in order
                    j = i
                    while j < e and lays[j] == lays[i]:
                        j += 1
                    body = (_len_delim(1, str(lays[i]).encode("utf-8"))
                            + b"".join(fbl[i:j]) + tail_common)
                    tile += _len_delim(3, body)
                    i = j
                if compression_level > 0:
                    tile = _gzb(tile, compression_level)
                total = int(nf[st:e].sum())
                out["z"].append(int(zs[st])); out["x"].append(int(xs[st]))
                out["y"].append(int(ys[st])); out["tile_pbf"].append(tile)
                out["n_features"].append(total)
                out["interesting"].append(True if total > 1 else bool(ins[st]))
            yield pd.DataFrame(out)

    return (partial
            .repartition(nparts, "z", "x", "y")
            .sortWithinPartitions("z", "x", "y", "layer", "salt")
            .mapInPandas(phase2, schema=_TILE_SCHEMA))
