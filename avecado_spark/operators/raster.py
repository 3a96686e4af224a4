"""Raster leg: render a vector tile to an RGBA PNG.

Reference: /root/reference/src/render_vector_tile.cpp:63-97 (per style
layer, decode tile geometries and rasterize), pinned by the two pixel tests
in /root/reference/test/render_vector_tile.cpp:23-40 (empty tile → every
pixel = background colour) and :42-110 (single full-cover polygon → every
pixel = fill colour).

Mapnik's AGG renderer is not available here; this is a from-scratch numpy
scanline rasterizer (even-odd rule, pixel centers) plus a hand-rolled PNG
encoder (zlib is stdlib). Styling is a {layer_name: fill_rgba} dict — the
render-time layer↔tile-layer name join of the reference (J5,
render_vector_tile.cpp:33-56).

Spark surface: `render_tiles` maps (z, x, y, tile_pbf) → (z, x, y, png)
via an Arrow-batched UDF; each tile rasterizes independently (the same
per-tile parallelism as the reference's raster export loop).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..functions import mvt


# ---------------------------------------------------------------------------
# PNG encoder (RGBA8, no external deps)
# ---------------------------------------------------------------------------

def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def png_encode(rgba: np.ndarray) -> bytes:
    """(h, w, 4) uint8 → PNG bytes (filter 0 rows, zlib level 6)."""
    h, w = rgba.shape[:2]
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    return (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(raw, 6))
            + _chunk(b"IEND", b""))


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def png_decode(data: bytes) -> np.ndarray:
    """Pure-numpy PNG decoder — the matching half of png_encode: 8-bit
    depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA), all
    five scanline filters (None/Sub/Up/Average/Paeth), no interlace.
    Returns (h, w, channels) uint8. Sub is a per-channel cumulative sum
    mod 256 (vectorized); Average/Paeth walk pixels with the channel axis
    vectorized. A malformed stream raises ValueError saying what is wrong;
    a valid PNG this decoder does not cover raises NotImplementedError."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    idat = []
    w = h = channels = None
    while pos + 8 <= len(data):
        ln = struct.unpack(">I", data[pos:pos + 4])[0]
        tag = data[pos + 4:pos + 8]
        if pos + 12 + ln > len(data):
            raise ValueError(f"PNG: {tag!r} chunk of {ln} bytes at byte {pos} "
                             f"runs past the end of the {len(data)}-byte "
                             "stream (truncated)")
        payload = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            if ln != 13:
                raise ValueError(f"PNG: IHDR chunk is {ln} bytes, not 13")
            w, h, depth, ctype, _comp, _filt, inter = struct.unpack(
                ">IIBBBBB", payload)
            if depth != 8 or inter != 0 or ctype == 3:
                raise NotImplementedError(
                    "png_decode supports 8-bit non-interlaced PNGs of "
                    f"colour type 0, 2, 4 or 6 (got depth {depth}, "
                    f"colour type {ctype}, interlace {inter})")
            if ctype not in (0, 2, 4, 6):
                raise ValueError(f"PNG: invalid colour type {ctype}")
            channels = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"PNG: corrupt IDAT stream ({e})") from e
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT size mismatch")
    out = np.empty((h, w, channels), dtype=np.uint8)
    prev = np.zeros((w, channels), dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        f = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride,
                             offset=off + 1).reshape(w, channels)
        if f == 0:            # None
            cur = line.copy()
        elif f == 1:          # Sub: recon = prefix-sum per channel mod 256
            cur = np.cumsum(line, axis=0, dtype=np.uint64).astype(np.uint8)
        elif f == 2:          # Up (uint8 addition wraps mod 256)
            cur = line + prev
        elif f == 3:          # Average (sequential in x, vector in channel)
            cur = np.empty_like(line)
            left = np.zeros(channels, dtype=np.uint16)
            for x in range(w):
                cur[x] = line[x] + ((left + prev[x]) >> 1).astype(np.uint8)
                left = cur[x].astype(np.uint16)
        elif f == 4:          # Paeth
            cur = np.empty_like(line)
            left = np.zeros(channels, dtype=np.int16)
            ul = np.zeros(channels, dtype=np.int16)
            for x in range(w):
                up = prev[x].astype(np.int16)
                p = left + up - ul
                pa, pb, pc = (np.abs(p - left), np.abs(p - up),
                              np.abs(p - ul))
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, up, ul))
                cur[x] = line[x] + pred.astype(np.uint8)
                left = cur[x].astype(np.int16)
                ul = up
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur
        prev = cur
    return out


# ---------------------------------------------------------------------------
# scanline polygon fill (even-odd, pixel centers)
# ---------------------------------------------------------------------------

def fill_polygon(img: np.ndarray, rings: list[np.ndarray], rgba) -> None:
    """Fill polygon (rings in pixel coords, y down) into img (h, w, 4)."""
    h, w = img.shape[:2]
    edges = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) < 3:
            continue
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        edges.append((r[:-1], r[1:]))
    if not edges:
        return
    a = np.vstack([e[0] for e in edges])
    b = np.vstack([e[1] for e in edges])
    ys = np.arange(h) + 0.5
    y0 = np.minimum(a[:, 1], b[:, 1])
    y1 = np.maximum(a[:, 1], b[:, 1])
    for yi, y in enumerate(ys):
        m = (y0 <= y) & (y < y1)
        if not m.any():
            continue
        aa, bb = a[m], b[m]
        t = (y - aa[:, 1]) / (bb[:, 1] - aa[:, 1])
        xs = np.sort(aa[:, 0] + t * (bb[:, 0] - aa[:, 0]))
        for i in range(0, len(xs) - 1, 2):
            x0 = int(np.ceil(xs[i] - 0.5))
            x1 = int(np.floor(xs[i + 1] - 0.5))
            if x1 >= x0:
                img[yi, max(x0, 0):min(x1 + 1, w)] = rgba


def draw_line(img: np.ndarray, pts: np.ndarray, rgba) -> None:
    """1px line stroke (sampled)."""
    h, w = img.shape[:2]
    for i in range(len(pts) - 1):
        p, q = pts[i], pts[i + 1]
        n = int(max(abs(q[0] - p[0]), abs(q[1] - p[1]))) + 1
        t = np.linspace(0, 1, n + 1)
        xs = np.clip((p[0] + t * (q[0] - p[0])).astype(int), 0, w - 1)
        ys = np.clip((p[1] + t * (q[1] - p[1])).astype(int), 0, h - 1)
        img[ys, xs] = rgba


# ---------------------------------------------------------------------------
# tile renderer
# ---------------------------------------------------------------------------

def render_tile(tile_bytes: bytes | None, styles: dict[str, tuple],
                background: tuple = (0x8C, 0xC6, 0x3F, 0xFF),
                tile_size: int = 256) -> np.ndarray:
    """Decode an MVT tile and rasterize styled layers over a background.

    styles: {layer_name: (r, g, b, a)} — only named layers render
    (the J5 name join). Unstyled layers are skipped, like style-less
    Mapnik layers."""
    img = np.empty((tile_size, tile_size, 4), dtype=np.uint8)
    img[:, :] = background
    if not tile_bytes:
        return img
    tile = mvt.decode_tile(bytes(tile_bytes))
    for layer in tile.layers:
        style = styles.get(layer.name)
        if style is None:
            continue
        scale = tile_size / float(layer.extent)
        for feat in layer.features:
            paths = mvt.decode_geometry(feat.geometry, feat.type)
            px = [(np.column_stack([xs, ys]) * scale) for xs, ys in paths]
            if feat.type == mvt.GEOM_POLYGON:
                fill_polygon(img, px, style)
            elif feat.type == mvt.GEOM_LINESTRING:
                for p in px:
                    draw_line(img, p, style)
            else:
                for p in px:
                    ip = np.clip(p.astype(int), 0, tile_size - 1)
                    img[ip[:, 1], ip[:, 0]] = style
    return img


def render_tile_png(tile_bytes: bytes | None, styles: dict[str, tuple],
                    background: tuple = (0x8C, 0xC6, 0x3F, 0xFF),
                    tile_size: int = 256) -> bytes:
    return png_encode(render_tile(tile_bytes, styles, background, tile_size))


# ---------------------------------------------------------------------------
# styled renderer — the Mapnik-rule config surface for the raster leg
# (reference render_vector_tile.cpp:25-59 loads a full Mapnik style and
# applies it per layer; this is the JSON subset a styled map needs beyond
# flat fills: draw-ordered rules, tag filters, alpha compositing, stroked
# line widths, point markers)
# ---------------------------------------------------------------------------

def parse_color(s) -> np.ndarray:
    """'#rrggbb' / '#rrggbbaa' (or an (r,g,b[,a]) tuple) → uint8 RGBA."""
    if isinstance(s, (tuple, list, np.ndarray)):
        v = list(s) + [255] * (4 - len(s))
        return np.array(v[:4], dtype=np.uint8)
    t = s.lstrip("#")
    if len(t) == 6:
        t += "ff"
    if len(t) != 8:
        raise ValueError(f"bad color {s!r}")
    return np.array([int(t[i:i + 2], 16) for i in (0, 2, 4, 6)],
                    dtype=np.uint8)


def _blend_into(img: np.ndarray, mask: np.ndarray, rgba: np.ndarray) -> None:
    """src-over composite rgba into img where mask (premultiplied-free
    integer math; a=255 reduces to assignment)."""
    a = int(rgba[3])
    if a == 0 or not mask.any():
        return
    if a == 255:
        img[mask] = rgba
        return
    dst = img[mask].astype(np.uint16)
    src = rgba.astype(np.uint16)
    out = dst.copy()
    out[:, :3] = (src[:3] * a + dst[:, :3] * (255 - a) + 127) // 255
    out[:, 3] = np.minimum(255, a + (dst[:, 3] * (255 - a) + 127) // 255)
    img[mask] = out.astype(np.uint8)


def _mask_polygon(shape, rings) -> np.ndarray:
    m = np.zeros((*shape, 4), dtype=np.uint8)
    fill_polygon(m, rings, (255, 255, 255, 255))
    return m[:, :, 3] > 0


def _mask_line(shape, pts: np.ndarray, width: float) -> np.ndarray:
    """Stroke mask: pixel centers within width/2 of any segment (exact
    point-segment distance over the pixel grid near each segment's bbox)."""
    h, w = shape
    mask = np.zeros(shape, dtype=bool)
    r = max(width / 2.0, 0.5)
    for i in range(len(pts) - 1):
        (x0, y0), (x1, y1) = pts[i], pts[i + 1]
        lo_x = max(int(np.floor(min(x0, x1) - r)), 0)
        hi_x = min(int(np.ceil(max(x0, x1) + r)) + 1, w)
        lo_y = max(int(np.floor(min(y0, y1) - r)), 0)
        hi_y = min(int(np.ceil(max(y0, y1) + r)) + 1, h)
        if lo_x >= hi_x or lo_y >= hi_y:
            continue
        gx = np.arange(lo_x, hi_x) + 0.5
        gy = (np.arange(lo_y, hi_y) + 0.5)[:, None]
        dx, dy = x1 - x0, y1 - y0
        seg2 = dx * dx + dy * dy
        if seg2 == 0:
            d2 = (gx - x0) ** 2 + (gy - y0) ** 2
        else:
            t = np.clip(((gx - x0) * dx + (gy - y0) * dy) / seg2, 0.0, 1.0)
            d2 = (gx - (x0 + t * dx)) ** 2 + (gy - (y0 + t * dy)) ** 2
        mask[lo_y:hi_y, lo_x:hi_x] |= d2 <= r * r
    return mask


def _mask_points(shape, pts: np.ndarray, radius: float) -> np.ndarray:
    h, w = shape
    mask = np.zeros(shape, dtype=bool)
    r = max(radius, 0.5)
    for x0, y0 in pts:
        lo_x = max(int(np.floor(x0 - r)), 0)
        hi_x = min(int(np.ceil(x0 + r)) + 1, w)
        lo_y = max(int(np.floor(y0 - r)), 0)
        hi_y = min(int(np.ceil(y0 + r)) + 1, h)
        if lo_x >= hi_x or lo_y >= hi_y:
            continue
        gx = np.arange(lo_x, hi_x) + 0.5
        gy = (np.arange(lo_y, hi_y) + 0.5)[:, None]
        mask[lo_y:hi_y, lo_x:hi_x] |= \
            (gx - x0) ** 2 + (gy - y0) ** 2 <= r * r
    return mask


def _feature_props(layer, feat) -> dict:
    t = feat.tags
    return {layer.keys[t[i]]: layer.values[t[i + 1]]
            for i in range(0, len(t) - 1, 2)}


def _match(filt: dict | None, props: dict) -> bool:
    """Rule filter: {'key': k, 'equals': v} or {'key': k, 'in': [...]} —
    the [key] = value Mapnik rule filters the reference styles use."""
    if not filt:
        return True
    v = props.get(filt["key"])
    if "equals" in filt:
        return v == filt["equals"]
    if "in" in filt:
        return v in filt["in"]
    return v is not None  # bare key filter: presence


def render_tile_styled(tile_bytes: bytes | None, style: dict,
                       tile_size: int = 256,
                       request_zxy: tuple[int, int, int] | None = None,
                       data_zxy: tuple[int, int, int] | None = None) -> np.ndarray:
    """Render with a Mapnik-rule style document:

        {"background": "#rrggbb[aa]",
         "layers": [                     # draw order
           {"layer": <name>, "filter": {"key": k, "equals"|"in": v}?,
            "polygon": {"fill": color}?,
            "line":    {"stroke": color, "width": px}?,
            "point":   {"fill": color, "radius": px}?}, ...]}

    Rules apply in document order (painter's algorithm); colors composite
    src-over, so translucent fills layer like Mapnik's. A rule draws only
    features whose geometry type matches its symbolizer(s) and whose tags
    pass the filter.

    OVERZOOM (reference render_vector_tile.cpp:43-47: the tile_datasource
    carries the DATA tile's z/x/y while the Map renders the REQUEST's
    coords): pass request_zxy=(z,x,y) and data_zxy for the ancestor tile
    that served it (fetch_tiles_overzoom's served_z/x/y). When
    request z > data z the renderer scales the ancestor's geometry up
    2^dz and shifts to the requested quadrant — the request viewport is
    the extent/2^dz sub-square of the data tile at offset
    ((x - (dx<<dz)) * extent/2^dz, (y - (dy<<dz)) * ...). Geometry
    outside the viewport lands off-image and is clipped by the masks."""
    dz = 0
    qx = qy = 0
    if request_zxy is not None and data_zxy is not None:
        zr, xr, yr = request_zxy
        zd, xd, yd = data_zxy
        if zr < zd:
            raise ValueError(f"request z {zr} below data z {zd}")
        dz = zr - zd
        if (xr >> dz) != xd or (yr >> dz) != yd:
            raise ValueError(
                f"tile ({zr},{xr},{yr}) is not a descendant of "
                f"({zd},{xd},{yd})")
        qx = xr - (xd << dz)
        qy = yr - (yd << dz)
    bg = parse_color(style.get("background", "#8cc63f"))
    img = np.empty((tile_size, tile_size, 4), dtype=np.uint8)
    img[:, :] = bg
    if not tile_bytes:
        return img
    tile = mvt.decode_tile(bytes(tile_bytes))
    by_name = {l.name: l for l in tile.layers}
    shape = (tile_size, tile_size)
    for rule in style.get("layers", []):
        layer = by_name.get(rule["layer"])
        if layer is None:
            continue
        span = float(layer.extent) / (1 << dz)
        scale = tile_size / span
        ox, oy = qx * span, qy * span
        filt = rule.get("filter")
        for feat in layer.features:
            if not _match(filt, _feature_props(layer, feat)):
                continue
            paths = mvt.decode_geometry(feat.geometry, feat.type)
            px = [(np.column_stack([xs, ys]) - (ox, oy)) * scale
                  for xs, ys in paths]
            if feat.type == mvt.GEOM_POLYGON and "polygon" in rule:
                _blend_into(img, _mask_polygon(shape, px),
                            parse_color(rule["polygon"]["fill"]))
            elif feat.type == mvt.GEOM_LINESTRING and "line" in rule:
                c = parse_color(rule["line"]["stroke"])
                wd = float(rule["line"].get("width", 1.0))
                for p in px:
                    _blend_into(img, _mask_line(shape, p, wd), c)
            elif feat.type == mvt.GEOM_POINT and "point" in rule:
                c = parse_color(rule["point"]["fill"])
                rad = float(rule["point"].get("radius", 1.0))
                for p in px:
                    _blend_into(img, _mask_points(shape, p, rad), c)
    return img


def render_tiles_styled(df, style: dict, tile_size: int = 256):
    """Spark surface for the styled renderer: (z, x, y, tile_pbf, ...) →
    (z, x, y, png binary); one Arrow batch pass, tiles independent."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "z": pdf["z"], "x": pdf["x"], "y": pdf["y"],
                "png": [png_encode(render_tile_styled(b, style, tile_size))
                        for b in pdf["tile_pbf"]],
            })

    return df.select("z", "x", "y", "tile_pbf").mapInPandas(
        run, schema="z int, x long, y long, png binary")


def render_tiles_styled_overzoom(df, style: dict, tile_size: int = 256):
    """Overzoom-aware Spark renderer: consumes fetch_tiles_overzoom's
    shape — requested (z, x, y), serving ancestor (served_z, served_x,
    served_y), tile_pbf — and renders each REQUESTED tile by scaling the
    ancestor's data into the child frame (render_vector_tile.cpp:43-47).
    Same-zoom rows (served_z == z) render like render_tiles_styled."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            pngs = []
            for r in pdf.itertuples(index=False):
                img = render_tile_styled(
                    r.tile_pbf, style, tile_size,
                    request_zxy=(int(r.z), int(r.x), int(r.y)),
                    data_zxy=(int(r.served_z), int(r.served_x),
                              int(r.served_y)))
                pngs.append(png_encode(img))
            yield pd.DataFrame({
                "z": pdf["z"], "x": pdf["x"], "y": pdf["y"],
                "png": pngs,
            })

    return df.select("z", "x", "y", "served_z", "served_x", "served_y",
                     "tile_pbf").mapInPandas(
        run, schema="z int, x long, y long, png binary")


def render_tiles(df, styles: dict[str, tuple],
                 background: tuple = (0x8C, 0xC6, 0x3F, 0xFF),
                 tile_size: int = 256):
    """Spark surface: (z, x, y, tile_pbf, ...) → (z, x, y, png binary)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = pd.DataFrame({
                "z": pdf["z"], "x": pdf["x"], "y": pdf["y"],
                "png": [render_tile_png(b, styles, background, tile_size)
                        for b in pdf["tile_pbf"]],
            })
            yield out

    return df.select("z", "x", "y", "tile_pbf").mapInPandas(
        run, schema="z int, x long, y long, png binary")


def render_tiles_stats(df, styles: dict[str, tuple],
                       background: tuple = (0x8C, 0xC6, 0x3F, 0xFF),
                       tile_size: int = 256):
    """(z, x, y, tile_pbf, …) → (z, x, y, n_painted): run the real
    scanline rasterizer per tile and count pixels that differ from the
    background. For a point layer this is the distinct-quantized-pixel
    count — SQL-derivable from the page coordinates through the same MVT
    quantization the encoder uses, which gives the raster leg an
    oracle-checkable twin (pixel BYTES stay pinned by the PNG goldens)."""
    import pandas as pd

    bg = np.array(background, dtype=np.uint8)

    def n_painted(tile_bytes) -> int:
        img = render_tile(tile_bytes, styles, background, tile_size)
        return int(((img != bg).any(axis=2)).sum())

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "z": pdf["z"], "x": pdf["x"], "y": pdf["y"],
                "n_painted": [n_painted(b) for b in pdf["tile_pbf"]],
            })

    return df.select("z", "x", "y", "tile_pbf").mapInPandas(
        run, schema="z int, x long, y long, n_painted long")


def vectorize_tiles(df, background: tuple = (0x8C, 0xC6, 0x3F, 0xFF)):
    """Raster → vector: explode rendered PNG tiles back into per-pixel
    point features — the inverse leg of render_tiles (north-rule
    "raster<->vector"). Input (z, x, y, png binary); output one row per
    non-background pixel: (z, x, y, px, py, r, g, b). Runs the real PNG
    decoder per tile, map-side (no shuffle: tiles in, pixel rows out
    within the same task)."""
    import pandas as pd

    bg = np.array(background, dtype=np.uint8)

    def run(batches):
        for pdf in batches:
            zs, xs, ys = [], [], []
            pxs, pys = [], []
            rs, gs, bs = [], [], []
            for z, x, y, png in zip(pdf["z"], pdf["x"], pdf["y"],
                                    pdf["png"]):
                try:
                    img = png_decode(bytes(png))
                except (ValueError, NotImplementedError) as e:
                    raise type(e)(f"raster tile {z}/{x}/{y}: {e}") from e
                if img.shape[2] < 4:
                    img = np.concatenate(
                        [img] + [np.full(img.shape[:2] + (1,), 255,
                                         dtype=np.uint8)] * (4 - img.shape[2]),
                        axis=2)
                mask = (img != bg).any(axis=2)
                yy, xx = np.nonzero(mask)
                n = len(xx)
                zs.append(np.full(n, z)); xs.append(np.full(n, x))
                ys.append(np.full(n, y))
                pxs.append(xx); pys.append(yy)
                rs.append(img[yy, xx, 0]); gs.append(img[yy, xx, 1])
                bs.append(img[yy, xx, 2])
            if not zs:
                continue
            yield pd.DataFrame({
                "z": np.concatenate(zs).astype(np.int32),
                "x": np.concatenate(xs).astype(np.int64),
                "y": np.concatenate(ys).astype(np.int64),
                "px": np.concatenate(pxs).astype(np.int32),
                "py": np.concatenate(pys).astype(np.int32),
                "r": np.concatenate(rs).astype(np.int32),
                "g": np.concatenate(gs).astype(np.int32),
                "b": np.concatenate(bs).astype(np.int32),
            })

    return df.select("z", "x", "y", "png").mapInPandas(
        run, schema="z int, x long, y long, px int, py int, "
                    "r int, g int, b int")
