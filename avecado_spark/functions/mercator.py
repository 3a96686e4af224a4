"""Web-Mercator tile math.

Semantics from the reference:
  - box_for_tile:      /root/reference/src/util.cpp:8-17
  - meters_per_pixel:  /root/reference/src/post_processor.cpp:17-29
  - XYZ addressing:    /root/reference/include/fetcher.hpp:55-58
    (x grows west→east, y grows north→south, valid range 0..2^z-1,
     range checks /root/reference/src/http_server/mapnik_request_handler.cpp:127-140)
  - overzoom ancestor: /root/reference/src/fetch/overzoom.cpp:14-23
    (z' = min(z, max_z); x' = x >> (z-z'); y' = y >> (z-z'))

Two parallel implementations are provided:
  * numpy kernels (used inside pandas UDFs for the encode path), and
  * the integer tile assignment as Spark Column expressions
    (`tile_x_expr`/`tile_y_expr`) with DuckDB SQL twins (`tile_x_sql`/
    `tile_y_sql`).

The *integer* tile-assignment path (`tile_x_expr`/`tile_y_expr` over
millimeter-precision mercator integers) is deliberately transcendental-free:
floor of a bigint division. That makes the result bit-identical across Spark,
numpy, and the DuckDB correctness oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

WORLD_SIZE = 40075016.68  # meters (reference src/util.cpp:3)
HALF_WORLD = 0.5 * WORLD_SIZE
WORLD_MM = 40075016680  # integer millimeters
HALF_WORLD_MM = WORLD_MM // 2


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------

def box_for_tile(z, x, y):
    """Mercator bbox (minx, miny, maxx, maxy) of tile (z, x, y).

    Exact formula of reference src/util.cpp:8-17.
    Accepts scalars or numpy arrays.
    """
    z = np.asarray(z)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    scale = WORLD_SIZE / np.power(2.0, z.astype(np.float64))
    return (
        x * scale - HALF_WORLD,
        HALF_WORLD - (y + 1) * scale,
        (x + 1) * scale - HALF_WORLD,
        HALF_WORLD - y * scale,
    )


def meters_per_pixel(z, tile_px: int = 256):
    """Scale at zoom z (reference src/post_processor.cpp:17-29)."""
    return WORLD_SIZE / tile_px / np.power(2.0, np.asarray(z, dtype=np.float64))


def lonlat_to_mercator(lon, lat):
    """EPSG:4326 → EPSG:3857 meters (spherical mercator on the
    WORLD_SIZE circumference the reference uses)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    mx = lon / 360.0 * WORLD_SIZE
    siny = np.sin(np.radians(lat))
    my = np.log((1.0 + siny) / (1.0 - siny)) * (WORLD_SIZE / (4.0 * np.pi))
    return mx, my


def mercator_to_lonlat(mx, my):
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    lon = mx / WORLD_SIZE * 360.0
    lat = np.degrees(2.0 * np.arctan(np.exp(my / (WORLD_SIZE / (2.0 * np.pi)))) - np.pi / 2.0)
    return lon, lat


def tile_for_mercator(mx, my, z):
    """(z, x, y) tile containing a mercator point; XYZ scheme
    (y grows southward — inverse of box_for_tile)."""
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    n = np.int64(1) << z
    tx = np.floor((mx + HALF_WORLD) / WORLD_SIZE * n).astype(np.int64)
    ty = np.floor((HALF_WORLD - my) / WORLD_SIZE * n).astype(np.int64)
    return np.clip(tx, 0, n - 1), np.clip(ty, 0, n - 1)


def mercator_to_tile_px(mx, my, z, x, y, extent: int = 4096):
    """Mercator meters → integer tile-local coordinates for tile (z,x,y).

    extent = tile_pixels * path_multiplier (256*16 = 4096 default;
    reference src/avecado_exporter.cpp:57-59, asserted test/util_tile.cpp:29).
    Tile-local y grows downward (screen coords).
    """
    minx, miny, maxx, maxy = box_for_tile(z, x, y)
    span = maxx - minx
    px = np.rint((np.asarray(mx, dtype=np.float64) - minx) / span * extent).astype(np.int64)
    py = np.rint((maxy - np.asarray(my, dtype=np.float64)) / span * extent).astype(np.int64)
    return px, py


def zigzag_encode(v):
    """int32 delta → uint zigzag (reference decode at src/util_tile.cpp:80-82)."""
    v = np.asarray(v, dtype=np.int64)
    return (v << 1) ^ (v >> 63)


def zigzag_decode(v):
    v = np.asarray(v, dtype=np.int64)
    return (v >> 1) ^ (-(v & 1))


def ancestor_tile(z, x, y, max_z):
    """Overzoom remap: reference src/fetch/overzoom.cpp:14-23."""
    z = np.asarray(z)
    dz = np.maximum(z - max_z, 0)
    return np.minimum(z, max_z), np.asarray(x) >> dz, np.asarray(y) >> dz


# ---------------------------------------------------------------------------
# Spark Column expressions (declarative path — Catalyst-optimizable)
# ---------------------------------------------------------------------------

# a (= shifted mercator mm) < WORLD_MM < 2^36, so a * 2^z stays below 2^63
# only for z <= _SPLIT_Z. Deeper zooms use the exact two-step decomposition
#   floor(a*2^z / W) = q1 * 2^(z-k) + floor(r1 * 2^(z-k) / W)
# with q1 = (a*2^k) div W, r1 = (a*2^k) mod W  (identity: a*2^z =
# (q1*W + r1) * 2^(z-k); first summand integral). Every intermediate fits:
# a*2^k < 2^(36+k), r1 < W < 2^36, r1*2^(z-k) < 2^(36+z-k) — pick k = 14
# (z <= 30 → both < 2^52). Same operator set (div/%) in both engines.
_SPLIT_Z = 27
_SPLIT_K = 14


def _tile_div(a_expr: str, z: int, div: str, mod: str) -> str:
    if z <= _SPLIT_Z:
        return f"((({a_expr}) * {1 << z}) {div} {WORLD_MM})"
    k, rest = _SPLIT_K, z - _SPLIT_K
    ak = f"(({a_expr}) * {1 << k})"
    return (f"((({ak}) {div} {WORLD_MM}) * {1 << rest}"
            f" + ((({ak}) {mod} {WORLD_MM}) * {1 << rest}) {div} {WORLD_MM})")


def tile_x_expr(mx_mm_expr: str, z: int) -> Column:
    """Tile x from integer mercator millimeters. Pure bigint math so the
    DuckDB oracle is bit-identical: ((mx+W/2) * 2^z) div W, with the exact
    two-step split above z=27 (the single product would overflow int64).

    Takes a SQL expression string (not a Column) because Spark's integer
    division is the `div` operator — double `/` would lose exactness for
    products above 2^53. Operands are guaranteed positive (synthesis clamps
    mx to (-W/2, W/2)), so truncating div == floor in both Spark and DuckDB.
    """
    return F.expr(_tile_div(f"(({mx_mm_expr}) + {HALF_WORLD_MM}L)", z,
                            "div", "%"))


def tile_y_expr(my_mm_expr: str, z: int) -> Column:
    return F.expr(_tile_div(f"({HALF_WORLD_MM}L - ({my_mm_expr}))", z,
                            "div", "%"))


def tile_x_sql(mx_mm_expr: str, z: int) -> str:
    """DuckDB-oracle twin of tile_x_expr (// is bigint division there)."""
    return _tile_div(f"(({mx_mm_expr}) + {HALF_WORLD_MM})", z, "//", "%")


def tile_y_sql(my_mm_expr: str, z: int) -> str:
    return _tile_div(f"({HALF_WORLD_MM} - ({my_mm_expr}))", z, "//", "%")
