"""Driver-contract query registry.

Each entry couples a Spark implementation (spark, sf_dir) -> DataFrame with a
DuckDB oracle SQL string over the driver's pre-registered views (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings). Column names/aliases are kept identical on both sides — the
driver sorts columns by name and value-hashes, so every computed column is
aliased the same way in Spark code and SQL text.

Queries whose semantics are not SQL-expressible (MVT byte assembly, izer
pipelines) register with oracle=None → the driver records a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.keys import _GEO_RE as GEO_RE  # canonical geo-marker pattern
from .operators.keys import geocode, with_tile_keys
from .sources.pages import pages_df, pages_oracle_sql

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, oracle)
        return fn
    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Oracle-backed queries first, rows-only (oracle=None) last: a harness
    # that caps the number of checked queries then truncates rows-only
    # entries (already pinned by pixel/fixture tests), never a hash-checked
    # one (r04: the 51st-registered query fell off a 50-entry artifact).
    ordered = sorted(_REGISTRY.items(), key=lambda kv: kv[1][1] is None)
    return {k: v[0] for k, v in ordered}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


# ---------------------------------------------------------------------------
# shared oracle fragments
# ---------------------------------------------------------------------------

PAGES = pages_oracle_sql()

# geocode in DuckDB: regexp_extract of the same pattern keys.geocode runs
GEO_SQL = f"""(
  SELECT url, text, lang,
         CAST(regexp_extract(text, '{GEO_RE}', 1) AS BIGINT) AS mx_mm,
         CAST(regexp_extract(text, '{GEO_RE}', 2) AS BIGINT) AS my_mm
  FROM {PAGES} p
)"""


def _geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geocoded pages, slim projection, geocode-ONCE semantics (the north
    star's 'lat/lon extracted once from text'): the first caller in a
    session pays the text scan + keys.geocode (a JVM-side regexp_extract,
    no Python boundary); every later geo query reuses the cached
    (url, mx_mm, my_mm) table — the sandbox analog of materializing the
    geocoded table once at corpus scale (at 100 TB this is a written
    table, not a cache; same one-generation persist_latest the dedup
    signature pipeline uses). No current consumer reads text/html
    downstream of _geo, so the cached footprint is four slim columns
    (lang rides along for the raster tile build — r08)."""
    from .operators.dedup import persist_latest
    return persist_latest(
        f"geo:{sf_dir}",
        geocode(pages_df(spark, sf_dir)).select("url", "mx_mm", "my_mm",
                                                "lang"),
        reuse=True)


# ---------------------------------------------------------------------------
# S1/P2 — scan with mercator bbox predicate pushdown
# ---------------------------------------------------------------------------

_BBOX = (-9000000000, 4000000000, -7000000000, 6000000000)  # mm; covers city 0


@register("s1_scan_bbox_filter", f"""
  SELECT url, mx_mm, my_mm FROM {GEO_SQL} g
  WHERE mx_mm BETWEEN {_BBOX[0]} AND {_BBOX[2]}
    AND my_mm BETWEEN {_BBOX[1]} AND {_BBOX[3]}
""")
def s1_scan_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P2 (SURVEY §2.1/§2.2): bbox-windowed feature scan
    (reference make_vector_tile.cpp:30-33 query over buffered tile bbox)."""
    g = _geo(spark, sf_dir)
    return (g.where(F.col("mx_mm").between(_BBOX[0], _BBOX[2])
                    & F.col("my_mm").between(_BBOX[1], _BBOX[3]))
             .select("url", "mx_mm", "my_mm"))


# ---------------------------------------------------------------------------
# tile assignment / pyramid (A1 grouping, J4 ancestor, F1 box)
# ---------------------------------------------------------------------------

from .functions.mercator import (HALF_WORLD, WORLD_SIZE, tile_x_expr,
                                 tile_x_sql, tile_y_expr, tile_y_sql)


@register("tile_assign_z14", f"""
  SELECT {tile_x_sql('mx_mm', 14)} AS x, {tile_y_sql('my_mm', 14)} AS y,
         COUNT(*) AS n_docs
  FROM {GEO_SQL} g GROUP BY 1, 2
""")
def tile_assign_z14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (SURVEY §2.4): the tile build's grouping — docs per z14 tile.
    Exact integer math (bit-identical to the oracle)."""
    g = _geo(spark, sf_dir)
    return (g.select(tile_x_expr("mx_mm", 14).alias("x"),
                     tile_y_expr("my_mm", 14).alias("y"))
             .groupBy("x", "y").agg(F.count("*").alias("n_docs")))


@register("j4_overzoom_ancestor", f"""
  WITH t AS (
    SELECT {tile_x_sql('mx_mm', 16)} AS x16, {tile_y_sql('my_mm', 16)} AS y16
    FROM {GEO_SQL} g
  )
  SELECT (x16 // 4) AS x14, (y16 // 4) AS y14, COUNT(*) AS n_docs
  FROM t GROUP BY 1, 2
""")
def j4_overzoom_ancestor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (SURVEY §2.3): overzoom ancestor lookup — z16 keys right-shifted
    to their z14 ancestors (reference overzoom.cpp:14-23)."""
    g = _geo(spark, sf_dir)
    t = g.select(tile_x_expr("mx_mm", 16).alias("x16"),
                 tile_y_expr("my_mm", 16).alias("y16"))
    return (t.select(F.shiftright("x16", 2).alias("x14"),
                     F.shiftright("y16", 2).alias("y14"))
             .groupBy("x14", "y14").agg(F.count("*").alias("n_docs")))


@register("f1_box_for_tile", f"""
  WITH t AS (
    SELECT DISTINCT {tile_x_sql('mx_mm', 6)} AS x, {tile_y_sql('my_mm', 6)} AS y
    FROM {GEO_SQL} g
  )
  SELECT x, y,
    x * ({WORLD_SIZE!r} / 64.0) - {HALF_WORLD!r} AS minx,
    {HALF_WORLD!r} - (y + 1) * ({WORLD_SIZE!r} / 64.0) AS miny,
    (x + 1) * ({WORLD_SIZE!r} / 64.0) - {HALF_WORLD!r} AS maxx,
    {HALF_WORLD!r} - y * ({WORLD_SIZE!r} / 64.0) AS maxy
  FROM t
""")
def f1_box_for_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (SURVEY §2.8): box_for_tile as a column expression
    (reference util.cpp:8-17). Same IEEE op order as the oracle."""
    g = _geo(spark, sf_dir)
    t = (g.select(tile_x_expr("mx_mm", 6).alias("x"),
                  tile_y_expr("my_mm", 6).alias("y")).distinct())
    scale = F.lit(WORLD_SIZE) / F.lit(64.0)
    return t.select(
        "x", "y",
        (F.col("x") * scale - F.lit(HALF_WORLD)).alias("minx"),
        (F.lit(HALF_WORLD) - (F.col("y") + F.lit(1)) * scale).alias("miny"),
        ((F.col("x") + F.lit(1)) * scale - F.lit(HALF_WORLD)).alias("maxx"),
        (F.lit(HALF_WORLD) - F.col("y") * scale).alias("maxy"))


@register("a2_layer_envelope", f"""
  WITH t AS (
    SELECT {tile_x_sql('mx_mm', 8)} AS x, {tile_y_sql('my_mm', 8)} AS y,
           mx_mm, my_mm
    FROM {GEO_SQL} g
  )
  SELECT x, y, MIN(mx_mm) AS minx, MIN(my_mm) AS miny,
         MAX(mx_mm) AS maxx, MAX(my_mm) AS maxy
  FROM t GROUP BY 1, 2
""")
def a2_layer_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (SURVEY §2.4): per-tile layer envelope — the expand_to_include
    fold (reference adminizer.cpp:160-173) as MIN/MAX aggregates."""
    g = _geo(spark, sf_dir)
    t = g.select(tile_x_expr("mx_mm", 8).alias("x"),
                 tile_y_expr("my_mm", 8).alias("y"), "mx_mm", "my_mm")
    return t.groupBy("x", "y").agg(
        F.min("mx_mm").alias("minx"), F.min("my_mm").alias("miny"),
        F.max("mx_mm").alias("maxx"), F.max("my_mm").alias("maxy"))


@register("p6_valid_tile_range", f"""
  WITH t AS (
    SELECT {tile_x_sql('mx_mm', 14)} AS x, {tile_y_sql('my_mm', 14)} AS y
    FROM {GEO_SQL} g
  )
  SELECT COUNT(*) AS n_valid FROM t
  WHERE x >= 0 AND x < 16384 AND y >= 0 AND y < 16384
""")
def p6_valid_tile_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (SURVEY §2.2): z/x/y range validation
    (reference mapnik_request_handler.cpp:127-140)."""
    g = _geo(spark, sf_dir)
    t = g.select(tile_x_expr("mx_mm", 14).alias("x"),
                 tile_y_expr("my_mm", 14).alias("y"))
    return (t.where((F.col("x") >= 0) & (F.col("x") < 16384)
                    & (F.col("y") >= 0) & (F.col("y") < 16384))
             .agg(F.count("*").alias("n_valid")))


# ---------------------------------------------------------------------------
# J1/J2 — broadcast spatial joins over pages points (SURVEY §2.3)
# ---------------------------------------------------------------------------

from .operators.adminizer import adminize_points
from .sources.pages import CITY_X, CITY_Y

_CORE = 1500000  # ±1.5 km around the hot-city centers (jitter is ±1 km)
ADMIN_BOXES = [
    (0, CITY_X[0] - _CORE, CITY_Y[0] - _CORE, CITY_X[0] + _CORE, CITY_Y[0] + _CORE, "city0_core"),
    (1, CITY_X[1] - _CORE, CITY_Y[1] - _CORE, CITY_X[1] + _CORE, CITY_Y[1] + _CORE, "city1_core"),
    (2, CITY_X[2] - _CORE, CITY_Y[2] - _CORE, CITY_X[2] + _CORE, CITY_Y[2] + _CORE, "city2_core"),
    (3, -20037508340, 3000000000, 20037508340, 7000000000, "north_band"),
    (4, -20037508340, -15000000000, 0, 15000000000, "west_hemi"),
]

_BOXES_SQL = "(VALUES " + ", ".join(
    f"({i}, {x0}, {y0}, {x1}, {y1}, '{v}')" for i, x0, y0, x1, y1, v in ADMIN_BOXES
) + ") AS b(idx, minx, miny, maxx, maxy, val)"


@register("j1a_pip_first", f"""
  SELECT g.url, min_by(b.val, b.idx) AS admin
  FROM {GEO_SQL} g
  LEFT JOIN {_BOXES_SQL}
    ON g.mx_mm BETWEEN b.minx AND b.maxx AND g.my_mm BETWEEN b.miny AND b.maxy
  GROUP BY g.url
""")
def j1a_pip_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1a (SURVEY §2.3): point-in-polygon broadcast join, first-match mode —
    lowest-index containing polygon wins (reference adminizer.cpp:63-80,
    :103-112). Probe is a vectorized mapInPandas over the broadcast index;
    no shuffle of the big side."""
    g = _geo(spark, sf_dir).select("url", "mx_mm", "my_mm")  # prune html/text
    return adminize_points(g, ADMIN_BOXES, mode="first").select("url", "admin")


@register("j1b_pip_collect", f"""
  SELECT g.url,
         CASE WHEN COUNT(b.idx) > 0
              THEN string_agg(b.val, ',' ORDER BY b.idx) END AS admin
  FROM {GEO_SQL} g
  LEFT JOIN {_BOXES_SQL}
    ON g.mx_mm BETWEEN b.minx AND b.maxx AND g.my_mm BETWEEN b.miny AND b.maxy
  GROUP BY g.url
""")
def j1b_pip_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1b (SURVEY §2.3): collect mode — all matching values in index order,
    comma-delimited (reference adminizer.cpp:94-107, :688-691)."""
    g = _geo(spark, sf_dir).select("url", "mx_mm", "my_mm")
    return adminize_points(g, ADMIN_BOXES, mode="collect").select("url", "admin")


# general (non-box) admin polygons: a pentagon and a triangle around city 0,
# integer vertices, no axis-parallel edges (so the strict crossing-number
# test has no boundary coincidences on integer points)
_CX0, _CY0 = CITY_X[0], CITY_Y[0]
ADMIN_RINGS = [
    (0, [(_CX0 + 2000000000, _CY0 + 300000001),
         (_CX0 + 600000007, _CY0 + 1900000003),
         (_CX0 - 1700000003, _CY0 + 1100000009),
         (_CX0 - 1500000011, _CY0 - 1300000007),
         (_CX0 + 900000013, _CY0 - 1700000021)], "pentagon0"),
    (1, [(_CX0 + 2500000019, _CY0 - 500000003),
         (_CX0 + 100000003, _CY0 + 2200000001),
         (_CX0 - 2600000009, _CY0 - 900000017)], "triangle1"),
]

_EDGES_SQL = "(VALUES " + ", ".join(
    f"({idx}, {ring[i][0]}, {ring[i][1]}, "
    f"{ring[(i + 1) % len(ring)][0]}, {ring[(i + 1) % len(ring)][1]}, '{val}')"
    for idx, ring, val in ADMIN_RINGS for i in range(len(ring))
) + ") AS e(idx, ax, ay, bx, by, val)"


_PIP_RINGS_SQL = f"""
  WITH crossings AS (
    SELECT g.url, e.idx, e.val,
           CASE WHEN (e.ay > g.my_mm) != (e.by > g.my_mm)
                 AND g.mx_mm < e.ax + CAST(g.my_mm - e.ay AS DOUBLE)
                                      * (e.bx - e.ax) / (e.by - e.ay)
                THEN 1 ELSE 0 END AS c
    FROM {GEO_SQL} g CROSS JOIN {_EDGES_SQL}
  ), inside AS (
    SELECT url, idx, val FROM crossings
    GROUP BY url, idx, val HAVING sum(c) % 2 = 1
  )
  SELECT g.url, min_by(i.val, i.idx) AS admin
  FROM {GEO_SQL} g LEFT JOIN inside i USING (url)
  GROUP BY g.url
"""


@register("j1d_pip_polygon", _PIP_RINGS_SQL)
def j1d_pip_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 with GENERAL admin polygons (pentagon + triangle, concavity-ready
    crossing-number test, no boxes): broadcast map-side probe, lowest-index
    containing polygon wins. The oracle evaluates the IDENTICAL crossing
    expression edge-by-edge in SQL — float64 parity by construction."""
    g = _geo(spark, sf_dir).select("url", "mx_mm", "my_mm")
    from .operators.adminizer import adminize_points_rings
    return adminize_points_rings(g, ADMIN_RINGS).select("url", "admin")


@register("j1e_pip_s2cover", _PIP_RINGS_SQL)
def j1e_pip_s2cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 via the broadcast S2 leaf-range index (north star's "S2 cell-cover
    indexes"): same polygons and same answer as j1d_pip_polygon, but
    candidates come from adminize_points_s2index — each point's S2 leaf id
    binary-searched against the flattened adaptive-cover range table
    (max level 8) — instead of the dense bbox matrix: the
    O(points·log cover) shape that holds at 10^4+ admin polygons.  The
    oracle is the IDENTICAL crossing-number SQL as j1d: a cover that missed
    any containing cell would drop rows and hash-mismatch, so candidate
    recall is oracle-checked, not assumed."""
    g = _geo(spark, sf_dir).select("url", "mx_mm", "my_mm")
    from .operators.adminizer import adminize_points_s2index
    return adminize_points_s2index(g, ADMIN_RINGS, max_level=8).select(
        "url", "admin")


@register("j2_knn_nearest", f"""
  SELECT url, val AS admin FROM (
    SELECT g.url, b.val,
           (CAST(greatest(0, b.minx - g.mx_mm, g.mx_mm - b.maxx) AS DOUBLE)
            * CAST(greatest(0, b.minx - g.mx_mm, g.mx_mm - b.maxx) AS DOUBLE)
          + CAST(greatest(0, b.miny - g.my_mm, g.my_mm - b.maxy) AS DOUBLE)
            * CAST(greatest(0, b.miny - g.my_mm, g.my_mm - b.maxy) AS DOUBLE)) AS d2,
           b.idx
    FROM {GEO_SQL} g CROSS JOIN {_BOXES_SQL}
    QUALIFY row_number() OVER (PARTITION BY g.url ORDER BY d2, b.idx) = 1
  )
""")
def j2_knn_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (SURVEY §2.3): kNN (k=1) classification against the admin table —
    nearest box by true box distance (0 inside, clamped axis gaps outside —
    the STRtree.nearest geometry-distance contract), ties by index."""
    g = _geo(spark, sf_dir).select("url", "mx_mm", "my_mm")
    return adminize_points(g, ADMIN_BOXES, mode="knn").select(
        "url", F.col("admin"))


# kNN against GENERAL polygons: the two j1d rings plus a quadrilateral
# around city 1 (idx 2) so top-2 of 3 is a genuine selection
_CX1, _CY1 = CITY_X[1], CITY_Y[1]
KNN_RINGS = ADMIN_RINGS + [
    (2, [(_CX1 + 1800000007, _CY1 + 200000003),
         (_CX1 - 300000011, _CY1 + 1600000009),
         (_CX1 - 2100000013, _CY1 - 400000019),
         (_CX1 + 500000021, _CY1 - 1900000023)], "quad2"),
]

_KNN_EDGES_SQL = "(VALUES " + ", ".join(
    f"({idx}, {ring[i][0]}, {ring[i][1]}, "
    f"{ring[(i + 1) % len(ring)][0]}, {ring[(i + 1) % len(ring)][1]}, '{val}')"
    for idx, ring, val in KNN_RINGS for i in range(len(ring))
) + ") AS e(idx, ax, ay, bx, by, val)"

# squared point-segment distance, float64 op order IDENTICAL to
# geometry.ring_distance2 (sub in BIGINT then cast — exact below 2^53;
# every subsequent op is one IEEE double op per side)
_SEG_T = """least(1.0, greatest(0.0,
      (CAST(g.mx_mm - e.ax AS DOUBLE) * CAST(e.bx - e.ax AS DOUBLE)
       + CAST(g.my_mm - e.ay AS DOUBLE) * CAST(e.by - e.ay AS DOUBLE))
      / (CAST(e.bx - e.ax AS DOUBLE) * CAST(e.bx - e.ax AS DOUBLE)
         + CAST(e.by - e.ay AS DOUBLE) * CAST(e.by - e.ay AS DOUBLE))))"""


@register("j2_knn_rings", f"""
  WITH ed AS (
    SELECT g.url, e.idx, e.val,
           CASE WHEN (e.ay > g.my_mm) != (e.by > g.my_mm)
                 AND g.mx_mm < e.ax + CAST(g.my_mm - e.ay AS DOUBLE)
                                      * (e.bx - e.ax) / (e.by - e.ay)
                THEN 1 ELSE 0 END AS c,
           (CAST(g.mx_mm AS DOUBLE)
              - (CAST(e.ax AS DOUBLE) + {_SEG_T} * CAST(e.bx - e.ax AS DOUBLE)))
           * (CAST(g.mx_mm AS DOUBLE)
              - (CAST(e.ax AS DOUBLE) + {_SEG_T} * CAST(e.bx - e.ax AS DOUBLE)))
         + (CAST(g.my_mm AS DOUBLE)
              - (CAST(e.ay AS DOUBLE) + {_SEG_T} * CAST(e.by - e.ay AS DOUBLE)))
           * (CAST(g.my_mm AS DOUBLE)
              - (CAST(e.ay AS DOUBLE) + {_SEG_T} * CAST(e.by - e.ay AS DOUBLE)))
           AS ed2
    FROM {GEO_SQL} g CROSS JOIN {_KNN_EDGES_SQL}
  ), per_poly AS (
    SELECT url, idx, val,
           CASE WHEN sum(c) % 2 = 1 THEN 0.0 ELSE min(ed2) END AS d2
    FROM ed GROUP BY url, idx, val
  )
  SELECT url, CAST(rank AS BIGINT) AS rank, val AS admin FROM (
    SELECT url, val,
           row_number() OVER (PARTITION BY url ORDER BY d2, idx) AS rank
    FROM per_poly
  ) WHERE rank <= 2
""")
def j2_knn_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 COMPLETE (SURVEY §2.3, reference adminizer.cpp:331-385): k-nearest
    admin POLYGONS (k=2) by ring distance — 0 strictly inside
    (crossing-number), else min point-segment distance over ring edges;
    ties by ascending index. Broadcast probe with bbox/vertex bound pruning
    (operators/adminizer.adminize_points_knn_rings); the oracle evaluates
    the identical IEEE expression edge-by-edge in SQL."""
    g = _geo(spark, sf_dir).select("url", "mx_mm", "my_mm")
    from .operators.adminizer import adminize_points_knn_rings
    return adminize_points_knn_rings(g, KNN_RINGS, k=2).select(
        "url", "rank", "admin")


# ---------------------------------------------------------------------------
# izer pipelines + MVT build (non-SQL-expressible → rows-only checks)
# ---------------------------------------------------------------------------

def _city_line_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-page road segments near city 0, grid-snapped so
    endpoints coincide and the unionizer has real work to do. Coordinates in
    mercator meters (WKT), tile keys at z12. Duplicate segments (same
    snapped endpoints) dedupe to the MIN (tile-key, id) row — a groupBy
    min, not dropDuplicates, so the surviving tile assignment is
    deterministic and oracle-derivable."""
    g = _geo(spark, sf_dir)
    c = g.where((F.col("mx_mm").between(CITY_X[0] - 1500000, CITY_X[0] + 1500000))
                & (F.col("my_mm").between(CITY_Y[0] - 1500000, CITY_Y[0] + 1500000)))
    c = (c.withColumn("sx", (F.col("mx_mm") / 100000).cast("long") * 100)
          .withColumn("sy", (F.col("my_mm") / 100000).cast("long") * 100)
          .withColumn("tx", tile_x_expr("mx_mm", 12))
          .withColumn("ty", tile_y_expr("my_mm", 12)))
    d = (c.groupBy("sx", "sy")
          .agg(F.min(F.col("tx") * 4096 + F.col("ty")).alias("k"),
               F.min(F.col("url").substr(32, 20).cast("long")).alias("id")))
    wkt = F.concat(F.lit("LINESTRING("),
                   F.col("sx"), F.lit(" "), F.col("sy"), F.lit(", "),
                   F.col("sx") + 100, F.lit(" "), F.col("sy"), F.lit(")"))
    return d.select(F.lit(12).alias("z"),
                    F.expr("k div 4096").alias("x"),
                    F.pmod(F.col("k"), F.lit(4096)).alias("y"),
                    F.lit("roads").alias("layer"),
                    F.col("id"),
                    F.create_map(F.lit("a"), F.lit("yes")).alias("props"),
                    wkt.alias("wkt"))


@register("mvt_feature_salted_z12", f"""
  WITH c AS (
    SELECT CAST(trunc(mx_mm / 100000.0) AS BIGINT) * 100 AS sx,
           CAST(trunc(my_mm / 100000.0) AS BIGINT) * 100 AS sy,
           {tile_x_sql('mx_mm', 12)} AS tx, {tile_y_sql('my_mm', 12)} AS ty
    FROM {GEO_SQL} g
    WHERE mx_mm BETWEEN {CITY_X[0] - 1500000} AND {CITY_X[0] + 1500000}
      AND my_mm BETWEEN {CITY_Y[0] - 1500000} AND {CITY_Y[0] + 1500000}
  ), d AS (
    SELECT sx, sy, min(tx * 4096 + ty) AS k FROM c GROUP BY sx, sy
  )
  SELECT k // 4096 AS x, k % 4096 AS y, count(*) AS n_features
  FROM d GROUP BY 1, 2
""")
def mvt_feature_salted_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FEATURE (linestring) tile build over the hot city tiles,
    oracle-checked: per-tile feature counts equal the deduped
    snapped-segment counts by construction (buffer_size=8 px keeps every
    <=200 m snap displacement inside the buffered clip box, so no feature
    is culled). The name is historical: the build is one tile-key exchange
    and one sorted-run mapInPandas, with no salt."""
    from .operators.encode import build_feature_tiles
    feats = _city_line_features(spark, sf_dir)
    tiles = build_feature_tiles(feats, buffer_size=8)
    return tiles.select("x", "y", "n_features")


# the city-0 center snapped to the 100 m segment grid; the split edge sits
# 50 m east of it so exactly the sx == _FUSE_CX0 segment column crosses
_FUSE_CX0 = int(CITY_X[0] / 100000) * 100
_FUSE_EDGE = _FUSE_CX0 + 50


@register("mvt_izer_fused_z12", f"""
  WITH c AS (
    SELECT CAST(trunc(mx_mm / 100000.0) AS BIGINT) * 100 AS sx,
           CAST(trunc(my_mm / 100000.0) AS BIGINT) * 100 AS sy,
           {tile_x_sql('mx_mm', 12)} AS tx, {tile_y_sql('my_mm', 12)} AS ty
    FROM {GEO_SQL} g
    WHERE mx_mm BETWEEN {CITY_X[0] - 1500000} AND {CITY_X[0] + 1500000}
      AND my_mm BETWEEN {CITY_Y[0] - 1500000} AND {CITY_Y[0] + 1500000}
  ), d AS (
    SELECT sx, min(tx * 4096 + ty) AS k FROM c GROUP BY sx, sy
  )
  SELECT k // 4096 AS x, k % 4096 AS y,
         CAST(sum(CASE WHEN sx = {_FUSE_CX0} THEN 2 ELSE 1 END) AS BIGINT)
           AS n_features
  FROM d GROUP BY 1, 2
""")
def mvt_izer_fused_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Izer pipeline FUSED into the feature encode — one job, one exchange
    (the unfused apply_to_tiles → build pair costs two): a split-mode
    adminizer runs per whole (tile, layer) group inside the encode's
    sorted-run walk, before make_layer.
    Oracle: a segment column crossing the admin edge splits into 2 features
    (inside+outside), everything else stays 1 — per-tile n_features is
    SQL-derivable from the snapped grid."""
    from .operators.encode import build_feature_tiles
    feats = _city_line_features(spark, sf_dir)
    big = 30000000  # > mercator half-world in meters: the box spans all y
    box_wkt = (f"POLYGON(({_FUSE_EDGE} {-big}, {_FUSE_EDGE + 6000000} {-big}, "
               f"{_FUSE_EDGE + 6000000} {big}, {_FUSE_EDGE} {big}, "
               f"{_FUSE_EDGE} {-big}))")
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "adminizer", "param_name": "region", "split": "true",
         "datasource": {"inline_rows": [(box_wkt, "core")]}}]}]}
    tiles = build_feature_tiles(feats, izer_config=conf, buffer_size=8)
    return tiles.select("x", "y", "n_features")


@register("izer_unionize_tiles", None)
def izer_unionize_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/U3 (SURVEY §2.3/§2.7): per-(tile, layer) unionizer via the
    distributed izer pipeline (groupBy(z,x,y,layer).applyInPandas — the
    izer_base.hpp:14-21 correspondence). Grid-snapped segments chain into
    longer linestrings; output is per-tile feature counts after the
    fixpoint (unionizer.cpp:537-563).

    No oracle by design for this GENERAL configuration: the reference's
    score-map dedup quirk caps unions at one per distinct score per round
    (≤3 with the greedy scorer) under max_iterations — a stateful fixpoint
    not expressible in SQL. Semantics are pinned by the 12 ported
    unionizer fixtures (tests/test_unionizer.py); the RESTRICTED
    configuration below (izer_unionize_oracle) makes the same operator
    fully oracle-checkable."""
    from .plans.pipeline import apply_to_tiles
    feats = _city_line_features(spark, sf_dir)
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "unionizer", "union_heuristic": "greedy",
         "tag_strategy": "intersect", "max_iterations": 10,
         "match_tags": ["a"]}]}]}
    out = apply_to_tiles(feats, conf)
    return (out.groupBy("x", "y")
               .agg(F.count("*").alias("n_features"),
                    F.sum(F.size(F.split(F.col("wkt"), ","))).alias("n_points"))
               .orderBy("x", "y"))


@register("izer_unionize_oracle", f"""
  WITH t AS (
    SELECT {tile_x_sql('mx_mm', 10)} AS x, {tile_y_sql('my_mm', 10)} AS y
    FROM {GEO_SQL} g
  )
  SELECT x, y,
         CAST(2 * count(*) - 1 AS BIGINT) AS n_features,
         CAST(4 * count(*) - 1 AS BIGINT) AS n_points
  FROM t GROUP BY x, y
""")
def izer_unionize_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/U3 under a RESTRICTED configuration whose fixpoint outcome is
    SQL-derivable — the oracle twin the general `izer_unionize_tiles`
    cannot have. Each page contributes a disjoint 2-segment chain
    (seg1 BACK == seg2 FRONT on a snapped grid) carrying a page-unique
    match tag, so within a (tile, layer) group every couple is front-back
    (greedy score 0, unionizer.cpp:289-306) and the reference's score-map
    emplace quirk (one surviving couple per distinct score per round,
    unionizer.cpp:311-335) performs EXACTLY ONE union per tile per round —
    whichever chain sorts first. With max_iterations=1 the per-tile
    outcome is count-deterministic regardless of which chain won:
    n_features = 2n-1, n_points = 4n-1 for n pages in the tile (one
    4-point pair merges into one 3-point linestring; the rest pass
    through). The oracle derives both directly from the page→tile
    assignment."""
    from .plans.pipeline import apply_to_tiles
    base = _geo(spark, sf_dir)
    m = (base.withColumn("bx", (F.col("mx_mm") / 1000).cast("long"))
             .withColumn("by", (F.col("my_mm") / 1000).cast("long"))
             .withColumn("pid", F.col("url").substr(32, 20).cast("long")))

    def seg(x0, x1):
        # packed interchange: flat [x0,y0,x1,y1] doubles built JVM-side —
        # no WKT text crosses the izer boundary
        return F.array((F.col("bx") + x0).cast("double"),
                       F.col("by").cast("double"),
                       (F.col("bx") + x1).cast("double"),
                       F.col("by").cast("double"))

    feats = (m.select(
        F.lit(10).alias("z"),
        tile_x_expr("mx_mm", 10).alias("x"),
        tile_y_expr("my_mm", 10).alias("y"),
        F.lit("roads").alias("layer"),
        F.create_map(F.lit("a"), F.col("pid").cast("string")).alias("props"),
        F.col("pid"),
        F.explode(F.array(
            F.struct((F.col("pid") * 2).alias("id"),
                     seg(0, 100).alias("coords")),
            F.struct((F.col("pid") * 2 + 1).alias("id"),
                     seg(100, 200).alias("coords")))).alias("s"))
        .select("z", "x", "y", "layer", F.col("s.id").alias("id"),
                "props", F.lit("LINESTRING").alias("gtype"),
                F.col("s.coords").alias("coords"),
                F.array(F.lit(2)).alias("rings"),
                F.array(F.lit(1)).alias("part_rings")))
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "unionizer", "union_heuristic": "greedy",
         "tag_strategy": "intersect", "max_iterations": 1,
         "match_tags": ["a"]}]}]}
    out = apply_to_tiles(feats, conf)
    return (out.groupBy("x", "y")
               .agg(F.count("*").alias("n_features"),
                    F.sum((F.size(F.col("coords")) / 2).cast("long"))
                     .alias("n_points")))


@register("izer_labelize_tiles", f"""
  WITH t AS (
    SELECT {tile_x_sql('mx_mm', 10)} AS x, {tile_y_sql('my_mm', 10)} AS y,
           TRY_CAST(substr(url, 32, 20) AS BIGINT) % 5 AS r
    FROM {GEO_SQL} g
  )
  SELECT x, y,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN r >= 3 THEN 2 ELSE 1 END) AS BIGINT) AS n_labels
  FROM t GROUP BY x, y
""")
def izer_labelize_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labelizer (the izer the reference declares at labelizer.hpp:14-17
    but leaves TODO — completed here as an opt-in): each page contributes
    a straight line of length L = 100 + (pid % 5)*60 map units; with
    spacing 130 the placement count per line is max(1, floor(L/130)) —
    1 for pid%5 in {0,1,2} (L 100/160/220), 2 for {3,4} (L 280/340) —
    derivable in SQL from the page id alone. Output per tile: input line
    count and generated label-point count."""
    from .plans.pipeline import apply_to_tiles
    base = _geo(spark, sf_dir)
    m = (base.withColumn("bx", (F.col("mx_mm") / 1000).cast("long"))
             .withColumn("by", (F.col("my_mm") / 1000).cast("long"))
             .withColumn("pid", F.col("url").substr(32, 20).cast("long")))
    ln = F.lit(100) + (F.pmod(F.col("pid"), F.lit(5))) * 60
    coords = F.array(F.col("bx").cast("double"), F.col("by").cast("double"),
                     (F.col("bx") + ln).cast("double"),
                     F.col("by").cast("double"))
    feats = m.select(F.lit(10).alias("z"),
                     tile_x_expr("mx_mm", 10).alias("x"),
                     tile_y_expr("my_mm", 10).alias("y"),
                     F.lit("roads").alias("layer"),
                     F.col("pid").alias("id"),
                     F.create_map(F.lit("a"), F.lit("yes")).alias("props"),
                     F.lit("LINESTRING").alias("gtype"),
                     coords.alias("coords"),
                     F.array(F.lit(2)).alias("rings"),
                     F.array(F.lit(1)).alias("part_rings"))
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "labelizer", "spacing": 130.0}]}]}
    out = apply_to_tiles(feats, conf)
    is_label = F.col("props")["label_role"] == "label"
    return (out.groupBy("x", "y")
               .agg(F.sum(F.when(is_label, 0).otherwise(1))
                     .alias("n_lines"),
                    F.sum(F.when(is_label, 1).otherwise(0))
                     .alias("n_labels")))


@register("izer_generalize_tiles", f"""
  SELECT 2 AS n_points, count(*) AS n_lines FROM {GEO_SQL} g
""")
def izer_generalize_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (SURVEY §2.8): Douglas-Peucker via the izer pipeline. Synthetic
    5-point zigzags (deterministic from page coords) collapse to 2 points."""
    from .plans.pipeline import apply_to_tiles
    base = _geo(spark, sf_dir)
    m = (base.withColumn("bx", (F.col("mx_mm") / 1000).cast("long"))
             .withColumn("by", (F.col("my_mm") / 1000).cast("long")))
    bxd, byd = F.col("bx").cast("double"), F.col("by").cast("double")
    coords = F.array(bxd, byd, bxd + 100, byd + 1, bxd + 200, byd,
                     bxd + 300, byd + 1, bxd + 400, byd)
    feats = m.select(F.lit(10).alias("z"),
                     tile_x_expr("mx_mm", 10).alias("x"),
                     tile_y_expr("my_mm", 10).alias("y"),
                     F.lit("roads").alias("layer"),
                     F.col("url").substr(32, 20).cast("long").alias("id"),
                     F.create_map(F.lit("a"), F.lit("yes")).alias("props"),
                     F.lit("LINESTRING").alias("gtype"),
                     coords.alias("coords"),
                     F.array(F.lit(5)).alias("rings"),
                     F.array(F.lit(1)).alias("part_rings"))
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "generalizer", "algorithm": "douglas-peucker",
         "tolerance": 5.0}]}]}
    out = apply_to_tiles(feats, conf)
    return (out.select("id", (F.size(F.col("coords")) / 2).cast("int")
                       .alias("n_points"))
               .groupBy("n_points").agg(F.count("*").alias("n_lines")))


@register("izer_adminize_split", f"""
  WITH g AS (
    SELECT CAST(trunc(mx_mm / 1000.0) AS BIGINT) AS bx
    FROM {GEO_SQL} g
    WHERE mx_mm BETWEEN {CITY_X[0] - 3000000} AND {CITY_X[0] + 3000000}
      AND my_mm BETWEEN {CITY_Y[0] - 1400000} AND {CITY_Y[0] + 1400000}
  )
  SELECT 'core' AS region, count(*) AS n_segments FROM g
  UNION ALL
  SELECT 'outside' AS region,
         CAST(sum(CASE WHEN bx > {CITY_X[0] // 1000 - 2500}
                        AND bx < {CITY_X[0] // 1000 + 2500}
                       THEN 2 ELSE 1 END) AS BIGINT) AS n_segments
  FROM g
""")
def izer_adminize_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1c (SURVEY §2.3): split-mode adminizer via the izer pipeline —
    east-west lines crossing the city-0 core box split at its boundary
    (adminizer.cpp:456-522); output counts per resulting admin value."""
    from .plans.pipeline import apply_to_tiles
    g = _geo(spark, sf_dir)
    c = g.where((F.col("mx_mm").between(CITY_X[0] - 3000000, CITY_X[0] + 3000000))
                & (F.col("my_mm").between(CITY_Y[0] - 1400000, CITY_Y[0] + 1400000)))
    bx = (F.col("mx_mm") / 1000).cast("long")
    by = (F.col("my_mm") / 1000).cast("long")
    coords = F.array((bx - 4000).cast("double"), by.cast("double"),
                     (bx + 4000).cast("double"), by.cast("double"))
    feats = c.select(F.lit(10).alias("z"),
                     F.lit(0).cast("long").alias("x"),
                     F.lit(0).cast("long").alias("y"),
                     F.lit("roads").alias("layer"),
                     F.col("url").substr(32, 20).cast("long").alias("id"),
                     F.create_map().cast("map<string,string>").alias("props"),
                     F.lit("LINESTRING").alias("gtype"),
                     coords.alias("coords"),
                     F.array(F.lit(2)).alias("rings"),
                     F.array(F.lit(1)).alias("part_rings"))
    core_m = (CITY_X[0] // 1000, CITY_Y[0] // 1000, 1500)
    box_wkt = (f"POLYGON(({core_m[0]-1500} {core_m[1]-1500}, {core_m[0]+1500} {core_m[1]-1500}, "
               f"{core_m[0]+1500} {core_m[1]+1500}, {core_m[0]-1500} {core_m[1]+1500}, "
               f"{core_m[0]-1500} {core_m[1]-1500}))")
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "adminizer", "param_name": "region", "split": "true",
         "datasource": {"inline_rows": [(box_wkt, "core")]}}]}]}
    out = apply_to_tiles(feats, conf)
    # count PATHS, not features: the splitter folds both outside pieces of
    # one line into a single MULTILINESTRING feature — in the packed
    # interchange the part count is just the part_rings length
    n_paths = F.greatest(F.size(F.col("part_rings")), F.lit(1))
    return (out.groupBy(F.coalesce(F.col("props")["region"], F.lit("outside")).alias("region"))
               .agg(F.sum(n_paths).alias("n_segments")))


def _mvt_build_oracle(z: int = 14, extent: int = 4096) -> str:
    """(z, x, y, n_features, interesting) re-derived independently: counts
    from the integer tile assignment, the single-feature interestingness
    flag from the same quantization the encoder uses (util_tile.cpp:44-105
    reduces, for a one-point layer, to 'some coordinate strictly inside
    (0, extent)'). Same IEEE double op order as encode.py so px/py agree
    bit-for-bit."""
    scale = WORLD_SIZE / float(1 << z)
    H = 0.5 * WORLD_SIZE
    return f"""(
      WITH t AS (
        SELECT {tile_x_sql('mx_mm', z)} AS x, {tile_y_sql('my_mm', z)} AS y,
               mx_mm, my_mm
        FROM {GEO_SQL} g
      ), q AS (
        SELECT x, y,
          CAST(floor((mx_mm/1000.0 - (x * {scale!r} - {H!r})) / {scale!r}
                     * {extent} + 0.5) AS BIGINT) AS px,
          CAST(floor((({H!r} - y * {scale!r}) - my_mm/1000.0) / {scale!r}
                     * {extent} + 0.5) AS BIGINT) AS py
        FROM t
      )
      SELECT {z} AS z, x, y, count(*) AS n_features,
             CASE WHEN count(*) > 1 THEN TRUE
                  ELSE max(CASE WHEN (px > 0 AND px < {extent})
                                  OR (py > 0 AND py < {extent})
                                THEN 1 ELSE 0 END) = 1 END AS interesting
      FROM q GROUP BY x, y
    )"""


@register("mvt_build_z16", f"SELECT * FROM {_mvt_build_oracle(16)} t")
def mvt_build_z16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-zoom leg of the distributed build (the tile key x·2^z + y holds
    any z the point build takes, up to z=30 — reference serves z up to 30,
    mapnik_request_handler.cpp:133). Same oracle shape as z14."""
    from .api import build_tiles
    tiles = build_tiles(pages_df(spark, sf_dir), z=16)
    return tiles.select("z", "x", "y", "n_features", "interesting")


@register("mvt_build_z14", f"SELECT * FROM {_mvt_build_oracle(14)} t")
def mvt_build_z14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/S4 (SURVEY §2.4/§2.1): the full MVT tile build (one exchange on
    the tile key, one encode-and-gzip mapInPandas).
    (z, x, y, n_features, interesting) are oracle-checked against an
    independent re-derivation; the tile BYTES are pinned separately by the
    golden-snapshot pytest (tests/test_mvt.py::test_tile_md5_golden) since
    protobuf assembly isn't SQL-expressible."""
    from .api import build_tiles
    tiles = build_tiles(pages_df(spark, sf_dir), z=14)
    return tiles.select("z", "x", "y", "n_features", "interesting")


# ---------------------------------------------------------------------------
# Deduplication suite (documents table) — SURVEY training-data ops
# ---------------------------------------------------------------------------

from .operators import dedup as D
from .operators import similarity as S
from .operators import textstats as T


@register("dedup_exact", """
  SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
  FROM documents GROUP BY md5(text)
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep lowest doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.groupBy(F.md5("text").alias("h"))
                .agg(F.min("doc_id").alias("keep_id"),
                     F.count("*").alias("n_dups")))


@register("dedup_minhash_bands", f"SELECT * FROM {D.minhash_bands_sql()} t")
def dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 md5 min-hashes over word-3-gram shingles)
    folded into 4 LSH band keys per doc. Registered through the SAME
    one-generation cache tag the pair extraction uses, so a session that
    runs bands before pairs (the bench order) pays the signature
    pipeline once — previously dedup_lsh_pairs recomputed it from text
    (r08: 5.4s -> ~0.5s for the pairs row)."""
    return D.persist_latest(f"minhash_bands:{sf_dir}",
                            D.minhash_bands_df(spark, sf_dir), reuse=True)


@register("dedup_lsh_pairs", f"SELECT * FROM {D.lsh_pairs_sql()} t")
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs via band-bucket self-join."""
    return D.lsh_pairs_df(spark, sf_dir)


@register("dedup_components", f"SELECT * FROM {D.dedup_components_sql()} t")
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH pair graph — one cluster id per
    document (iterative min-label propagation, early-stopped; the oracle
    computes the exact transitive closure with a recursive CTE)."""
    return D.dedup_components_df(spark, sf_dir)


@register("dedup_components_bigstar",
          f"SELECT * FROM {D.dedup_components_sql()} t")
def dedup_components_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al. SoCC'14) — O(log n) rounds regardless of component
    diameter, the corpus-scale path for chain-shaped near-dup clusters.
    Same oracle as dedup_components (exact recursive-CTE closure)."""
    return D.dedup_components_bigstar_df(spark, sf_dir)


@register("dedup_near_keep", f"""
  SELECT doc_id FROM {D.dedup_components_sql()} t WHERE doc_id = comp
""")
def dedup_near_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the near-dup pipeline: the KEEP list — one representative
    (min doc_id) per connected component of the LSH pair graph; every
    other member is dropped as a near-duplicate. Shingles → minhash →
    bands → pairs → components → keep, each stage separately
    oracle-checked upstream."""
    comp = D.dedup_components_df(spark, sf_dir)
    return (comp.where(F.col("doc_id") == F.col("comp"))
                .select("doc_id"))


@register("dedup_paragraph",
          f"SELECT * FROM {D.paragraph_dedup_sql(8, ' ')} t")
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level boilerplate dedup: hash each normalized
    paragraph, keep only the first corpus-wide occurrence (lowest
    (doc_id, pos)), reassemble documents from the kept paragraphs. The
    synthetic documents carry no paragraph markers, so this row runs the
    words:8 segmentation; the regex (blank-line) mode is pytest-pinned
    on crafted multi-paragraph docs (tests/test_dedup.py)."""
    from .sources.tables import read_split
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return D.paragraph_dedup(docs, segment="words:8", join_sep=" ")


@register("dedup_ngram_jaccard", f"""
  WITH pairs AS (SELECT * FROM {D.lsh_pairs_sql()} p),
  sh AS (SELECT DISTINCT doc_id, shingle FROM {D.SHINGLES_SQL} s),
  counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS i
    FROM pairs p
    JOIN sh a ON a.doc_id = p.doc_a
    JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
    GROUP BY p.doc_a, p.doc_b
  )
  SELECT i.doc_a, i.doc_b, i.i AS n_common,
         ca.n AS n_a, cb.n AS n_b,
         i.i / (ca.n + cb.n - i.i) AS jaccard
  FROM inter i
  JOIN counts ca ON ca.doc_id = i.doc_a
  JOIN counts cb ON cb.doc_id = i.doc_b
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram jaccard verification over LSH candidate pairs."""
    pairs = D.lsh_pairs_df(spark, sf_dir)
    sh = D.shingles_df(spark, sf_dir).distinct()
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("sb"))
    inter = (pairs.join(a, "doc_a")
                  .join(b, "doc_b")
                  .where(F.col("sa") == F.col("sb"))
                  .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common")))
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (inter.join(ca, "doc_a").join(cb, "doc_b")
                 .select("doc_a", "doc_b", "n_common", "n_a", "n_b",
                         (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
                          .alias("jaccard")))


@register("dedup_simhash", f"SELECT * FROM {D.SIMHASH_SQL} t")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document from per-token md5 bit votes, one
    map-side pass (aggregate/zip_with over the token array)."""
    return D.simhash_df(spark, sf_dir)


@register("dedup_simhash_pairs", f"SELECT * FROM {D.simhash_pairs_sql()} t")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: banded hamming self-join (4×15-bit bands —
    exact recall for hamming ≤ 3 by pigeonhole), bit_count(xor) verify."""
    return D.simhash_pairs_df(spark, sf_dir)


@register("dedup_embedding_cosine", S.embedding_neardup_sql())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos > 0.8, brute force
    BASELINE) over the near-dup-seeded corpus — non-vacuous: returns the
    planted pairs. Scale path: dedup_embedding_lsh."""
    return S.embedding_neardup_df(spark, sf_dir)


@register("dedup_embedding_lsh", S.embedding_neardup_lsh_sql())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, SCALE path: LSH bucket equi-join replaces
    the O(n²) cross join; near-identical vectors always share buckets, so
    dedup recall is exact in the cos→1 regime."""
    return S.embedding_neardup_lsh_df(spark, sf_dir)


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------

@register("sim_cosine_topk", S.cosine_topk_sql())
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 5 query vectors."""
    return S.cosine_topk_df(spark, sf_dir)


@register("sim_ann_lsh", S.ann_lsh_sql())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via 8 deterministic random-hyperplane LSH buckets."""
    return S.ann_lsh_df(spark, sf_dir)


@register("sim_ann_ivf", S.ann_ivf_sql())
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (coarse-quantizer cells, nprobe=1) — the second
    scale path for similarity search alongside the LSH variant.

    Registered here (not at module end) so a harness that caps the number
    of checked queries truncates rows-only pixel queries, not this one
    (r04: the 51st-registered query fell off a 50-entry artifact)."""
    return S.ann_ivf_df(spark, sf_dir)


@register("sim_ann_sq8", S.cosine_topk_sql())
def sim_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantized ANN end-to-end: int8 coarse scan (integer dots over
    4x-smaller codes; per-vector scales cancel in cosine) + exact float
    re-rank of an 8k-wide shortlist. The registered rerank width makes
    the result EQUAL the exact float top-k on this corpus, so the oracle
    is the brute-force cosine_topk SQL itself (the restricted-config
    trick; see operators/similarity.ann_sq8_df). Registered in place of
    tpch_q14_promo, which rotated to pytest parity
    (tests/test_oracle_parity.py) to hold the 50-row artifact cap."""
    return S.ann_sq8_df(spark, sf_dir)


# ---------------------------------------------------------------------------
# Text analysis (documents table)
# ---------------------------------------------------------------------------

@register("text_lang_id", T.lang_id_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.lang_id_df(spark, sf_dir)


@register("text_quality", T.quality_sql())
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_df(spark, sf_dir)


@register("text_token_count", T.token_count_sql())
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish pre-tokens (GPT-2-style
    pre-split on the ASCII subset where Java regex == RE2), both map-side."""
    return T.token_count_df(spark, sf_dir)


@register("text_fingerprint", T.fingerprint_sql())
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint_df(spark, sf_dir)


# ---------------------------------------------------------------------------
# events: windowed aggregation + sessionization (batch twins of streaming/)
# ---------------------------------------------------------------------------

@register("events_window_5m", """
  SELECT (floor(epoch(ts))::BIGINT // 300) * 300 AS wstart, event_type,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events GROUP BY 1, 2
""")
def events_window_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window aggregation (batch twin of the Structured
    Streaming job in streaming/events.py). Values summed in integer cents —
    order-independent, exact across engines."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.select((F.unix_timestamp("ts").cast("long") / 300).cast("long")
                      .alias("w"), "event_type", "value")
              .groupBy((F.col("w") * 300).alias("wstart"), "event_type")
              .agg(F.count("*").alias("n"),
                   F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents")))


@register("events_window_sliding", """
  WITH e AS (
    SELECT (floor(epoch(ts))::BIGINT // 300) * 300 AS w0, event_type, value
    FROM events
  ), ex AS (
    SELECT w0 - 300 * r.range AS wstart, event_type, value
    FROM e, range(2) r
  )
  SELECT wstart, event_type, count(*) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM ex GROUP BY 1, 2
""")
def events_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING window aggregation (10-minute windows every 5 minutes): each
    event lands in exactly two windows — w0 = floor(t/300)*300 and
    w0 - 300 — expressed as a map-side explode (the same fan-out Spark's
    F.window(slide) performs internally; Structured Streaming runs the
    identical plan incrementally). Integer-cents sums for exact parity."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w0 = ((F.unix_timestamp("ts").cast("long") / 300).cast("long")
          * 300)
    return (ev.select(F.explode(F.array(w0, w0 - 300)).alias("wstart"),
                      "event_type", "value")
              .groupBy("wstart", "event_type")
              .agg(F.count("*").alias("n"),
                   F.sum(F.round(F.col("value") * 100).cast("long"))
                    .alias("value_cents")))


@register("events_sessionize", """
  WITH e AS (
    SELECT user_id, floor(epoch(ts))::BIGINT AS t FROM events
  ), gaps AS (
    SELECT user_id, t,
           CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800
                  OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM e
  )
  SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
  FROM gaps GROUP BY user_id
""")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via lag + cumulative
    flags — the window-function sessionization pattern."""
    from pyspark.sql.window import Window
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = ev.select("user_id", F.unix_timestamp("ts").cast("long").alias("t"))
    w = Window.partitionBy("user_id").orderBy("t")
    gaps = e.withColumn(
        "new_session",
        F.when((F.col("t") - F.lag("t").over(w) > 1800)
               | F.lag("t").over(w).isNull(), 1).otherwise(0))
    return (gaps.groupBy("user_id")
                .agg(F.sum("new_session").alias("n_sessions"),
                     F.count("*").alias("n_events")))


# ---------------------------------------------------------------------------
# relational coverage: TPC-H-style queries over the star schema (P1/P2/A*)
# ---------------------------------------------------------------------------

@register("tpch_q1_pricing", """
  SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS disc_price_e4,
         count(*) AS count_order
  FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary; money in integer cents so sums are
    order-independent and engine-exact."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(qty).alias("qty_cents"),
                   F.sum(price).alias("price_cents"),
                   F.sum(price * disc).alias("disc_price_e4"),
                   F.count("*").alias("count_order")))


TPCH_Q3_SQL = """
  SELECT o.o_orderkey,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
         o.o_orderdate, o.o_orderpriority
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate < DATE '1995-03-15'
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
  ORDER BY revenue_e4 DESC, o_orderkey LIMIT 10
"""


def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: join + agg + top-k; the broadcast of customer and the
    shuffled lineitem join are Catalyst-chosen (AQE on).

    UNREGISTERED since r06 (the 50-row artifact cap; web_extract_text
    took the slot): the join+agg+top-k shape stays covered by
    tpch_q5_local_supplier (multi-table star) and tpch_window_top3
    (grouped top-k); exact-oracle parity is pinned by
    tests/test_oracle_parity.py::test_tpch_q3_duckdb_parity against the
    identical TPCH_Q3_SQL."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long"))
    return (c.join(o, c.c_custkey == o.o_custkey)
             .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
             .where(F.col("o_orderdate") < F.lit("1995-03-15").cast("date"))
             .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
             .agg(F.sum(rev).alias("revenue_e4"))
             .select("o_orderkey", "revenue_e4", "o_orderdate", "o_orderpriority")
             .orderBy(F.col("revenue_e4").desc(), "o_orderkey").limit(10))


TPCH_Q5_SQL = """
  SELECT n.n_name,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e4
  FROM region r
  JOIN nation n ON n.n_regionkey = r.r_regionkey
  JOIN supplier s ON s.s_nationkey = n.n_nationkey
  JOIN lineitem l ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE r.r_name = 'ASIA'
  GROUP BY n.n_name
"""


def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: star join through region→nation→supplier→lineitem
    →orders; small dims broadcast.

    UNREGISTERED since r07 (the 50-row artifact cap; dedup_paragraph took
    the slot): the multi-table broadcast-star shape stays covered by
    tpch_q1_pricing + tpch_window_top3 and the q4/q7/q9 pytest pins;
    exact-oracle parity is pinned by tests/test_oracle_parity.py::
    test_tpch_q5_duckdb_parity against the identical TPCH_Q5_SQL."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long"))
    return (F.broadcast(r.where(F.col("r_name") == "ASIA"))
             .join(n, F.col("n_regionkey") == F.col("r_regionkey"))
             .join(s, F.col("s_nationkey") == F.col("n_nationkey"))
             .join(li, F.col("l_suppkey") == F.col("s_suppkey"))
             .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
             .groupBy("n_name").agg(F.sum(rev).alias("revenue_e4")))


TPCH_Q6_SQL = """
  SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem
  WHERE l_shipdate >= DATE '1994-01-01'
    AND l_shipdate < DATE '1995-01-01'
    AND round(l_discount * 100) BETWEEN 5 AND 7
    AND l_quantity < 24
"""


def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure scan + filter + agg — the query whose plan
    should be a single-stage pushed-filter scan with a map-side partial
    sum (no join, no wide shuffle). Discounts compared in integer
    percent so the predicate is float-exact on both engines.

    UNREGISTERED since r06 (the 50-row artifact cap; s2_cell_docs_l12
    took the slot): the scan+filter+agg shape is already plan-tested and
    covered by tpch_q1_pricing's conditional aggregation; exact-oracle
    parity is pinned by tests/test_oracle_parity.py::
    test_tpch_q6_duckdb_parity against the identical TPCH_Q6_SQL."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long") * disc_pct)
    return (li.where((F.col("l_shipdate") >= F.lit("1994-01-01").cast("date"))
                     & (F.col("l_shipdate") < F.lit("1995-01-01").cast("date"))
                     & disc_pct.between(5, 7)
                     & (F.col("l_quantity") < 24))
              .agg(F.sum(rev).alias("revenue_e4"),
                   F.count("*").alias("n_rows")))


TPCH_Q12_SQL = """
  SELECT o.o_orderpriority,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS returned_lines,
         CAST(count(*) AS BIGINT) AS all_lines
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= DATE '1996-01-01'
    AND l.l_shipdate < DATE '1997-01-01'
  GROUP BY o.o_orderpriority
"""


def tpch_q12_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: fact-to-dim join + conditional counting per
    priority class (the synthetic schema carries no shipmode/commitdate,
    so the gating predicate is the shipdate year and the mode split is
    the return flag — same join + CASE-aggregation shape).

    UNREGISTERED since r06 (the 50-row artifact cap; j1e_pip_s2cover took
    the slot): the join + CASE-aggregation shape stays covered by
    tpch_q3/q5/q10; exact-oracle parity is pinned by
    tests/test_oracle_parity.py::test_tpch_q12_duckdb_parity against the
    identical TPCH_Q12_SQL."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
             .where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
                    & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date")))
             .groupBy("o_orderpriority")
             .agg(F.sum(F.when(F.col("l_returnflag") == "R", 1)
                         .otherwise(0)).alias("returned_lines"),
                  F.count("*").alias("all_lines")))


TPCH_Q10_SQL = """
  SELECT c.c_custkey, n.n_name,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
             AS BIGINT) AS revenue_e4
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= DATE '1995-01-01'
    AND o.o_orderdate < DATE '1995-07-01'
  GROUP BY c.c_custkey, n.n_name
  ORDER BY revenue_e4 DESC, c_custkey LIMIT 20
"""


def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: customers ranked by returned-item revenue in a
    half-year window — a 4-table star (two broadcastable dims) with a
    selective fact filter, grouped top-k.

    UNREGISTERED since r06 (the 50-row artifact cap; web_extract_links
    took the slot): the star-join + grouped-top-k shape is already
    covered by tpch_q3_shipping and tpch_window_top3; exact-oracle
    parity is pinned by tests/test_oracle_parity.py::
    test_tpch_q10_duckdb_parity against the identical TPCH_Q10_SQL."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long"))
    return (li.where(F.col("l_returnflag") == "R")
              .join(o.where(
                  (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                  & (F.col("o_orderdate") < F.lit("1995-07-01").cast("date"))),
                  F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(n),
                    F.col("n_nationkey") == F.col("c_nationkey"))
              .groupBy("c_custkey", "n_name")
              .agg(F.sum(rev).alias("revenue_e4"))
              .orderBy(F.col("revenue_e4").desc(), "c_custkey")
              .limit(20))


@register("tpch_window_top3", """
  WITH rev AS (
    SELECT o.o_custkey,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
               AS BIGINT) AS rev_e4
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
  ), r AS (
    SELECT c.c_nationkey, c.c_custkey, rev.rev_e4,
           CAST(row_number() OVER (PARTITION BY c.c_nationkey
                                   ORDER BY rev.rev_e4 DESC, c.c_custkey)
                AS INTEGER) AS rnk
    FROM customer c JOIN rev ON rev.o_custkey = c.c_custkey
  )
  SELECT c_nationkey, c_custkey, rev_e4, rnk FROM r WHERE rnk <= 3
""")
def tpch_window_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window shape (the q18-family relational surface the
    registry lacked): top-3 customers by lifetime revenue per nation via
    row_number() over (PARTITION BY nation ORDER BY revenue DESC).
    Deterministic under ties (c_custkey tiebreak), money in integer
    cents. Plan: one aggregation exchange on custkey, a broadcast of the
    customer dim, then a SINGLE window exchange on the 25-key nation
    partitioning — rank filters early, so the window state per partition
    is the running row counter, not a buffered group."""
    from pyspark.sql import Window
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev_expr = (F.round(F.col("l_extendedprice") * 100).cast("long")
                * F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long"))
    rev = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_custkey").agg(F.sum(rev_expr).alias("rev_e4")))
    w = (Window.partitionBy("c_nationkey")
               .orderBy(F.col("rev_e4").desc(), F.col("c_custkey")))
    return (rev.join(F.broadcast(c),
                     F.col("o_custkey") == F.col("c_custkey"))
               .select("c_nationkey", "c_custkey", "rev_e4")
               .withColumn("rnk", F.row_number().over(w))
               .where(F.col("rnk") <= 3))


TPCH_Q18_SQL = """
  WITH big AS (
    SELECT l_orderkey,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS sum_qty_cents
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 28000
  )
  SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, b.sum_qty_cents
  FROM orders o JOIN big b ON b.l_orderkey = o.o_orderkey
"""


def tpch_q18_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style having-sum semijoin: orders whose total quantity
    exceeds a threshold (the correlated-aggregate relational shape).
    Quantities in integer cents for engine-exact sums; the aggregated
    side drives an equi-join back to orders (Catalyst/AQE picks the
    broadcast once the HAVING filter shrinks it).

    UNREGISTERED since r06 (the 50-row artifact cap; web_pagerank_top
    took the slot): the having-sum semijoin is one aggregate + equi-join,
    both shapes covered elsewhere (q1/q3); exact-oracle parity is pinned
    by tests/test_oracle_parity.py::test_tpch_q18_duckdb_parity against
    the identical TPCH_Q18_SQL."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    big = (li.groupBy("l_orderkey").agg(F.sum(qty).alias("sum_qty_cents"))
             .where(F.col("sum_qty_cents") > 28000))
    return (o.join(big, F.col("l_orderkey") == F.col("o_orderkey"))
             .select("o_orderkey", "o_custkey", "o_orderdate",
                     "sum_qty_cents"))


TPCH_Q14_SQL = """
  SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
                CAST(round(l.l_extendedprice * 100) AS BIGINT)
              * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS promo_e4,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
              * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
              AS BIGINT) AS total_e4
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= DATE '1995-09-01'
    AND l.l_shipdate < DATE '1995-10-01'
"""


def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue: broadcast part join + conditional
    revenue split (numerator/denominator in integer e4 units so the
    oracle compares exactly; the promo share is their ratio).

    UNREGISTERED since r06 (rotation documented as with cell_quadkey_z14):
    the driver artifact caps at 50 oracle rows and sim_ann_sq8 took the
    slot; this query's exact-oracle parity is pinned by
    tests/test_oracle_parity.py::test_tpch_q14_duckdb_parity against the
    identical TPCH_Q14_SQL, and its plan shape (broadcast part join) by
    the remaining 8 registered TPC-H rows."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long"))
    return (li.where((F.col("l_shipdate") >= F.lit("1995-09-01").cast("date"))
                     & (F.col("l_shipdate") < F.lit("1995-10-01").cast("date")))
              .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
              .agg(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                          .otherwise(F.lit(0))).alias("promo_e4"),
                   F.sum(rev).alias("total_e4")))


@register("raster_render_z6", None)
def raster_render_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (SURVEY §2.1): raster leg — render z6 tiles to PNG via the numpy
    scanline rasterizer; deterministic bytes surfaced as md5."""
    from .api import build_tiles
    from .operators.raster import render_tiles
    tiles = build_tiles(pages_df(spark, sf_dir), z=6)
    pngs = render_tiles(tiles, styles={"pages": (0x51, 0x21, 0x4D, 0xFF)})
    return pngs.select("z", "x", "y", F.md5(F.col("png")).alias("png_md5"))


@register("raster_render_styled_z6", None)
def raster_render_styled_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/J5 styled variant: the Mapnik-rule renderer over built tiles —
    draw-ordered rules, tag filter on the lang value, translucent point
    markers composited over a polygon-free background. Rows-only like
    raster_render_z6 (pixel bytes are not SQL); determinism surfaced as
    md5, pixel semantics pinned by tests/test_pyramid_raster.py."""
    from .api import build_tiles
    from .operators.raster import render_tiles_styled
    tiles = build_tiles(pages_df(spark, sf_dir), z=6)
    style = {"background": "#10203000",
             "layers": [
                 {"layer": "pages",
                  "point": {"fill": "#51214dcc", "radius": 2}},
                 {"layer": "pages",
                  "filter": {"key": "lang", "equals": "en"},
                  "point": {"fill": "#ffffffff", "radius": 1}}]}
    pngs = render_tiles_styled(tiles, style)
    return pngs.select("z", "x", "y", F.md5(F.col("png")).alias("png_md5"))


def cell_quadkey_z14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical cell index (H3/S2 stand-in — SURVEY §1.4): packed
    quadkey with ancestor-by-shift containment; docs per cell.

    UNREGISTERED since r05: the cell id is a bijective repack of
    tile_assign_z14's (z, x, y) keys over the identical grouping, so its
    oracle row duplicated that one — and the driver's CORRECTNESS
    artifact caps at 50 entries, so the registry keeps oracle-backed
    queries at exactly 50 (r04 lost sim_ann_ivf to the cap). Coverage
    lives in tests/test_mercator.py: pack/unpack bijection, the
    ancestor-by-shift property, and per-cell counts equal to
    tile_assign_z14's."""
    from .operators.keys import quadkey_col
    g = _geo(spark, sf_dir)
    t = g.select(tile_x_expr("mx_mm", 14).alias("x"),
                 tile_y_expr("my_mm", 14).alias("y"))
    return (t.select(quadkey_col(F.lit(14), F.col("x"), F.col("y")).alias("cell"))
             .groupBy("cell").agg(F.count("*").alias("n_docs")))


# ---------------------------------------------------------------------------
# S2 cell index (SURVEY §1.4 / north rule "H3/S2 index") — the REAL
# Hilbert cube-face index (functions/s2.py), not the quadkey repack above
# ---------------------------------------------------------------------------

from .functions.s2 import s2_cell_sql

_S2_LEVEL = 12

_S2_DOCS_SQL = f"""
  SELECT cell, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(min(mx_mm) AS BIGINT) AS min_mx,
         CAST(sum(my_mm) AS BIGINT) AS sum_my
  FROM ({s2_cell_sql(_S2_LEVEL,
                     f"(SELECT url, mx_mm, my_mm FROM {GEO_SQL} g)",
                     cols="url, mx_mm, my_mm")}) c
  GROUP BY cell
"""


@register("s2_cell_docs_l12", _S2_DOCS_SQL)
def s2_cell_docs_l12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs per level-12 S2 cell — the corpus-scale spatial shuffle key.

    Spark side: one Arrow-batched numpy Hilbert walk (8 table gathers per
    batch) producing a plain long, then a JVM-side hash aggregate; the
    oracle re-derives every id with an INDEPENDENT per-level 2-bit walk in
    chained DuckDB CTEs, so a single flipped bit anywhere in the projection
    or curve tables hash-mismatches. Value columns are all-numeric on
    purpose: a min(url) here turns both aggregate phases into
    SortAggregate (string agg buffers aren't mutable), the wrong shape at
    corpus scale. Scale: cells are quasi-equal-area on the sphere (unlike
    mercator tiles), so the groupBy keys stay balanced at any latitude
    mix; Hilbert locality makes cell ranges the natural partition-pruning
    predicate for a corpus bucketed by cell."""
    from .operators.keys import with_s2_cell
    g = _geo(spark, sf_dir)
    return (with_s2_cell(g, _S2_LEVEL)
            .groupBy("cell")
            .agg(F.count("*").alias("n_docs"),
                 F.min("mx_mm").alias("min_mx"),
                 F.sum("my_mm").alias("sum_my")))


# ---------------------------------------------------------------------------
# Web graph (engine addition; north-rule Common-Crawl framing) — HTML link
# extraction -> canonicalization -> link graph -> PageRank
# ---------------------------------------------------------------------------

# the pages synthesizer embeds outlinks as REAL <a href> anchors whose
# targets are closed-form in k (sources/pages.py `lnk` CTE): the Spark side
# parses the HTML bytes + canonicalizes per RFC 3986 (functions/url.py),
# while the oracle re-derives the already-canonical strings from the
# formulas — a genuine cross-check of the whole parse+canonicalize path
# (one flipped byte in the regex, the dot-segment walk, or the port/case
# normalization hash-mismatches).
_WG_TG_SQL = f"""(
  SELECT url, k,
         k - (k % 8) + ((k + 1) % 8) AS t1,
         k + 8 AS t2,
         CASE WHEN k >= 8 THEN k - 8 ELSE k + 16 END AS t3,
         ((k % 2147483648) * 2654435761 + 999983) % 2147483648 AS t4
  FROM (SELECT url, CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) AS k
        FROM (SELECT url FROM {PAGES} p0) u) l
)"""

_WG_PFX = "'https://crawl.example.org/page/'"

_WG_LINKS_SQL = f"""
  SELECT url AS src_url, dst_url, anchor, first_pos, nofollow FROM (
    SELECT url, {_WG_PFX} || CAST(t1 AS VARCHAR) AS dst_url,
           'to ' || CAST(t1 AS VARCHAR) AS anchor,
           CAST(0 AS BIGINT) AS first_pos, FALSE AS nofollow
           FROM {_WG_TG_SQL} t
    UNION ALL SELECT url, {_WG_PFX} || CAST(t2 AS VARCHAR), 'next',
           CAST(1 AS BIGINT), FALSE FROM {_WG_TG_SQL} t
    UNION ALL SELECT url, {_WG_PFX} || CAST(t3 AS VARCHAR), 'prev',
           CAST(2 AS BIGINT), FALSE FROM {_WG_TG_SQL} t
    UNION ALL SELECT url,
           'https://dead.example.net/lost/' || CAST(t4 AS VARCHAR) || '?q=1',
           'offsite', CAST(3 AS BIGINT), TRUE FROM {_WG_TG_SQL} t
  ) x
"""


def _links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extracted links, parse-ONCE semantics (the links/ stage of the
    durable webgraph job, as a session cache): the first web-graph query
    in a session pays the html parse; extract_links, in-degree, HITS,
    PageRank and the frontier all reuse the slim cached
    (src_url, dst_url, anchor, first_pos, nofollow) rows — at corpus
    scale this is a written table (jobs/webgraph_pagerank.py stage), not
    a cache."""
    from .operators.dedup import persist_latest
    from .operators.webgraph import extract_links
    return persist_latest(f"links:{sf_dir}",
                          extract_links(pages_df(spark, sf_dir)),
                          reuse=True)


@register("web_extract_links", _WG_LINKS_SQL)
def web_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical outlinks of every page: (src_url, dst_url, anchor,
    first_pos, nofollow), first occurrence in document order per distinct
    target, fragment-only self-links and duplicate spellings collapsed;
    nofollow reflects the rel token list (true exactly on the offsite
    dead link in the synthesized corpus).

    Spark side: shuffle-free — (url, html) projection off the scan into
    ONE mapInPandas pass (operators/webgraph.extract_links); the page's
    6 raw anchors (incl. an uppercase-host:443#fragment absolute, a
    ../dot-segment relative, a pure-#fragment self-link, and a duplicate
    spelling of the first target) reduce to these 4 canonical rows."""
    return _links(spark, sf_dir)


@register("web_extract_text", f"""
  SELECT url,
         'page ' || CAST(k AS VARCHAR) || chr(10)
         || 'Page ' || CAST(k AS VARCHAR) || chr(10)
         || 'to ' || CAST(t1 AS VARCHAR) || ' next prev offsite top again'
         || chr(10) || 'page ' || CAST(k AS VARCHAR) || ' body' AS text_x
  FROM {_WG_TG_SQL} t
""")
def web_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's byte-identical-text-per-url invariant, as an
    exact-hash oracle row: html→text over every page (comment/script
    strip, block-tag newlines, entity decode, whitespace canon —
    functions/htmltext) vs the closed-form text DuckDB rebuilds from k.
    One flipped byte anywhere in the extractor hash-mismatches.

    Spark side: shuffle-free — (url, html) pruned into one mapInPandas
    pass; the html bytes die inside the Arrow batch."""
    from .operators.webgraph import extract_text
    return extract_text(pages_df(spark, sf_dir))


TPCH_Q4_SQL = """
  SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
  FROM orders o
  WHERE o.o_orderdate >= DATE '1995-01-01'
    AND o.o_orderdate < DATE '1995-04-01'
    AND EXISTS (SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_returnflag = 'R')
  GROUP BY o.o_orderpriority
"""


def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style EXISTS semijoin: orders in one quarter having at
    least one returned line, counted by priority (the synthetic lineitem
    has no commit/receipt dates — l_returnflag='R' stands in as the
    existence predicate; the relational shape, a left-semi join feeding
    an aggregate, is the point). Catalyst plans the EXISTS as
    LeftSemi; the quarter filter pushes to the orders scan.

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity pinned
    by tests/test_oracle_parity.py::test_tpch_q4_duckdb_parity."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    returned = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (o.where((F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                    & (F.col("o_orderdate") < F.lit("1995-04-01").cast("date")))
             .join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
             .groupBy("o_orderpriority")
             .agg(F.count("*").alias("order_count")))


TPCH_Q7_SQL = """
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS INT) AS l_year,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
           AS BIGINT) AS volume_e4
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
      OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
  GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
"""


def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: the widest relational join in the suite — lineitem
    × supplier × nation (twice, aliased as supp/cust sides) × orders ×
    customer, nation-pair filtered, shipping volume by year in integer
    cents. Both nation sides and supplier/customer broadcast; lineitem
    never shuffles twice.

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity pinned
    by tests/test_oracle_parity.py::test_tpch_q7_duckdb_parity."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"),
                  F.col("n_name").alias("cust_nation"))
    vol = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long"))
    pair = ((F.col("supp_nation") == "NATION_3")
            & (F.col("cust_nation") == "NATION_7")) | \
           ((F.col("supp_nation") == "NATION_7")
            & (F.col("cust_nation") == "NATION_3"))
    return (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
              .join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
              .where(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").cast("int").alias("l_year"))
              .agg(F.sum(vol).alias("volume_e4")))


TPCH_Q9_SQL = """
  SELECT sn.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS l_year,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
           AS BIGINT) AS profit_e4
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  WHERE p.p_name LIKE '%red%'
  GROUP BY sn.n_name, year(l.l_shipdate)
"""


def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style: part-name LIKE filter driving a profit rollup by
    supplier nation × ship year (no partsupp table in the synthetic
    schema, so profit is discounted revenue — the join/filter/rollup
    shape is the point). The selective part side broadcasts after its
    LIKE filter.

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity pinned
    by tests/test_oracle_parity.py::test_tpch_q9_duckdb_parity."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long"))
    return (li.join(F.broadcast(p.where(F.col("p_name").contains("red"))
                                 .select("p_partkey")),
                    li.l_partkey == F.col("p_partkey"))
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("l_shipdate").cast("int").alias("l_year"))
              .agg(F.sum(rev).alias("profit_e4")))


def _hits_oracle_sql(iters: int, scale: int) -> str:
    """Unrolled integer HITS as chained DuckDB CTEs, term-for-term the
    arithmetic of operators/webgraph.hits_int (BIGINT sums, max-rescale
    with // per half-step)."""
    head = f"""
WITH pg AS (SELECT url FROM {PAGES} p0),
tg AS (SELECT url, k,
         k - (k % 8) + ((k + 1) % 8) AS t1,
         k + 8 AS t2,
         CASE WHEN k >= 8 THEN k - 8 ELSE k + 16 END AS t3,
         ((k % 2147483648) * 2654435761 + 999983) % 2147483648 AS t4
       FROM (SELECT url, CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) AS k
             FROM pg) l),
raw AS (
  SELECT url AS src, {_WG_PFX} || CAST(t1 AS VARCHAR) AS dst FROM tg
  UNION ALL SELECT url, {_WG_PFX} || CAST(t2 AS VARCHAR) FROM tg
  UNION ALL SELECT url, {_WG_PFX} || CAST(t3 AS VARCHAR) FROM tg
  UNION ALL SELECT url,
    'https://dead.example.net/lost/' || CAST(t4 AS VARCHAR) || '?q=1' FROM tg
),
edges AS (SELECT DISTINCT r.src, r.dst FROM raw r JOIN pg p2 ON r.dst = p2.url
          WHERE r.src <> r.dst),
h0 AS (SELECT url, CAST({scale} AS BIGINT) AS h FROM pg)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
ra{i} AS (SELECT e.dst AS url, CAST(sum(h.h) AS BIGINT) AS s
          FROM edges e JOIN h{i - 1} h ON h.url = e.src GROUP BY e.dst),
a{i} AS (SELECT url, (s * {scale}) // (SELECT max(s) FROM ra{i}) AS a
         FROM ra{i}),
rh{i} AS (SELECT e.src AS url, CAST(sum(a.a) AS BIGINT) AS s
          FROM edges e JOIN a{i} a ON a.url = e.dst GROUP BY e.src),
h{i} AS (SELECT url, (s * {scale}) // (SELECT max(s) FROM rh{i}) AS h
         FROM rh{i})""")
    tail = (f"""
SELECT p.url, CAST(COALESCE(a{iters}.a, 0) AS BIGINT) AS auth_i,
       CAST(COALESCE(h{iters}.h, 0) AS BIGINT) AS hub_i
FROM pg p LEFT JOIN a{iters} ON a{iters}.url = p.url
LEFT JOIN h{iters} ON h{iters}.url = p.url""")
    return head + "".join(steps) + tail


WEB_HITS_SQL = _hits_oracle_sql(2, 10**6)


def web_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point HITS hubs/authorities over the live link
    graph (2 iterations, scale 1e6 — bit-identical across engines).

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity is
    pinned by tests/test_oracle_parity.py::test_web_hits_duckdb_parity
    against the identical WEB_HITS_SQL."""
    from .operators.webgraph import edges_df, hits_int
    pg = pages_df(spark, sf_dir)
    return hits_int(pg.select("url"),
                    edges_df(pg, links=_links(spark, sf_dir),
                             unique=True),
                    iters=2, scale=10**6)


_HEX_SIZE_MM = 10**9  # 1000 km circumradius: ~40 cells across the world

from .operators.keys import hex_cell_sql as _hex_cell_sql  # noqa: E402

HEX_CELL_DOCS_SQL = f"""
  SELECT hq, hr, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(mx_mm) AS BIGINT) AS sum_mx,
         CAST(sum(my_mm) AS BIGINT) AS sum_my
  FROM (SELECT {_hex_cell_sql('mx_mm', 'my_mm', _HEX_SIZE_MM)}, mx_mm, my_mm
        FROM {GEO_SQL} g) h
  GROUP BY hq, hr
"""


def hex_cell_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs per axial hex cell (pointy-top hexagons, ~1000 km
    circumradius on the mercator plane) — the H3-style hexagonal
    grouping key next to the S2 one (s2_cell_docs_l12). Pure JVM double
    arithmetic + cube rounding, formula-identical in the DuckDB oracle,
    so one flipped constant anywhere in the assignment hash-mismatches.

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity pinned
    by tests/test_oracle_parity.py::test_hex_cell_docs_duckdb_parity."""
    from .operators.keys import with_hex_cell
    g = _geo(spark, sf_dir)
    return (with_hex_cell(g, _HEX_SIZE_MM)
            .groupBy("hq", "hr")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("mx_mm").alias("sum_mx"),
                 F.sum("my_mm").alias("sum_my")))


# deterministic md5-bucket sampling/splitting (operators/sampling.py) —
# pinned parity (50-row artifact cap); the bucket formula is identical
# BIGINT arithmetic in both engines
_SPLIT_BUCKET_DUCK = ("(('0x' || substr(md5(CAST(url AS VARCHAR)), 1, 15))"
                      "::BIGINT % 1000)")
_SAMPLE_GATE_DUCK = ("(('0x' || substr(md5(CAST(url AS VARCHAR) || "
                     "':sample'), 1, 15))::BIGINT % 16)")

WEB_SAMPLE_SPLIT_SQL = f"""
  SELECT url,
         CAST({_SPLIT_BUCKET_DUCK} AS BIGINT) AS bkt,
         CASE WHEN {_SPLIT_BUCKET_DUCK} < 980 THEN 'train'
              WHEN {_SPLIT_BUCKET_DUCK} < 990 THEN 'valid'
              ELSE 'test' END AS split
  FROM {PAGES} p
  WHERE {_SAMPLE_GATE_DUCK} < 3
"""


def web_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3/16 corpus sample + train/valid/test carve
    (980/10/10 over 1000 md5 buckets, sample gate salted so the two
    decisions are independent): per-url-deterministic, stable across
    runs, engines and cluster sizes — the selection contract a training
    pipeline needs (operators/sampling.py).

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity pinned
    by tests/test_oracle_parity.py::test_web_sample_split_duckdb_parity."""
    from .operators.sampling import assign_splits, bucket, sample_fraction
    pg = pages_df(spark, sf_dir).select("url")
    sampled = sample_fraction(pg, "url", 3, 16)
    return (assign_splits(sampled, "url",
                          [("train", 980), ("valid", 10), ("test", 10)])
            .select("url", bucket("url", 1000).alias("bkt"), "split"))


DOC_STRATIFIED_SQL = """
  SELECT doc_id, lang, n_chars, CAST(rnk AS INT) AS rnk FROM (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id) AS rnk
    FROM documents) x
  WHERE rnk <= 50
"""


def doc_stratified_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language top-50 documents by length (deterministic
    doc_id tiebreak) — the stratified-take corpus-mixing shape, one
    window exchange (operators/sampling.stratified_take).

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity pinned
    by tests/test_oracle_parity.py::test_doc_stratified_duckdb_parity."""
    from .operators.sampling import stratified_take
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
             .select("doc_id", "lang", "n_chars")
    return stratified_take(
        d, "lang", [F.col("n_chars").desc(), F.col("doc_id")], 50)


WEB_FRONTIER_SQL = f"""
  SELECT dst_url AS url, CAST(count(*) AS BIGINT) AS want_cnt,
         CAST(count(DISTINCT src_url) AS BIGINT) AS n_srcs
  FROM ({_WG_LINKS_SQL}) l
  WHERE NOT nofollow
    AND dst_url NOT IN (SELECT url FROM {PAGES} pf)
  GROUP BY dst_url
"""


def web_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl frontier: followable outlink targets not yet in the corpus,
    ranked by demand (operators/webgraph.frontier_df) — non-trivial on
    the synthetic corpus because t2/t3 neighbour keys fall off the edge
    of the existing key set.

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity pinned
    by tests/test_oracle_parity.py::test_web_frontier_duckdb_parity."""
    from .operators.webgraph import frontier_df
    return frontier_df(pages_df(spark, sf_dir),
                       links=_links(spark, sf_dir))


WEB_INDEGREE_SQL = f"""
  SELECT dst_url AS url, CAST(count(*) AS BIGINT) AS in_cnt,
         CAST(count(DISTINCT anchor) AS BIGINT) AS n_anchors,
         min(anchor) AS top_anchor
  FROM ({_WG_LINKS_SQL}) l
  JOIN (SELECT url AS purl FROM {PAGES} pp) p ON l.dst_url = p.purl
  GROUP BY dst_url
"""


def web_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page in-degree + anchor-text quality signals over the live
    link graph (operators/webgraph.indegree_signals).

    UNREGISTERED (the 50-row artifact cap): exact-oracle parity is
    pinned by tests/test_oracle_parity.py::test_web_indegree_duckdb_parity
    against the identical WEB_INDEGREE_SQL."""
    from .operators.webgraph import indegree_signals
    return indegree_signals(pages_df(spark, sf_dir),
                            links=_links(spark, sf_dir))


def _pagerank_oracle_sql(iters: int, scale: int, top: int) -> str:
    """Unrolled integer fixed-point PageRank as chained DuckDB CTEs
    (recursive CTEs cannot re-aggregate per step, so the K iterations are
    generated as K chained GROUP BYs). Arithmetic mirrors
    operators/webgraph.pagerank_int term for term: BIGINT floor division
    everywhere, dangling mass lost, 85/100 damping."""
    head = f"""
WITH pg AS (SELECT url FROM {PAGES} p0),
tg AS (SELECT url, k,
         k - (k % 8) + ((k + 1) % 8) AS t1,
         k + 8 AS t2,
         CASE WHEN k >= 8 THEN k - 8 ELSE k + 16 END AS t3,
         ((k % 2147483648) * 2654435761 + 999983) % 2147483648 AS t4
       FROM (SELECT url, CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) AS k
             FROM pg) l),
raw AS (
  SELECT url AS src, {_WG_PFX} || CAST(t1 AS VARCHAR) AS dst FROM tg
  UNION ALL SELECT url, {_WG_PFX} || CAST(t2 AS VARCHAR) FROM tg
  UNION ALL SELECT url, {_WG_PFX} || CAST(t3 AS VARCHAR) FROM tg
  UNION ALL SELECT url,
    'https://dead.example.net/lost/' || CAST(t4 AS VARCHAR) || '?q=1' FROM tg
),
edges AS (SELECT DISTINCT r.src, r.dst FROM raw r JOIN pg p2 ON r.dst = p2.url
          WHERE r.src <> r.dst),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pg),
r0 AS (SELECT p.url, ({scale} // n2.n) AS r FROM pg p CROSS JOIN nn n2)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
r{i} AS (
  SELECT p.url, (15 * ({scale} // n2.n)) // 100
                + (85 * COALESCE(s.c, 0)) // 100 AS r
  FROM pg p CROSS JOIN nn n2 LEFT JOIN (
    SELECT e.dst AS url, CAST(sum(r.r // d.d) AS BIGINT) AS c
    FROM edges e JOIN r{i - 1} r ON r.url = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.url = p.url)""")
    tail = (f"\nSELECT url, CAST(r AS BIGINT) AS rank_i FROM r{iters} "
            f"ORDER BY r DESC, url LIMIT {top}")
    return head + "".join(steps) + tail


_WG_TOP = 100


@register("web_pagerank_top",
          _pagerank_oracle_sql(5, 10**12, _WG_TOP))
def web_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 pages by integer fixed-point PageRank (5 iterations,
    damping 85/100, dangling mass lost; rank scaled by 1e12). Exact-hash
    checkable because every step is BIGINT floor division — Spark `div`
    and DuckDB `//` agree bit-for-bit on non-negative operands.

    Spark side: the full pipeline — HTML parse, RFC 3986 canonicalize,
    dead-link-dropping equi-join, then 5 join+groupBy-sum rounds with
    per-round localCheckpoint (the bigstar lineage discipline). Ordering
    deterministic under ties (rank DESC, url)."""
    from .operators.webgraph import edges_df, pagerank_int
    pg = pages_df(spark, sf_dir)
    nodes = pg.select("url")
    # unique=True: one fetch per page (parse_links dedups targets
    # per page) and the synthesized page urls are distinct by
    # construction — the edge distinct would be a pure extra shuffle
    ranks = pagerank_int(nodes,
                         edges_df(pg, links=_links(spark, sf_dir),
                                  unique=True),
                         iters=5, scale=10**12)
    return ranks.orderBy(F.col("rank_i").desc(), "url").limit(_WG_TOP)


_R_SCALE = WORLD_SIZE / float(1 << 6)
_R_H = 0.5 * WORLD_SIZE


@register("raster_pixels_oracle", f"""
  WITH t AS (
    SELECT {tile_x_sql('mx_mm', 6)} AS x, {tile_y_sql('my_mm', 6)} AS y,
           mx_mm, my_mm
    FROM {GEO_SQL} g
  ), q AS (
    SELECT x, y,
      CAST(floor((mx_mm/1000.0 - (x * {_R_SCALE!r} - {_R_H!r})) / {_R_SCALE!r}
                 * 4096 + 0.5) AS BIGINT) AS px,
      CAST(floor((({_R_H!r} - y * {_R_SCALE!r}) - my_mm/1000.0) / {_R_SCALE!r}
                 * 4096 + 0.5) AS BIGINT) AS py
    FROM t
  ), p AS (
    SELECT DISTINCT x, y,
           LEAST(GREATEST(px // 16, 0), 255) AS cx,
           LEAST(GREATEST(py // 16, 0), 255) AS cy
    FROM q
  )
  SELECT x, y,
         CAST(count(*) AS BIGINT) AS n_painted,
         CAST(sum(cx) AS BIGINT) AS sum_px,
         CAST(sum(cy) AS BIGINT) AS sum_py
  FROM p GROUP BY x, y
""")
def raster_pixels_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 + raster→VECTOR with a DERIVABLE oracle (the
    izer_unionize_oracle trick applied to the raster leg): render z6
    point tiles through the real MVT decode + scanline rasterizer to
    PNG, then run the real PNG decoder distributed (vectorize_tiles) and
    explode every painted pixel back into a point-feature row — the
    north rule's raster<->vector inverse leg in the same checked query.
    Per tile, the painted-pixel count AND coordinate sums are
    SQL-derivable from page coordinates via the encoder's exact
    quantization (floor(v*4096/scale + 0.5), the _mvt_build_oracle math)
    scaled to the 256px raster grid (//16, clip 255, matching
    render_tile's astype(int) + np.clip) — so pixel PLACEMENT, not just
    counts, is hash-verified end-to-end through
    encode→render→PNG→decode→explode. Pixel BYTES stay pinned by the
    PNG md5 goldens; render_tiles_stats equivalence is pinned by
    tests/test_pyramid_raster.py. (One registered row for the family:
    the driver's CORRECTNESS artifact caps at 50 entries, so the
    registry keeps oracle-backed queries at exactly 50.)"""
    from .operators.encode import build_point_tiles
    from .operators.keys import with_salt, with_tile_keys
    from .operators.raster import render_tiles, vectorize_tiles
    # identical pipeline to api.build_tiles(pages, z=6), but starting
    # from the session's geocode-once cache (_geo) — r08: the z6 build
    # dominated this query (6.1s of 8.3s) and most of it was
    # re-synthesizing and re-geocoding the pages table that every other
    # geo query already reads from the one-generation cache
    keyed = with_tile_keys(_geo(spark, sf_dir), 6)
    keyed = keyed.withColumn("feature_id",
                             keyed["url"].substr(32, 20).cast("long"))
    tiles = build_point_tiles(with_salt(keyed), 6)
    pngs = render_tiles(tiles, styles={"pages": (0x51, 0x21, 0x4D, 0xFF)})
    pts = vectorize_tiles(pngs)
    return (pts.groupBy("x", "y")
               .agg(F.count("*").alias("n_painted"),
                    F.sum("px").alias("sum_px"),
                    F.sum("py").alias("sum_py")))


