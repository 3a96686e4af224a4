"""Geocoding + tile/cell key assignment + hot-key salting.

Pipeline position: pages(url, warc_ts, html, text, lang)
  → geocode (`regexp_extract` + `try_cast` over `text`, JVM-side — the
    same pattern the DuckDB oracle runs; byte-identical per url —
    BASELINE.json.input_hint invariant)
  → (mx_mm, my_mm) integer mercator millimeters
  → (z, x, y) tile keys (integer math — see functions/mercator.py) and a
    quadkey cell id (H3/S2 stand-in: the h3 library is not available in this
    container, so the hierarchical cell index is the z-interleaved quadkey,
    which has the same containment-by-prefix property used for joins)
  → salt column: a data-independent sub-key under the tile key. The point
    build sorts on (tile key, salt), so the salt fixes the feature order
    inside a tile, and partial builds (streaming ingest) keep one row per
    (tile key, salt).

Scale notes (100 TB / 10^12 docs):
  * `html` (the huge column) is never referenced here — Catalyst prunes it
    from the scan as long as callers select it away before shuffles.
  * geocode is two built-in expressions in the scan's own codegen stage —
    no Python boundary, so `text` is never serialized to a worker (the
    design rule: UDFs only where built-ins cannot express the semantics).
  * salting is data-independent (hash of url) so it needs no skew statistics;
    AQE skew-join splitting is enabled in the session conf as the backstop.
    The one-stage point build does not spread a hot tile over salts: its
    vectorized encode leaves that task bound by the tile's gzip, which is
    serial per tile anyway.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.mercator import tile_x_expr, tile_y_expr

_GEO_RE = r"geo:mxm=(-?\d+);mym=(-?\d+)"


def geocode(pages: DataFrame) -> DataFrame:
    """pages → + (mx_mm, my_mm). Drops rows with no geo marker.

    Two built-in JVM expressions over `text` — the same `regexp_extract`
    the DuckDB oracle runs (queries.GEO_SQL), so no Python worker sees the
    text column. The first marker wins; `\\d` is ASCII-only (Java regex,
    like RE2), so non-ASCII digits do not match. `try_cast` because the
    session runs with ANSI on: a marker that overflows a long becomes null
    and its page is dropped instead of failing the job."""
    text = F.col("text")
    mx = F.regexp_extract(text, _GEO_RE, 1).try_cast("long")
    my = F.regexp_extract(text, _GEO_RE, 2).try_cast("long")
    return (pages.withColumn("mx_mm", mx).withColumn("my_mm", my)
            .where(F.col("mx_mm").isNotNull() & F.col("my_mm").isNotNull()))


def with_tile_keys(df: DataFrame, z: int,
                   mx_col: str = "mx_mm", my_col: str = "my_mm") -> DataFrame:
    """Add (z, x, y) tile key columns via exact integer math."""
    return (df
            .withColumn("z", F.lit(z))
            .withColumn("x", tile_x_expr(mx_col, z))
            .withColumn("y", tile_y_expr(my_col, z)))


def quadkey_col(z: Column, x: Column, y: Column) -> Column:
    """Hierarchical cell id with prefix-containment (H3/S2 stand-in):
    cell = (z << 60) | interleave-free packed key. Ancestors are derived by
    right-shifting x and y — same operation as overzoom (overzoom.cpp:14-23).
    Packed as z*2^58 + x*2^29 + y (valid to z=29)."""
    return (z.cast("long") * F.lit(1 << 58)
            + x.cast("long") * F.lit(1 << 29)
            + y.cast("long"))


def with_salt(df: DataFrame, n_salts: int = 16, key_col: str = "url") -> DataFrame:
    """Deterministic salt in [0, n_salts): orders features inside a point
    tile (the point build sorts each tile on it, so any long is valid) and
    keys the partial rows of build_point_tiles(partials_only=True). The
    only place the salt's range is chosen."""
    return df.withColumn("salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salts)))


def s2_cell_udf(level: int):
    """Arrow-batched pandas UDF: (mx_mm, my_mm) → signed int64 S2 cell id at
    `level` (functions/s2.py — the real Hilbert cube-face index, replacing
    the quadkey stand-in above).  The Hilbert walk is 8 vectorized numpy
    table gathers per batch — no per-row python — and the output is a plain
    long, so everything downstream (groupBy, containment range joins) stays
    JVM-side."""
    from ..functions import s2

    @F.pandas_udf(LongType())
    def _s2(mx_mm: pd.Series, my_mm: pd.Series) -> pd.Series:
        ids = s2.cellid_from_mercator_mm(mx_mm.to_numpy(np.int64),
                                         my_mm.to_numpy(np.int64), level)
        return pd.Series(ids)

    return _s2


def with_s2_cell(df: DataFrame, level: int,
                 mx_col: str = "mx_mm", my_col: str = "my_mm",
                 out: str = "cell") -> DataFrame:
    """Add the S2 cell-id column — the skew-safe shuffle key for corpus-scale
    grouping (quasi-equal-area cells) with Hilbert locality for range
    co-partitioning."""
    return df.withColumn(out, s2_cell_udf(level)(F.col(mx_col), F.col(my_col)))


# ---------------------------------------------------------------------------
# Hexagonal grid binning (H3-style axial cells on the mercator plane)
# ---------------------------------------------------------------------------
#
# The north star names "H3/S2 cells" as the corpus grouping keys; S2 is
# with_s2_cell above. This is the hexagonal counterpart: pointy-top
# hexagons of circumradius `size` on the Web-Mercator plane, addressed by
# axial (hq, hr) integers via the standard cube-rounding algorithm
# (Amit Patel's hex-grid construction; public knowledge). Hexagons give
# the most compact equal-size neighborhoods of any plane tiling — the
# usual reason pipelines pick H3-style bins over squares for density
# stats and join keys.
#
# Everything is plain double arithmetic + floor + CASE — the identical
# expression tree runs JVM-side in Spark (whole-stage codegen, no
# Python) and verbatim in DuckDB, so the cell assignment is
# engine-exact and DuckDB-oracle-checkable (queries.hex_cell_docs).

_SQRT3 = 1.7320508075688772  # literal so both engines fold the same value


def hex_cell_cols(mx: Column, my: Column, size_mm: int) -> tuple[Column, Column]:
    """Axial (hq, hr) of the pointy-top hexagon (circumradius `size_mm`,
    mercator mm) containing (mx, my). Cube-rounded: exact nearest-center
    assignment, not a shear approximation."""
    fx = mx.cast("double")
    fy = my.cast("double")
    s = float(size_mm)
    q = (F.lit(_SQRT3 / 3.0) * fx - F.lit(1.0 / 3.0) * fy) / F.lit(s)
    r = (F.lit(2.0 / 3.0) * fy) / F.lit(s)
    y0 = -q - r
    rx = F.floor(q + F.lit(0.5))
    rz = F.floor(r + F.lit(0.5))
    ry = F.floor(y0 + F.lit(0.5))
    dx = F.abs(rx.cast("double") - q)
    dy = F.abs(ry.cast("double") - y0)
    dz = F.abs(rz.cast("double") - r)
    big_dx = (dx > dy) & (dx > dz)
    hq = F.when(big_dx, -ry - rz).otherwise(rx)
    # rz is re-derived in the ELSE branch of the standard algorithm —
    # i.e. whenever dx is not largest AND NOT (dy > dz); ties dy == dz
    # must fall here or the cube coords stop summing to zero
    hr = F.when(~big_dx & (dz >= dy), -rx - ry).otherwise(rz)
    return hq.cast("long"), hr.cast("long")


def hex_cell_sql(mx: str, my: str, size_mm: int) -> str:
    """The identical assignment as a SQL scalar subexpression pair —
    returns a fragment usable as `SELECT {frag} FROM ...` yielding
    hq, hr columns. Formula-for-formula the Spark expression above."""
    s = float(size_mm)
    q = f"(({_SQRT3 / 3.0!r} * CAST({mx} AS DOUBLE) - {1.0 / 3.0!r} * CAST({my} AS DOUBLE)) / {s!r})"
    r = f"(({2.0 / 3.0!r} * CAST({my} AS DOUBLE)) / {s!r})"
    y0 = f"(-{q} - {r})"
    rx, rz, ry = (f"floor({q} + 0.5)", f"floor({r} + 0.5)",
                  f"floor({y0} + 0.5)")
    dx = f"abs({rx} - {q})"
    dy = f"abs({ry} - {y0})"
    dz = f"abs({rz} - {r})"
    big_dx = f"({dx} > {dy} AND {dx} > {dz})"
    hq = f"CAST(CASE WHEN {big_dx} THEN -{ry} - {rz} ELSE {rx} END AS BIGINT)"
    hr = (f"CAST(CASE WHEN NOT {big_dx} AND {dz} >= {dy} "
          f"THEN -{rx} - {ry} ELSE {rz} END AS BIGINT)")
    return f"{hq} AS hq, {hr} AS hr"


def with_hex_cell(df: DataFrame, size_mm: int, mx_col: str = "mx_mm",
                  my_col: str = "my_mm") -> DataFrame:
    """Add axial hex-cell columns (hq, hr) — the hexagonal grouping key
    (JVM-side expressions; shuffle-free)."""
    hq, hr = hex_cell_cols(F.col(mx_col), F.col(my_col), size_mm)
    return df.withColumn("hq", hq).withColumn("hr", hr)
