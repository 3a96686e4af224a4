"""Seeded input generation and independent reference results.

Everything the program reads is made here from the workload seed:

* a TPC-H-shaped `lineitem` key table (sparse order keys, 1-7 lines per
  order), from which the pages table is rendered by the repository's DuckDB
  pages template (`sources.pages.pages_oracle_sql`), shuffled by the seed and
  split into parquet files;
* a 100 x 100 grid of hexagonal admin polygons, offset by the seed.

References come from a second engine or from plain numpy, never from the
Spark code under test: the DuckDB oracle SQL of `mvt_build_z14` and
`web_pagerank_top`, and a brute-force k-nearest-polygon scan over a sample
of points.
"""

from __future__ import annotations

import os

import numpy as np

WORLD_MM = 40075016680  # Web-Mercator world width in integer millimetres
HEX_SIDE = 100          # 10^4 polygons
KNN_K = 2


def lineitem_keys(seed: int, n_orders: int):
    """(l_orderkey, l_linenumber) for `n_orders` sparse orders of 1-7 lines."""
    rng = np.random.default_rng(seed)
    orders = np.sort(rng.choice(4 * n_orders, size=n_orders, replace=False)) + 1
    lines = rng.integers(1, 8, size=n_orders)
    orderkey = np.repeat(orders, lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(len(orderkey)) - first + 1
    return orderkey.astype(np.int64), linenumber.astype(np.int64)


def duck(lineitem):
    """A DuckDB connection with the generated keys registered as `lineitem`,
    the view every oracle text of the repository reads."""
    import duckdb
    import pyarrow as pa
    con = duckdb.connect()
    con.register("lineitem", pa.table({"l_orderkey": lineitem[0],
                                       "l_linenumber": lineitem[1]}))
    return con


def write_pages(con, seed: int, out_dir: str, n_files: int) -> int:
    """Render the pages table, shuffle its rows by the seed and write it as
    `n_files` parquet files. Returns the row count."""
    import pyarrow.parquet as pq

    from avecado_spark.sources.pages import pages_oracle_sql
    # DuckDB's parallel scan returns rows in no fixed order; sort first so
    # the seeded permutation alone decides the row order
    tbl = con.sql(f"SELECT * FROM {pages_oracle_sql()} p ORDER BY url").arrow()
    tbl = tbl.take(np.random.default_rng(seed + 1).permutation(tbl.num_rows))
    os.makedirs(out_dir, exist_ok=True)
    per = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * per, per),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return tbl.num_rows


def hex_polygons(seed: int) -> list[tuple[int, list, str]]:
    """10^4 hexagons (circumradius 0.35 x spacing) on a 100 x 100 grid,
    shifted by a seeded sub-cell offset: (idx, ring, value). The grid spans
    1000 mercator worlds, the extent of the repository's historical kNN
    probe grid (`bench._bench_polys_10k`): kNN is a plane metric, so the
    scale only sets how many polygons the pages fall near."""
    rng = np.random.default_rng(seed + 2)
    extent = 1000.0 * WORLD_MM
    spacing = extent / HEX_SIDE
    ox, oy = rng.uniform(0.0, spacing, size=2)
    ang = np.linspace(0.0, 2 * np.pi, 7)[:-1] + 0.3
    hx = 0.35 * spacing * np.cos(ang)
    hy = 0.35 * spacing * np.sin(ang)
    polys = []
    for gy in range(HEX_SIDE):
        for gx in range(HEX_SIDE):
            i = gy * HEX_SIDE + gx
            cx = -extent / 2 + gx * spacing + ox
            cy = -extent / 2 + gy * spacing + oy
            polys.append((i, [(cx + dx, cy + dy) for dx, dy in zip(hx, hy)],
                          f"adm{i}"))
    return polys


def tile_reference(con, z: int = 14) -> dict:
    """Order-insensitive aggregates of the DuckDB tile oracle:
    (z, x, y, n_features, interesting) per tile."""
    from avecado_spark.queries import oracle_sql
    sql = oracle_sql()[f"mvt_build_z{z}"]
    row = con.sql(f"""SELECT count(*), sum(n_features), sum(x), sum(y),
                             sum(n_features * x), sum(n_features * y),
                             sum(CASE WHEN interesting THEN 1 ELSE 0 END)
                      FROM ({sql}) o""").fetchone()
    return dict(zip(("tiles", "docs", "sum_x", "sum_y", "sum_nx", "sum_ny",
                     "interesting"), (int(v) for v in row)))


def pagerank_reference(con) -> list[tuple[str, int]]:
    """The exact top-100 (url, rank_i) from the DuckDB PageRank oracle."""
    from avecado_spark.queries import oracle_sql
    return [(u, int(r)) for u, r in
            con.sql(oracle_sql()["web_pagerank_top"]).fetchall()]


def geo_sample(con, seed: int, n: int) -> list[tuple[str, int, int]]:
    """A seeded sample of (url, mx_mm, my_mm) for the kNN spot check."""
    from avecado_spark.sources.pages import pages_oracle_sql
    rows = con.sql(f"""
        SELECT url,
          CAST(regexp_extract(text, 'geo:mxm=(-?[0-9]+);', 1) AS BIGINT),
          CAST(regexp_extract(text, ';mym=(-?[0-9]+)', 1) AS BIGINT)
        FROM {pages_oracle_sql()} p ORDER BY url""").fetchall()
    pick = np.random.default_rng(seed + 3).choice(len(rows), size=n,
                                                  replace=False)
    return [rows[i] for i in sorted(pick)]


def knn_brute_force(points, polygons, k: int = KNN_K) -> dict:
    """url -> [admin value, ...] of the k nearest polygons by ring distance
    (0 inside, else the nearest edge), ties by polygon index; a dense numpy
    scan over every polygon."""
    idx = np.array([i for i, _, _ in polygons])
    rings = np.array([r for _, r, _ in polygons], dtype=np.float64)
    a = rings                                  # (m, 6, 2) edge starts
    b = np.roll(rings, -1, axis=1)             # edge ends
    out = {}
    for url, px, py in points:
        p = np.array([px, py], dtype=np.float64)
        ab = b - a
        t = np.clip(((p - a) * ab).sum(-1) / (ab * ab).sum(-1), 0.0, 1.0)
        d2 = ((a + t[..., None] * ab - p) ** 2).sum(-1).min(axis=1)
        cross = ((a[..., 1] > py) != (b[..., 1] > py)) & (
            px < a[..., 0] + (py - a[..., 1]) * ab[..., 0] / np.where(
                ab[..., 1] == 0, 1.0, ab[..., 1]))
        d2[cross.sum(axis=1) % 2 == 1] = 0.0
        order = np.lexsort((idx, d2))[:k]
        out[url] = [polygons[j][2] for j in order]
    return out
