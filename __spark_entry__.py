"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full z14 tile build over sf0.001 pages.
queries()      — one entry per implemented operator (SURVEY.md §2),
                 registered in avecado_spark/queries.py.
oracle_sql()   — DuckDB twins of each query (omitted for non-SQL ops).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from avecado_spark import queries as _q  # noqa: E402
from avecado_spark.api import build_tiles  # noqa: E402
from avecado_spark.sources.pages import pages_df  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode sf0.001 pages, build z14 MVT tiles (one exchange
    on the tile key, then one mapInPandas that encodes and gzips each
    tile), return (z, x, y, tile_pbf, n_features, interesting)."""
    pages = pages_df(spark, "/root/testdata/sf0.001")
    return build_tiles(pages, z=14)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
