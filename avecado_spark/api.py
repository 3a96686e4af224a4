"""Public API of the engine.

Mirrors the reference's Python binding surface
(/root/reference/src/python_module.cpp:193-227 `avecado.make_vector_tile`)
plus the bulk entry point the reference exposes as `avecado vector-bulk`
(/root/reference/src/avecado_exporter.cpp:329-504), re-expressed as
DataFrame-in / DataFrame-out.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .operators.adminizer import (adminize_points,  # noqa: F401
                                  adminize_points_knn_rings,
                                  adminize_points_rings)
from .operators.encode import (build_feature_tiles,  # noqa: F401
                               build_point_tiles, make_vector_tile,
                               merge_point_partials)
from .operators.keys import geocode, with_salt, with_tile_keys
from .operators.raster import (render_tile_styled,  # noqa: F401
                               render_tiles_styled)
from .sources.fetch import (fetch_from_tilejson,  # noqa: F401
                            fetch_tiles, fetch_tiles_conditional,
                            fetch_tiles_overzoom)
from .sources.pages import pages_df, pages_oracle_sql  # noqa: F401


def spark_session(master: str | None = None, app: str = "avecado_spark",
                  shuffle_partitions: int | None = None,
                  max_partition_bytes: str | None = None) -> SparkSession:
    """Session with the engine's scale-oriented defaults: AQE on (runtime
    re-plan + skew-join splitting), Arrow enabled for pandas UDFs."""
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    shm = "/dev/shm/spark-local"
    os.makedirs(shm, exist_ok=True)
    b = (b.config("spark.driver.memory",
                  os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
          # this sandbox's filesystem makes shuffle syscalls expensive;
          # tmpfs local dirs keep shuffle I/O off the slow path
          .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", shm))
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.adaptive.skewJoin.enabled", "true")
          # keep AQE from coalescing python-UDF stages below core count —
          # Arrow UDF stages are CPU-bound at far less than 64MB/partition
          .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
          .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
          # ... and parallelismFirst alone still floors at minPartitionSize
          # (default 1m): a tiny-bytes shuffle feeding a compute-heavy
          # stage (e.g. slim keys fanning into html synthesis + an Arrow
          # UDF) coalesced to ~10 tasks on 16 cores. 64k lets AQE keep
          # core-count parallelism; real large shuffles are unaffected
          # (r06: web link extraction 13.6s -> 3.4s at 16 cores)
          .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
          .config("spark.sql.execution.arrow.pyspark.enabled", "true")
          .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
          .config("spark.sql.parquet.filterPushdown", "true"))
    # Small test tables (a few MB per file) want a tiny maxPartitionBytes
    # (4m) to parallelize the scan, so bench/tests pass one. The
    # UNCONFIGURED path keeps Spark's 128m default — a 100 TB deployment
    # must not inherit a 32x task-count inflation by accident.
    if max_partition_bytes:
        b = b.config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = b.getOrCreate()
    # listing a partitioned table (the tile table has up to 4096 part_key
    # directories) runs one task per directory, up to this setting's
    # default of 10,000 tasks; a task per core lists them as fast
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism",
                   str(spark.sparkContext.defaultParallelism))
    return spark


def build_tiles(pages: DataFrame, z: int, **encode_kwargs) -> DataFrame:
    """Bulk tile build: pages table → (z, x, y, tile_pbf, n_features,
    interesting). The Spark translation of `avecado vector-bulk`: tile keys
    are derived from the data, so empty tiles are pruned for free
    (reference empty-subtree pruning, avecado_exporter.cpp:193-202)."""
    geo = geocode(pages)
    keyed = with_tile_keys(geo, z)
    keyed = keyed.withColumn(
        "feature_id",
        keyed["url"].substr(32, 20).cast("long"))  # trailing page number
    return build_point_tiles(with_salt(keyed), z, **encode_kwargs)
