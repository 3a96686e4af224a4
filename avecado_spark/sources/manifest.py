"""Checkpoint / resume manifest with per-partition lineage + metrics.

North-rule requirement: the bulk tile job must be resumable from checkpoint
with per-tile-partition lineage and metrics. The reference's counterpart is
the restartable tile queue (avecado_exporter.cpp:97-145) + its saved-tile
directory recipe; here the idiomatic Spark shape is a small parquet
manifest of completed work partitions:

  done(part_key long, n_tiles long, n_features long, bytes long,
       lineage string, finished_ts long)

  * part_key is a coarse spatial partition of the tile space (the top
    PART_BITS bits of x and y — 4096 buckets from z12 on, fewer below) so
    one manifest row covers many tiles and resume granularity stays
    bounded.
  * lineage records the input fingerprint (source path + query id) so a
    stale manifest never silently resumes a different job.
  * resume = anti-join pending partitions against the manifest — a
    broadcast anti-join on a tiny table.

At 10^12-doc scale the manifest stays ≤ thousands of rows per job; writes
are append-only parquet (one file per completed batch), safe to re-read
mid-job.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PART_BITS = 6  # 2^6 x-buckets × 2^6 y-buckets = 4096 partitions at z14

MANIFEST_SCHEMA = ("part_key long, n_tiles long, n_features long, "
                   "bytes long, lineage string, finished_ts long")


def _part_shift(z: int) -> int:
    """Right shift from zoom-z tile coords to part_key buckets: the top
    PART_BITS bits of x and y, or the top z // 2 bits below z12, so a
    low-zoom part_key still groups 4^(z - z // 2) tiles instead of one."""
    return z - min(PART_BITS, z // 2)


def part_key_col(z: int, x, y):
    """Coarse partition key of tile (x, y) at zoom z (see _part_shift)."""
    shift = _part_shift(z)
    return (F.shiftright(x, shift) * F.lit(1 << PART_BITS)
            + F.shiftright(y, shift))


def with_part_key(tiles: DataFrame, z: int) -> DataFrame:
    return tiles.withColumn("part_key", part_key_col(z, F.col("x"), F.col("y")))


def read_manifest(spark: SparkSession, path: str, lineage: str) -> DataFrame:
    """Completed part_keys for this lineage (empty frame if no manifest)."""
    mpath = os.path.join(path, "manifest")
    try:
        m = spark.read.parquet(mpath)
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return m.where(F.col("lineage") == lineage)


def pending_tiles(tiles: DataFrame, manifest: DataFrame) -> DataFrame:
    """Anti-join tiles (with part_key) against completed partitions."""
    done = manifest.select("part_key").distinct()
    return tiles.join(F.broadcast(done), "part_key", "left_anti")


def write_manifest_rows(spark: SparkSession, path: str, lineage: str,
                        completed: DataFrame) -> None:
    """Append per-partition metrics rows for completed work.
    completed: (part_key, n_tiles, n_features, bytes)."""
    mpath = os.path.join(path, "manifest")
    rows = (completed
            .withColumn("lineage", F.lit(lineage))
            .withColumn("finished_ts", F.lit(int(time.time())))
            .select("part_key", "n_tiles", "n_features", "bytes",
                    "lineage", "finished_ts"))
    rows.write.mode("append").parquet(mpath)


def run_resumable_build(spark: SparkSession, tiles: DataFrame, z: int,
                        out_path: str, lineage: str) -> dict:
    """Write tiles partition-by-partition with manifest checkpointing.

    Returns metrics {written_partitions, skipped_partitions, n_tiles}.
    Tiles for already-completed part_keys are skipped (resume path);
    new work is written to parquet partitioned by part_key and recorded
    in the manifest afterwards (write-then-record: a crash between the two
    re-does at most one batch — idempotent because the data write is
    partition-overwrite). The tile build runs once, in the write: the
    manifest rows and n_tiles come from one JVM-only scan of the part_key
    directories this lineage has not recorded (at most 4096), so the
    tiles table is assumed to hold this lineage's tiles only."""
    keyed = with_part_key(tiles, z)
    manifest = read_manifest(spark, out_path, lineage)
    done_keys = [r.part_key for r in
                 manifest.select("part_key").distinct().collect()]
    pend = pending_tiles(keyed, manifest)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    data_path = os.path.join(out_path, "tiles")
    pend.write.mode("overwrite").partitionBy("part_key").parquet(data_path)

    written = spark.read.schema(keyed.schema).parquet(data_path)
    if done_keys:
        written = written.where(~F.col("part_key").isin(done_keys))
    rows = (written.groupBy("part_key")
            .agg(F.count("*").alias("n_tiles"),
                 F.sum("n_features").alias("n_features"),
                 F.sum(F.length("tile_pbf")).alias("bytes"))
            .collect())
    completed = spark.createDataFrame(
        rows, "part_key long, n_tiles long, n_features long, bytes long")
    write_manifest_rows(spark, out_path, lineage, completed)
    return {"written_partitions": len(rows),
            "skipped_partitions": len(done_keys),
            "n_tiles": sum(r.n_tiles for r in rows)}


def read_tiles(spark: SparkSession, out_path: str,
               part_keys: list[int] | None = None) -> DataFrame:
    """Read the part_key-partitioned tile table back. A part_key filter is
    a PARTITION filter (part_key is the physical partition column), so the
    scan plans only the matching directories — at 10^12-doc scale a serving
    read of one region touches its buckets, not the table."""
    t = spark.read.parquet(os.path.join(out_path, "tiles"))
    if part_keys is not None:
        t = t.where(F.col("part_key").isin([int(k) for k in part_keys]))
    return t


def part_keys_for_tile_range(z: int, x0: int, x1: int, y0: int, y1: int) -> list[int]:
    """All part_keys covering the inclusive tile-coordinate rectangle —
    the serving-side mapping from a viewport to partitions."""
    shift = _part_shift(z)
    keys = set()
    for bx in range(x0 >> shift, (x1 >> shift) + 1):
        for by in range(y0 >> shift, (y1 >> shift) + 1):
            keys.add(bx * (1 << PART_BITS) + by)
    return sorted(keys)


def read_tiles_bbox(spark: SparkSession, out_path: str, z: int,
                    x0: int, x1: int, y0: int, y1: int) -> DataFrame:
    """Viewport read: partition-pruned by part_key, then exact (x, y) range
    predicates pushed to parquet row groups within the pruned buckets."""
    keys = part_keys_for_tile_range(z, x0, x1, y0, y1)
    t = read_tiles(spark, out_path, keys)
    return t.where((F.col("z") == z)
                   & F.col("x").between(x0, x1) & F.col("y").between(y0, y1))
