"""Streaming tile ingest: crawl slices arrive as new parquet files under a
directory; tiles build INCREMENTALLY without re-reading history.

The point build (operators/encode.py) makes whole tiles in one stage; its
partial form, build_point_tiles(partials_only=True), stops at one row per
(x, y, salt) holding the quantized protobuf feature blocks, and
merge_point_partials turns any union of such rows into tiles through the
same tile writer. A micro-batch is just another salt slice: each batch
appends PARTIAL rows tagged with batch_id, and finalization merges them
per tile by byte concatenation. Feature blocks index the FIXED global
key/value vocabulary, so partials from different batches merge exactly
like salt slices within one job.

  streaming_tile_counts   — per-tile doc counts maintained incrementally
      (update mode): the streaming face of tile_assign; availableNow
      parity with the batch query is tested.
  incremental_tile_build  — foreachBatch partial-row ingest with exactly-once
      semantics: the partial table is partitioned by batch_id and written
      with dynamic partition overwrite, so a replayed batch (restart from
      the streaming checkpoint) REPLACES its own partition instead of
      duplicating it.
  finalize_tiles          — merge over the partial table →
      (z, x, y, tile_pbf, n_features, interesting). Rows with the same
      pkey across batches are ordered by batch_id for deterministic bytes.

Scale shape: per batch the work is map-side geometry + one shuffle on
pkey; history is never rescanned. Finalize shuffles only the
already-encoded blocks (≈100 bytes/feature). A serving deployment
finalizes per region (part_key pruning) or on a schedule.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.encode import merge_point_partials
from ..operators.keys import geocode, with_salt, with_tile_keys


def _pages_stream(spark: SparkSession, pages_path: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    static = spark.read.parquet(pages_path)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_path)


def streaming_tile_counts(spark: SparkSession, pages_path: str,
                          z: int = 14) -> DataFrame:
    """Per-tile doc counts maintained incrementally — the streaming face of
    tile_assign_z14 (update mode; no watermark: tile counts are keyed by
    space, not time, so state is the live tile set)."""
    stream = _pages_stream(spark, pages_path)
    g = geocode(stream)
    keyed = with_tile_keys(g, z)
    return keyed.groupBy("x", "y").agg(F.count("*").alias("n_docs"))


def incremental_tile_build(spark: SparkSession, pages_path: str, z: int,
                           out_path: str, n_salts: int = 16,
                           max_files_per_trigger: int | None = 1) -> int:
    """Run the partial-row ingest over all currently-available crawl slices
    (Trigger.AvailableNow) and append batch-tagged partials to
    {out_path}/partials. Returns the number of micro-batches processed.
    Restart-safe: the streaming checkpoint ({out_path}/_checkpoint)
    replays unfinished batches, and dynamic partition overwrite on
    batch_id makes the replay idempotent."""
    partials_path = os.path.join(out_path, "partials")
    checkpoint = os.path.join(out_path, "_checkpoint")
    n_batches = {"n": 0}

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..api import build_tiles
        partial = build_tiles(batch_df, z=z, n_salts=n_salts,
                              partials_only=True)
        # dynamic overwrite is scoped to THIS writer (only the replayed
        # batch_id partition is replaced) — never set on the shared
        # session, where it would silently change later static
        # INSERT OVERWRITEs in the same session.
        (partial.withColumn("batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite").partitionBy("batch_id")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(partials_path))
        n_batches["n"] += 1

    stream = _pages_stream(spark, pages_path, max_files_per_trigger)
    q = (stream.writeStream
         .foreachBatch(handle_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return n_batches["n"]


def finalize_tiles(spark: SparkSession, out_path: str, z: int,
                   n_salts: int = 16,
                   compression_level: int = 6) -> DataFrame:
    """Merge every partial batch → final tiles. batch_id
    orders same-pkey rows so tile bytes are deterministic across runs."""
    partial = spark.read.parquet(os.path.join(out_path, "partials"))
    return merge_point_partials(partial, z, n_salts=n_salts,
                                compression_level=compression_level,
                                extra_sort_cols=("batch_id",))
