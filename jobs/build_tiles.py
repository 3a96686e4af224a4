#!/usr/bin/env python3
"""spark-submit entry for the bulk tile build (the engine's `vector-bulk`).

    spark-submit --py-files avecado_spark.zip jobs/build_tiles.py \
        --input /root/testdata/sf0.1 --zoom 14 --out /tmp/tiles \
        --lineage job-2026-08-16 [--pbf-tree]

Resumable: re-running with the same --out/--lineage anti-joins completed
partitions from the checkpoint manifest (per-partition lineage + metrics,
sources/manifest.py) and only builds what is missing.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with *.parquet")
    ap.add_argument("--zoom", type=int, default=14)
    ap.add_argument("--out", required=True)
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--multiplier", type=int, default=1)
    ap.add_argument("--pbf-tree", action="store_true",
                    help="also export the literal z/x/y.pbf directory tree")
    args = ap.parse_args()

    from avecado_spark.api import build_tiles, spark_session
    from avecado_spark.sources.manifest import run_resumable_build
    from avecado_spark.sources.pages import pages_df
    from avecado_spark.sources.sink import make_tilejson, write_pbf_tree

    spark = spark_session(app="build_tiles")
    lineage = args.lineage or f"{args.input}@z{args.zoom}x{args.multiplier}"
    tiles = build_tiles(pages_df(spark, args.input, args.multiplier),
                        z=args.zoom)
    metrics = run_resumable_build(spark, tiles, args.zoom, args.out, lineage)
    if args.pbf_tree:
        write_pbf_tree(spark.read.parquet(os.path.join(args.out, "tiles")),
                       os.path.join(args.out, "pbf"))
    with open(os.path.join(args.out, "tile.json"), "w") as f:
        f.write(make_tilejson("pages", "file://" + os.path.join(args.out, "pbf"),
                              0, args.zoom))
    print(json.dumps({"lineage": lineage, **metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
