#!/usr/bin/env python3
"""spark-submit entry: materialize the geocoded-pages table once.

    spark-submit --py-files avecado_spark.zip jobs/geocode_pages.py \
        --input /root/testdata/sf0.1 --out /tmp/geo_pages [--buckets 64]

The north star's "lat/lon extracted once from text" as a written
artifact: at 10^12 documents the geocode pass (keys.geocode, a JVM-side
regexp_extract) reads every page's text exactly once and lands the slim
(url, mx_mm, my_mm, x, y) projection in storage, bucketed by the z14
tile key — so every downstream consumer (tile builds at any zoom via key
shifts, spatial joins, per-tile stats) starts from a 3-column scan
instead of re-running the regex over the raw corpus, and tile-keyed
joins between geocoded tables are Exchange-free (the bucketed-join
property asserted in tests/test_plan_quality.py). The in-session analog
is queries._geo's one-generation cache; this job is the durable form.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def materialize_geocoded(spark, sf_dir: str, out: str,
                         buckets: int = 16, z: int = 14,
                         s2_level: int = 12) -> dict:
    """Write the geocoded table (bucketed by tile x; sorted by x, y);
    returns row-count metrics. Importable (tests drive a tmp dir).

    Carries ALL the key families the north star names — z/x/y tile keys
    (the build/bucketing key), the S2 cell id at `s2_level` (the
    skew-safe equal-area grouping key with Hilbert range locality), and
    the axial hex cell (hq, hr — the H3-style neighborhood key) — so
    downstream consumers never re-derive any of them from coordinates."""
    from avecado_spark.operators.keys import (geocode, with_hex_cell,
                                              with_s2_cell, with_tile_keys)
    from avecado_spark.sources.pages import pages_df

    g = with_hex_cell(
        with_s2_cell(with_tile_keys(geocode(pages_df(spark, sf_dir)), z),
                     s2_level, out="s2_cell"), 10**9) \
        .select("url", "mx_mm", "my_mm", "x", "y", "s2_cell", "hq", "hr")
    table = f"geo_pages_z{z}"
    (g.write.mode("overwrite")
      .bucketBy(buckets, "x").sortBy("x", "y")
      .option("path", out)
      .saveAsTable(table))
    n = spark.read.parquet(out).count()
    return {"rows": n, "table": table, "path": out, "z": z,
            "buckets": buckets}


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--zoom", type=int, default=14)
    args = ap.parse_args(argv)

    from avecado_spark.api import spark_session
    spark = spark_session(app="geocode_pages")
    spark.sparkContext.setLogLevel("WARN")
    metrics = materialize_geocoded(spark, args.input, args.out,
                                   args.buckets, args.zoom)
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
