"""Tile sinks: z/x/y.pbf directory layout and the TileJSON job manifest.

Reference:
  file sink  — /root/reference/src/avecado_exporter.cpp:287-293 writes
               {out}/{z}/{x}/{y}.pbf (gzip-framed protobuf, dirs created)
  TileJSON   — /root/reference/src/tilejson.cpp:228-318 make_tilejson
               (tilejson spec 2.0.0: tiles URL pattern, minzoom/maxzoom,
               bounds, optional maskLevel)

The parquet/partitioned table IS the primary sink at scale (one row per
tile, partitioned); the literal z/x/y.pbf tree is a foreachPartition export
for serving-compatible output.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def write_pbf_tree(tiles: DataFrame, out_dir: str) -> None:
    """Write {out_dir}/{z}/{x}/{y}.pbf per tile row — executor-side
    foreachPartition, no driver collect. Local/NFS paths only (object
    stores should use the parquet sink instead)."""

    def write_partition(rows):
        for r in rows:
            d = os.path.join(out_dir, str(r.z), str(r.x))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{r.y}.pbf"), "wb") as f:
                f.write(bytes(r.tile_pbf))

    tiles.select("z", "x", "y", "tile_pbf").foreachPartition(write_partition)


def make_tilejson(name: str, base_url: str, min_zoom: int, max_zoom: int,
                  bounds=(-180.0, -85.0511, 180.0, 85.0511),
                  mask_level: int | None = None) -> str:
    """TileJSON 2.0.0 manifest string (reference tilejson.cpp:228-318)."""
    doc = {
        "tilejson": "2.0.0",
        "name": name,
        "minzoom": min_zoom,
        "maxzoom": max_zoom,
        "bounds": list(bounds),
        "tiles": [f"{base_url}/{{z}}/{{x}}/{{y}}.pbf"],
        "format": "pbf",
        "scheme": "xyz",
    }
    if mask_level is not None:
        doc["maskLevel"] = str(mask_level)
    return json.dumps(doc, sort_keys=True)


def parse_tilejson(text: str) -> dict:
    """Parse a TileJSON document (gzip-sniffed upstream if needed;
    reference tilejson.cpp:102-149)."""
    doc = json.loads(text)
    if "tiles" not in doc or not doc["tiles"]:
        raise ValueError("TileJSON missing tiles URLs")
    return doc


def tile_url(pattern: str, z: int, x: int, y: int) -> str:
    """{z}/{x}/{y} substitution (reference fetch/http.cpp:52-78)."""
    return (pattern.replace("{z}", str(z))
                   .replace("{x}", str(x))
                   .replace("{y}", str(y)))
