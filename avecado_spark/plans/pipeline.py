"""Post-processor (izer) pipeline: registry, JSON config, zoom gating.

Reference: /root/reference/src/post_processor.cpp and
/root/reference/include/post_process/factory.hpp:15-42.

Config shape (exactly test/post_processor.cpp:46-50):
    { "<layer>": [ { "minzoom": L, "maxzoom": H,
                     "process": [ {"type": "generalizer", ...}, ... ] } ] }

Semantics pinned by the reference:
  * zoom gating samples at the middle of the zoom band — minzoom-0.5 /
    maxzoom+0.5 converted through meters_per_pixel; a layer's izers run iff
    the tile scale is inside [mpp(maxzoom+.5), mpp(minzoom-.5)]
    (post_processor.cpp:75-80, :100-110). Only the FIRST matching scale
    range runs (the `break`, :110).
  * the izer interface is a grouped-map UDTF: all features of one layer of
    one tile in, a (possibly longer/shorter) feature list out
    (include/post_process/izer_base.hpp:14-21) — the exact shape of
    Spark's GroupedData.applyInPandas, which is how `apply_to_tiles`
    distributes a pipeline.
  * labelizer is registered but a no-op upstream
    (src/post_process/labelizer.cpp:18-20 "TODO: labelize!").

The izer callables here operate on plain feature dicts
({"id", "props", "geoms": [Geom]}) so they are picklable into UDF closures.
"""

from __future__ import annotations

from ..functions.mercator import meters_per_pixel
from ..operators.adminizer import adminize_features
from ..operators.generalizer import generalize_features
from ..operators.unionizer import unionize_features

EPSILON = 0.0005  # post_processor.cpp:32


def parse_inline_csv(inline: str) -> list[tuple[str, str]]:
    """Parse the reference's pipe-delimited inline CSV datasource format
    ('wkt|foo\\nPOLYGON(...)|value\\n', e.g. test/adminizer.cpp:22-28)."""
    lines = [l for l in inline.strip().split("\n") if l.strip()]
    header = [h.strip() for h in lines[0].split("|")]
    wkt_i = header.index("wkt")
    rows = []
    for line in lines[1:]:
        cells = line.split("|")
        val = None
        for i, c in enumerate(cells):
            if i != wkt_i:
                val = c
        rows.append((cells[wkt_i], val))
    return rows


def _create_adminizer(config: dict):
    param_name = config["param_name"]
    split = str(config.get("split", "false")) == "true"
    collect = str(config.get("collect", "false")) == "true"
    delimiter = config.get("delimiter", ",")
    ds = config.get("datasource", {})
    if "inline_rows" in ds:
        rows = list(ds["inline_rows"])
    else:
        rows = parse_inline_csv(ds.get("inline", ""))

    def process(features, env=None):
        return adminize_features(features, rows, param_name,
                                 split=split, collect=collect,
                                 delimiter=delimiter)
    return process


def _create_generalizer(config: dict):
    algorithm = config.get("algorithm", "douglas-peucker")  # generalizer.cpp:68
    tolerance = float(config["tolerance"])

    def process(features, env=None):
        return generalize_features(features, algorithm, tolerance)
    return process


def _create_unionizer(config: dict):
    def process(features, env=None):
        return unionize_features(features, config)
    return process


def _create_labelizer(config: dict):
    # Reference parity: the upstream labelizer is a registered no-op
    # (labelizer.cpp:18-20 "TODO: labelize!") that ignores its config.
    # Placement activates only on the opt-in `spacing` key (a key the
    # reference would ignore), so every reference-valid configuration
    # still passes features through unchanged — see operators/labelizer.
    from ..operators.labelizer import labelize_features

    def process(features, env=None):
        return labelize_features(features, config)
    return process


FACTORY = {
    "adminizer": _create_adminizer,
    "generalizer": _create_generalizer,
    "labelizer": _create_labelizer,
    "unionizer": _create_unionizer,
}


class PostProcessor:
    """Name→factory registry + per-layer zoom-banded pipelines."""

    def __init__(self, config: dict | None = None):
        self._layers: dict[str, list[dict]] = {}
        if config:
            self.load(config)

    def load(self, config: dict):
        for layer_name, ranges in config.items():
            parsed = []
            for rng in ranges:
                procs = []
                for izer_conf in rng["process"]:
                    t = izer_conf["type"]
                    if t not in FACTORY:
                        raise KeyError(f"unknown izer type {t!r}")
                    procs.append(FACTORY[t](izer_conf))
                parsed.append({
                    "minzoom": int(rng["minzoom"]) - 0.5,
                    "maxzoom": int(rng["maxzoom"]) + 0.5,
                    "processes": procs,
                })
            self._layers[layer_name] = parsed

    def process_layer(self, features: list[dict], layer_name: str, z: float,
                      tile_px: int = 256) -> tuple[list[dict], int]:
        """Run the first matching scale range's izers; returns
        (features, number_of_izers_run) like pimpl::process_layer."""
        ran = 0
        ranges = self._layers.get(layer_name)
        if ranges:
            scale = meters_per_pixel(z, tile_px)
            for rng in ranges:
                min_scale = meters_per_pixel(rng["maxzoom"], tile_px)
                max_scale = meters_per_pixel(rng["minzoom"], tile_px)
                if min_scale <= scale <= max_scale:
                    for p in rng["processes"]:
                        features = p(features)
                        ran += 1
                    break
        return features, ran


# ---------------------------------------------------------------------------
# Spark surface: distributed izer application
# ---------------------------------------------------------------------------

def apply_to_tiles(df, config: dict, tile_px: int = 256):
    """Distribute a post-processor pipeline over a feature DataFrame.

    df columns: (z int, x long, y long, layer string, id long,
                 props map<string,string>, <geometry>) where <geometry> is
    either the legacy `wkt string` column or the PACKED representation
    (`gtype string, coords array<double>, rings array<int>,
    part_rings array<int>`) — auto-detected, output mirrors input.

    The packed form is the fast interchange: coordinates cross the Arrow
    boundary as flat float64 lists (a numpy array per cell on the pandas
    side), so the sorted-run walk slices arrays instead of parsing and
    re-printing WKT text per feature (the r04 profile: parse+print was
    ~37% of walk time at millions of tiny groups). `coords` is
    [x0,y0,x1,y1,…] over all rings of all parts in order, `rings` the
    point count per ring, `part_rings` the ring count per part — EMPTY
    geometries have part_rings=[]. Producers build coords JVM-side
    (F.array of column expressions); consumers read point/part counts
    with F.size, never touching text.

    One izer invocation per (z, x, y, layer) group — the exact shape of
    the reference izer interface (izer_base.hpp:14-21: all features of one
    layer of one tile in, mutated set out). Features may multiply (split
    mode) or merge (unionizer).

    Scale shape: groups are MANY and TINY (one per populated tile-layer —
    millions at z14), which is applyInPandas's worst case (per-group
    pandas frames through the serializer). Instead the groups ride ONE
    repartition + sortWithinPartitions on the tile key and a mapInPandas
    pass walks the sorted runs with numpy boundary detection, carrying
    the trailing (possibly batch-split) run between Arrow batches — the
    same many-tiny-groups treatment the encode path uses. The shuffle key
    is the tile key, which the encode step reuses — one shuffle serves
    both (plan-asserted: tests/test_plan_quality.py). Generalize-only
    pipelines skip even that: simplification is per-feature, so the
    vectorized fast path runs shuffle-free over the input partitioning."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ..functions import wkt as _wkt
    from ..functions.wkt import Geom
    from ..operators.encode import _numpy_batches

    packed = "coords" in df.columns
    proc = PostProcessor(config)
    # FAST PATH eligibility: every izer in every range is a generalizer —
    # per-feature, stateless, geometry-only. Then the walk needs no group
    # boundaries (nothing crosses features), no props parse (the kv string
    # passes through opaque), and no feature dicts/Geom objects at all:
    # simplification runs directly over the packed ring slices — AND no
    # tile-key shuffle: the walk runs over the input's own partitioning
    # (generalize-only pipelines are shuffle-free, plan-asserted in
    # tests/test_plan_quality.py). A downstream encode introduces its own
    # tile-key exchange exactly as it would have reused this one, so the
    # apply_to_tiles → build pair's total shuffle count is unchanged;
    # standalone generalize drops from one shuffle to zero.
    gen_only = packed and all(
        izer.get("type") == "generalizer"
        for ranges in config.values()
        for rng in ranges
        for izer in rng["process"])
    geom_cols = (["gtype", "coords", "rings", "part_rings"] if packed
                 else ["wkt"])
    out_schema = ("z int, x long, y long, layer string, id long, "
                  "props_kv string, "
                  + ("gtype string, coords array<double>, rings array<int>, "
                     "part_rings array<int>" if packed else "wkt string"))

    # props cross the Python boundary as ONE delimited string, not an Arrow
    # map column (the map conversion builds per-row Python objects on both
    # sides and measures ~1.4x the whole identity round-trip); the map
    # contract is restored JVM-side with str_to_map after the walk.
    # \x01 separates key from value, \x02 separates pairs — reserved bytes
    # (tag keys/values are textual in every reference fixture).
    entries = F.filter(F.map_entries(F.col("props")),
                       lambda e: e["value"].isNotNull())
    kv = F.array_join(
        F.transform(entries,
                    lambda e: F.concat(e["key"], F.lit("\x01"), e["value"])),
        "\x02")
    # a key/value containing a reserved byte would silently corrupt the
    # rebuilt map — fail loudly instead; JVM-side, so the check costs one
    # exists() per row
    has_reserved = F.exists(
        entries,
        lambda e: e["key"].contains("\x01") | e["key"].contains("\x02")
        | e["value"].contains("\x01") | e["value"].contains("\x02"))
    kv = F.when(
        has_reserved,
        F.raise_error(F.lit(
            "izer interchange: props key/value contains reserved "
            "delimiter byte \\x01/\\x02"))).otherwise(kv)
    df = df.withColumn("props_kv", kv).drop("props")

    def _unpack(gtype, coords, rings, part_rings) -> Geom:
        c = np.asarray(coords, dtype=np.float64)
        if len(part_rings) == 0:
            return Geom(gtype, [])
        if len(part_rings) == 1 and len(rings) == 1:
            return Geom(gtype, [[c.reshape(-1, 2)]])
        parts, pos, ri = [], 0, 0
        for nr in part_rings:
            rlist = []
            for _ in range(nr):
                npts = int(rings[ri])
                rlist.append(c[pos:pos + 2 * npts].reshape(-1, 2))
                pos += 2 * npts
                ri += 1
            parts.append(rlist)
        return Geom(gtype, parts)

    def _pack(g: Geom):
        if not g.parts:
            return g.type, np.empty(0), [], []
        if len(g.parts) == 1 and len(g.parts[0]) == 1:
            arr = g.parts[0][0]
            return g.type, np.asarray(arr, dtype=np.float64).ravel(), \
                [len(arr)], [1]
        rings, flats, part_rings = [], [], []
        for rlist in g.parts:
            part_rings.append(len(rlist))
            for arr in rlist:
                rings.append(len(arr))
                flats.append(np.asarray(arr, dtype=np.float64).ravel())
        return g.type, np.concatenate(flats), rings, part_rings

    walk_cols = ["z", "x", "y", "layer", "id", "props_kv"] + geom_cols

    def _process_chunk(arrs: dict, starts, ends, out: dict):
        zs, xs, ys, lays, ids, props_col = (arrs[c] for c in walk_cols[:6])
        if packed:
            gtypes, coords_col, rings_col, pr_col = (arrs[c]
                                                     for c in geom_cols)
        else:
            wkts = arrs["wkt"]
        for a, b in zip(starts.tolist(), ends.tolist()):
            z, x, y, layer_name = int(zs[a]), int(xs[a]), int(ys[a]), lays[a]
            feats = []
            for i in range(a, b):
                s = props_col[i]
                props = (dict(p.split("\x01", 1) for p in s.split("\x02"))
                         if s else {})
                if packed:
                    geom = _unpack(gtypes[i], coords_col[i], rings_col[i],
                                   pr_col[i])
                else:
                    geom = _wkt.loads(wkts[i])
                feats.append({"id": int(ids[i]), "props": props,
                              "geoms": [geom]})
            feats, _ = proc.process_layer(feats, layer_name, z, tile_px)
            for f in feats:
                for g in f["geoms"]:
                    out["z"].append(z)
                    out["x"].append(x)
                    out["y"].append(y)
                    out["layer"].append(layer_name)
                    out["id"].append(f["id"])
                    out["props_kv"].append(
                        "\x02".join(f"{k}\x01{v}" for k, v in
                                    f["props"].items() if v is not None))
                    if packed:
                        gt, cs, rs, prs = _pack(g)
                        out["gtype"].append(gt)
                        out["coords"].append(cs)
                        out["rings"].append(rs)
                        out["part_rings"].append(prs)
                    else:
                        out["wkt"].append(_wkt.dumps(g))

    def run(batches):
        # sorted by (z, x, y, layer): _numpy_batches yields complete
        # (tile, layer) runs, carrying a batch-split run to the next batch
        for arrs, starts, ends in _numpy_batches(
                batches, walk_cols, ["z", "x", "y", "layer"]):
            out = {c: [] for c in walk_cols}
            _process_chunk(arrs, starts, ends, out)
            yield pd.DataFrame(out)

    def _make_run_fast():
        from ..operators.generalizer import simplify as _simplify
        gen_ranges = {
            layer_name: [
                (meters_per_pixel(int(r["maxzoom"]) + 0.5, tile_px),
                 meters_per_pixel(int(r["minzoom"]) - 0.5, tile_px),
                 [(izer.get("algorithm", "douglas-peucker"),
                   float(izer["tolerance"])) for izer in r["process"]])
                for r in ranges]
            for layer_name, ranges in config.items()}

        def _steps_for(layer: str, z: int):
            ranges = gen_ranges.get(layer)
            if not ranges:
                return None
            scale = meters_per_pixel(z, tile_px)
            for min_scale, max_scale, steps in ranges:
                if min_scale <= scale <= max_scale:
                    return steps  # first matching range only (the break)
            return None

        def run_fast(batches):
            cache: dict = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                zs = pdf["z"].to_numpy()
                lays = pdf["layer"].to_numpy(dtype=object)
                gtypes = pdf["gtype"].to_numpy(dtype=object)
                coords_col = pdf["coords"].to_numpy(dtype=object).copy()
                rings_col = pdf["rings"].to_numpy(dtype=object).copy()
                for i in range(len(pdf)):
                    key = (lays[i], int(zs[i]))
                    steps = cache.get(key, False)
                    if steps is False:
                        steps = _steps_for(*key)
                        cache[key] = steps
                    if not steps or gtypes[i] in ("POINT", "MULTIPOINT"):
                        continue
                    rings = rings_col[i]
                    if len(rings) == 0:
                        continue
                    c = np.asarray(coords_col[i], dtype=np.float64)
                    if len(rings) == 1:
                        ring = c.reshape(-1, 2)
                        for alg, tol in steps:
                            ring = _simplify(ring, tol, alg)
                        coords_col[i] = ring.ravel()
                        rings_col[i] = [len(ring)]
                    else:
                        pos, flats, nrings = 0, [], []
                        for npts in rings:
                            ring = c[pos:pos + 2 * int(npts)].reshape(-1, 2)
                            pos += 2 * int(npts)
                            for alg, tol in steps:
                                ring = _simplify(ring, tol, alg)
                            nrings.append(len(ring))
                            flats.append(ring.ravel())
                        coords_col[i] = np.concatenate(flats)
                        rings_col[i] = nrings
                out = {c: pdf[c] for c in ("z", "x", "y", "layer", "id",
                                           "props_kv", "gtype")}
                out["coords"] = coords_col
                out["rings"] = rings_col
                out["part_rings"] = pdf["part_rings"]
                yield pd.DataFrame(out)
        return run_fast

    if gen_only:
        # per-feature + stateless → no grouping needed; skip the shuffle
        walked = df.mapInPandas(_make_run_fast(), schema=out_schema)
    else:
        # explicit partition count, 2x the session's shuffle
        # partitions: an izer group is STATEFUL and cannot be split, so
        # a hot tile (r08: one z10 city tile holds ~94k features, a
        # multi-second serial unionize) is an irreducible straggler. A
        # count-less repartition let AQE size-coalesce partitions and
        # MERGE two hot tiles into one task (measured: a 144k-row
        # partition = two hot groups, 4.6s serial); an explicit count
        # pins the layout, and the 2x bin factor drops the chance that
        # two hot GROUPS hash into one bin (guide §2.5: group-level skew
        # needs more bins than byte-level balance suggests). Not more:
        # each Python task pays a fixed worker round trip, so on many
        # tiny groups extra bins cost more than they thin. Measured on 4
        # vCPU, 8 shuffle partitions, sf0.1, 5 alternating runs: 2x beat
        # 4x on all four izer leaves and 1x on three, and 3,000
        # one-feature groups walked in 1.3-1.9 s at 2x, 2.4-2.6 s at 4x.
        nparts = 2 * int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        walked = (df.repartition(nparts, "z", "x", "y", "layer")
                    .sortWithinPartitions("z", "x", "y", "layer")
                    .mapInPandas(run, schema=out_schema))
    props_back = F.when(
        F.length("props_kv") > 0,
        F.str_to_map(F.col("props_kv"), F.lit("\x02"), F.lit("\x01"))
    ).otherwise(F.create_map().cast("map<string,string>"))
    return (walked.withColumn("props", props_back).drop("props_kv")
                  .select("z", "x", "y", "layer", "id", "props", *geom_cols))
