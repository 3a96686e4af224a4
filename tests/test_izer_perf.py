"""Regression pins for the izer surface's scale-shaped wins.

The r04 rewrite replaced per-group applyInPandas with one repartition +
sortWithinPartitions + a sorted-run mapInPandas walk, measured 7-20x
faster at many tiny groups (the izer workload shape: one group per
populated tile-layer, millions at z14). These tests keep that property
from silently regressing: the sorted-run path must stay comfortably
ahead of the per-group path on the same input. Thresholds sit ~3x below
the measured gap so documented 1.4-2x host jitter cannot flake them.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

N_GROUPS = 3000


def _tiny_group_features(spark):
    """N_GROUPS single-feature tile groups — the many-tiny-groups shape."""
    return spark.range(N_GROUPS).select(
        F.lit(10).alias("z"),
        F.col("id").alias("x"),
        (F.col("id") % 97).alias("y"),
        F.lit("roads").alias("layer"),
        F.col("id"),
        F.create_map(F.lit("a"), F.col("id").cast("string")).alias("props"),
        F.concat(F.lit("LINESTRING("), F.col("id"), F.lit(" 0, "),
                 F.col("id") + 100, F.lit(" 0)")).alias("wkt"))


def _apply_per_group(df, config):
    """The r03-era shape: one applyInPandas invocation per (z,x,y,layer)
    group — kept ONLY as the regression baseline for the sorted-run walk."""
    import pandas as pd

    from avecado_spark.functions import wkt as _wkt
    from avecado_spark.plans.pipeline import PostProcessor

    proc = PostProcessor(config)
    schema = ("z int, x long, y long, layer string, id long, "
              "props map<string,string>, wkt string")

    def fn(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        z, x, y, layer = key
        feats = [{"id": int(r.id), "props": dict(r.props),
                  "geoms": [_wkt.loads(r.wkt)]}
                 for r in pdf.itertuples()]
        feats, _ = proc.process_layer(feats, layer, z, 256)
        rows = [(z, x, y, layer, f["id"],
                 {k: v for k, v in f["props"].items() if v is not None},
                 _wkt.dumps(g))
                for f in feats for g in f["geoms"]]
        return pd.DataFrame(rows, columns=["z", "x", "y", "layer", "id",
                                           "props", "wkt"])

    return df.groupBy("z", "x", "y", "layer").applyInPandas(fn, schema)


def test_sorted_run_walk_beats_per_group_apply(spark):
    from avecado_spark.plans.pipeline import apply_to_tiles

    feats = _tiny_group_features(spark).persist()
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "generalizer", "algorithm": "douglas-peucker",
         "tolerance": 1.0}]}]}
    try:
        # warm both paths (python workers, JIT) before timing
        assert apply_to_tiles(feats, conf).count() == N_GROUPS
        assert _apply_per_group(feats, conf).count() == N_GROUPS

        # two interleaved A/B pairs: host drift between measurements hits
        # both sides of a pair equally, and the BEST pair ratio is what
        # gets pinned (a shared host can move 2x+ between minutes)
        pairs = []
        for _ in range(2):
            t0 = time.time()
            apply_to_tiles(feats, conf).count()
            sorted_run = time.time() - t0
            t0 = time.time()
            _apply_per_group(feats, conf).count()
            per_group = time.time() - t0
            pairs.append((per_group / max(sorted_run, 1e-9),
                          sorted_run, per_group))
    finally:
        feats.unpersist()

    ratio, sorted_run, per_group = max(pairs)
    # measured 7-20x at ~32k groups; 3k groups in CI measures lower but
    # still multiples — require >= 2x so host jitter can't flake it
    assert ratio >= 2.0, (
        f"sorted-run walk only {ratio:.1f}x faster than per-group "
        f"applyInPandas ({sorted_run:.2f}s vs {per_group:.2f}s in the best "
        "of 2 pairs) — the many-tiny-groups pathology is back")


def _packed_zigzags(spark, n):
    """n single-linestring features in ~500 tiny tile groups, packed
    representation, zigzag shape so the generalizer has real work."""
    cs = []
    for i in range(6):
        cs.append((F.col("id") + F.lit(float(i * 10))).cast("double"))
        cs.append(F.lit(float(i % 2)))
    return spark.range(n).select(
        F.lit(10).alias("z"),
        (F.col("id") % 500).alias("x"),
        (F.col("id") % 97).alias("y"),
        F.lit("roads").alias("layer"),
        F.col("id"),
        F.create_map(F.lit("a"),
                     (F.col("id") % 7).cast("string")).alias("props"),
        F.lit("LINESTRING").alias("gtype"),
        F.array(*cs).alias("coords"),
        F.array(F.lit(6)).alias("rings"),
        F.array(F.lit(1)).alias("part_rings"))


def test_generalize_fast_path_parity_and_speed(spark):
    """A generalize-only pipeline takes the vectorized packed-array fast
    path (no feature dicts, no props parse). Adding a no-op labelizer —
    identical semantics, reference parity: labelizer.cpp:18-20 — forces
    the general dict walk, giving an exact same-answer baseline: outputs
    must match, and the fast path must be measurably faster."""
    from avecado_spark.plans.pipeline import apply_to_tiles

    # 80k features: r06's AQE coalesce floor (api.py 64k
    # minPartitionSize) made both paths overhead-dominated at 20k
    # rows (~0.6s each) and the ratio meaningless; at 80k the
    # per-feature work dominates again. r07: the fast path is now
    # SHUFFLE-FREE (generalize is per-feature, so the tile-key
    # repartition+sort was pure overhead) — measured 1.5-1.8x the
    # dict walk, up from 1.09x, so the 1.15 pin has >=1.3x headroom
    feats = _packed_zigzags(spark, 80000).persist()
    fast_conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "generalizer", "algorithm": "douglas-peucker",
         "tolerance": 5.0}]}]}
    dict_conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "generalizer", "algorithm": "douglas-peucker",
         "tolerance": 5.0},
        {"type": "labelizer"}]}]}

    def norm(rows):
        return sorted(
            (r.z, r.x, r.y, r.layer, r.id, tuple(sorted(r.props.items())),
             r.gtype, tuple(r.coords), tuple(r.rings), tuple(r.part_rings))
            for r in rows)

    try:
        # parity on a small mixed slice first (points pass untouched)
        small = feats.limit(200)
        out_fast = apply_to_tiles(small, fast_conf).collect()
        out_dict = apply_to_tiles(small, dict_conf).collect()
        assert norm(out_fast) == norm(out_dict)
        assert any(len(r.coords) < 12 for r in out_fast)  # simplified

        # warm both paths, then time INTERLEAVED fast/dict pairs and pin
        # the best pair ratio: drift between minutes hits both sides of
        # a pair equally (block timing flaked when the host moved
        # between the fast block and the dict block)
        apply_to_tiles(feats, fast_conf).count()
        apply_to_tiles(feats, dict_conf).count()

        ratios = []
        for _ in range(3):
            t0 = time.time()
            assert apply_to_tiles(feats, fast_conf).count() == 80000
            fast = time.time() - t0
            t0 = time.time()
            assert apply_to_tiles(feats, dict_conf).count() == 80000
            dict_path = time.time() - t0
            ratios.append(dict_path / max(fast, 1e-9))
    finally:
        feats.unpersist()

    ratio = max(ratios)
    assert ratio >= 1.15, (
        f"generalize-only fast path only {ratio:.2f}x the dict walk "
        f"({fast:.2f}s vs {dict_path:.2f}s) — fast path regressed")
