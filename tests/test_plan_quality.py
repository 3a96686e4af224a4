"""Plan-quality checks: the properties that make the engine viable at
100 TB must be visible in the optimized plan, not just hoped for.

  * column pruning: the huge `html` column never reaches a shuffle in the
    tile build (SURVEY §4 "keep html out of the working set").
  * predicate pushdown: bbox filters over the raw scan reach parquet as
    PushedFilters.
  * broadcast joins: small dims in the TPC-H star join broadcast instead
    of shuffling lineitem twice.
"""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _python_nodes(df) -> list[str]:
    """Python operators in the executed plan's node tree, one per node id."""
    tree = _plan(df).split("\n\n")[0]
    return [n for n in re.findall(r"(\w+) \(\d+\)", tree)
            if n in _PYTHON_NODES]


def test_geocode_has_no_python_boundary(spark):
    """Geocode is a JVM-side regexp_extract: the text column never crosses
    into a Python worker."""
    from avecado_spark.operators.keys import geocode
    from avecado_spark.sources.pages import pages_df
    assert _python_nodes(geocode(pages_df(spark, SF))) == []


def test_html_pruned_from_tile_build(spark):
    from avecado_spark.api import build_tiles
    from avecado_spark.sources.pages import pages_df
    tiles = build_tiles(pages_df(spark, SF), z=14)
    plan = tiles._jdf.queryExecution().optimizedPlan().toString()
    # the pages projection synthesizes html, but the encode path must not
    # carry it into the exchange: after optimization no Exchange input
    # includes the html column
    physical = tiles._jdf.queryExecution().executedPlan().toString()
    for line in physical.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line


def test_predicate_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_orderkey") < 100).select("l_orderkey", "l_quantity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_orderkey" in plan.split("PushedFilters")[1][:200]
    # column pruning: ReadSchema carries only the two selected columns
    rs = plan.split("ReadSchema")[1][:200]
    assert "l_quantity" in rs and "l_extendedprice" not in rs


def test_small_dims_broadcast(spark):
    # q5 rotated out of the registry in r07 (pytest-pinned instead)
    from avecado_spark.queries import tpch_q5_local_supplier
    df = tpch_q5_local_supplier(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pip_probe_is_slim_and_map_side(spark):
    """The broadcast PIP probe must not carry html/text through Arrow, and
    must add no shuffle beyond the one inherent to pages synthesis
    (the DISTINCT over the synthetic key)."""
    from avecado_spark import queries as q
    from avecado_spark.operators.dedup import _PERSIST_LATEST
    # assert over the COLD-path plan: if an earlier test left _geo
    # persisted, the InMemoryRelation repr re-prints the cached child's
    # Exchange line (display of old lineage, not a new shuffle) and the
    # raw line count below would miscount — drop the memo first
    for key in [k for k in _PERSIST_LATEST if k.startswith("geo:")]:
        _PERSIST_LATEST.pop(key).unpersist()
    df = q.queries()["j1a_pip_first"](spark, SF)
    physical = df._jdf.queryExecution().executedPlan().toString()
    probe_lines = [l for l in physical.splitlines() if "MapInPandas probe" in l]
    assert probe_lines and all("html" not in l and "text" not in l
                               for l in probe_lines)
    assert _python_nodes(df) == ["MapInPandas"]  # the probe; geocode is JVM
    exchanges = [l for l in physical.splitlines() if "Exchange" in l]
    assert len(exchanges) <= 1  # only the synthesis DISTINCT


def test_salting_spreads_hot_tiles(spark):
    """Salt check: a hot city tile's rows carry all 16 salt keys, which
    order its features inside the one-stage build, and the built tile
    still holds every one of them."""
    from avecado_spark.operators.encode import build_point_tiles
    from avecado_spark.operators.keys import geocode, with_salt, with_tile_keys
    from avecado_spark.sources.pages import pages_df
    from pyspark.sql import functions as F
    keyed = with_tile_keys(geocode(pages_df(spark, SF)), 14)
    keyed = keyed.withColumn("feature_id",
                             keyed["url"].substr(32, 20).cast("long"))
    salted = with_salt(keyed)
    # count distinct salts per z14 tile for the hottest tile
    hot = (salted.groupBy("x", "y")
                 .agg(F.count("*").alias("n"),
                      F.countDistinct("salt").alias("n_salts"))
                 .orderBy(F.col("n").desc()).first())
    assert hot.n > 100          # the skewed city tile exists
    assert hot.n_salts == 16    # and its rows spread over all 16 salt keys
    # and the final tile still assembles all of them
    tiles = build_point_tiles(salted, 14)
    t = tiles.where((F.col("x") == hot.x) & (F.col("y") == hot.y)).first()
    assert t.n_features == hot.n


def test_point_build_is_one_exchange_one_python_stage(spark):
    """The point build shuffles once, on the tile key with no explicit
    partition count, and crosses into Python once: encode and tile writing
    share one mapInPandas."""
    from avecado_spark.operators.encode import build_point_tiles
    df = spark.createDataFrame(
        [(8, 8, s, 100000 * (s + 1), 100000, s, "de") for s in range(4)],
        "x long, y long, salt int, mx_mm long, my_mm long, "
        "feature_id long, lang string")
    tiles = build_point_tiles(df, 4)
    assert _python_nodes(tiles) == ["MapInPandas"]
    physical = tiles._jdf.queryExecution().executedPlan().toString()
    hashed = [l for l in physical.splitlines()
              if "Exchange hashpartitioning" in l]
    assert len(hashed) == 1, physical
    # no explicit partition count, so AQE may coalesce the exchange
    assert "REPARTITION_BY_COL" in hashed[0], physical
    assert "REPARTITION_BY_NUM" not in hashed[0], physical


def test_text_operators_are_shuffle_free(spark):
    """Shingling, minhash signatures + band keys, simhash, fingerprinting,
    lang-id and quality scoring are per-document local computations — the
    executed plan must contain NO KEYED Exchange (round 1 shuffled every
    token in the corpus through lead()-windows and 60×-exploded groupBys;
    at 100 TB that is the dominant shuffle and it buys nothing). A single
    ROUND-ROBIN rebalance exchange is allowed: the sandbox documents
    table is one unsplittable parquet row group, and read_split
    repartitions the raw rows to recover scan parallelism (r08) — that
    exchange carries no algorithmic keying and disappears on a real
    multi-row-group table."""
    from avecado_spark import queries as q
    Q = q.queries()
    for name in ("dedup_minhash_bands", "dedup_simhash", "text_lang_id",
                 "text_quality", "text_fingerprint"):
        plan = Q[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        keyed = [l for l in plan.splitlines()
                 if "Exchange" in l and "RoundRobinPartitioning" not in l
                 and "Exchange" != l.strip()]
        assert not keyed, f"{name} has keyed shuffles:\n{plan}"


def test_neardup_queries_non_vacuous(spark):
    """The near-dup extraction queries must return rows at test scale — a
    correctness gate that matches on the empty set validates nothing."""
    from avecado_spark import queries as q
    Q = q.queries()
    assert Q["dedup_embedding_cosine"](spark, SF).count() > 0
    assert Q["dedup_simhash_pairs"](spark, SF).count() > 0


def test_tile_table_read_is_partition_pruned(spark, tmp_path):
    """The part_key-partitioned tile table must prune at planning time: a
    viewport read's scan lists only the matching partition directories
    (PartitionFilters over part_key), never the full table."""
    from avecado_spark.api import build_tiles
    from avecado_spark.sources.pages import pages_df
    from avecado_spark.sources import manifest as M

    tiles = build_tiles(pages_df(spark, SF), z=10)
    out = str(tmp_path / "tiletable")
    M.run_resumable_build(spark, tiles, 10, out, lineage="plan-test")

    some = spark.read.parquet(out + "/tiles").select("x", "y").first()
    df = M.read_tiles_bbox(spark, out, 10,
                           int(some.x), int(some.x), int(some.y), int(some.y))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:300]
    assert "part_key" in pf, pf
    # and the exact predicates still reach parquet
    assert "PushedFilters" in plan
    assert df.count() >= 1


def test_adminize_points_chunked_probe_matches_dense(spark):
    """Large admin tables switch the broadcast PIP probe to point-chunked
    masks (bounded memory); results must equal the dense-path/brute answer."""
    import random

    import numpy as np

    from avecado_spark.operators import adminizer as A
    rows = [(i, i * 10.0, 0.0, i * 10.0 + 8, 8.0, f"v{i}") for i in range(900)]
    random.seed(7)
    pts = [(float(random.randint(-50, 9200)), float(random.randint(-5, 15)))
           for _ in range(20000)]
    df = spark.createDataFrame(pts, "mx_mm double, my_mm double")
    got = sorted((r.mx_mm, r.my_mm, r.admin)
                 for r in A.adminize_points(df, rows, mode="first").collect())
    boxes = np.array([r[1:5] for r in sorted(rows)])
    vals = [r[5] for r in sorted(rows)]
    exp = []
    for x, y in pts:
        hit = np.nonzero((x >= boxes[:, 0]) & (x <= boxes[:, 2])
                         & (y >= boxes[:, 1]) & (y <= boxes[:, 3]))[0]
        exp.append((x, y, vals[hit[0]] if len(hit) else None))
    assert got == sorted(exp)


def test_bucketed_tile_join_avoids_shuffle(spark, tmp_path):
    """Co-located joins via bucketing: two tables bucketed by the tile key
    join WITHOUT an Exchange on either side — at 100 TB this is how
    repeated tile-keyed joins (tiles ⋈ stats, tiles ⋈ requests) avoid
    re-shuffling the big fact table every query."""
    from avecado_spark import queries as q
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    counts = q.queries()["tile_assign_z14"](spark, SF)
    (counts.write.mode("overwrite").bucketBy(8, "x", "y").sortBy("x", "y")
           .saveAsTable("t_counts"))
    (counts.selectExpr("x", "y", "n_docs * 2 AS other")
           .write.mode("overwrite").bucketBy(8, "x", "y").sortBy("x", "y")
           .saveAsTable("t_other"))
    j = spark.table("t_counts").join(spark.table("t_other"), ["x", "y"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert j.count() > 0
    spark.sql("DROP TABLE IF EXISTS t_counts")
    spark.sql("DROP TABLE IF EXISTS t_other")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def _feature_df(spark):
    """20 horizontal segments INSIDE tile (12, 100, 200); returns
    (df, cx, cy) with cx/cy the segment-grid origin in mercator meters."""
    from avecado_spark.functions.mercator import HALF_WORLD, WORLD_SIZE
    scale = WORLD_SIZE / 4096.0
    cx = 100 * scale - HALF_WORLD + 2000.0
    cy = HALF_WORLD - 200 * scale - 2000.0
    rows = [(12, 100, 200, "roads", i, {"a": "yes"},
             f"LINESTRING({cx + i * 10} {cy}, {cx + i * 10 + 100} {cy})")
            for i in range(20)]
    return spark.createDataFrame(
        rows, "z int, x long, y long, layer string, id long, "
              "props map<string,string>, wkt string"), cx, cy


def test_izer_fused_single_shuffle(spark):
    """The feature build, with or without an izer pipeline, is ONE
    exchange on the tile key and ONE Python stage (a sorted-run
    mapInPandas): no per-group applyInPandas, and the izers fuse into the
    encode instead of costing the unfused apply_to_tiles → build pair's
    second shuffle."""
    from avecado_spark.operators.encode import build_feature_tiles
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "generalizer", "algorithm": "douglas-peucker",
         "tolerance": 2.0}]}]}
    df, _cx, _cy = _feature_df(spark)
    for izer_config in (None, conf):
        tiles = build_feature_tiles(df, izer_config=izer_config)
        nodes = re.findall(r"(\w+) \(\d+\)", _plan(tiles).split("\n\n")[0])
        assert (nodes.count("Exchange"), nodes.count("MapInPandas"),
                nodes.count("FlatMapGroupsInPandas")) == (1, 1, 0), \
            _plan(tiles)
        assert tiles.count() == 1


def test_knn_rings_probe_is_slim_and_map_side(spark):
    """The kNN-polygon probe (J2) must stay a map-side broadcast probe: no
    html/text through Arrow, no shuffle beyond the pages-synthesis
    DISTINCT — the polygon table and tree travel via broadcast, never a
    join."""
    from avecado_spark import queries as q
    df = q.queries()["j2_knn_rings"](spark, SF)
    physical = df._jdf.queryExecution().executedPlan().toString()
    probe_lines = [l for l in physical.splitlines() if "MapInPandas" in l]
    assert probe_lines and all("html" not in l and "text" not in l
                               for l in probe_lines)
    assert _python_nodes(df) == ["MapInPandas"]  # the probe; geocode is JVM
    # the geocode-once cache makes InMemoryTableScan print its relation's
    # child plan too, repeating the same Exchange line — count unique
    # exchange signatures, not printed lines
    exchanges = {re.sub(r"plan_id=\d+", "", l).strip()
                 for l in physical.splitlines() if "Exchange" in l}
    assert len(exchanges) <= 1  # only the synthesis DISTINCT
    assert "Join" not in physical


def test_q6_scan_filter_agg_single_wide_stage(spark):
    """tpch_q6_forecast must be the minimal plan for its shape: shipdate
    predicates pushed to the parquet scan, no join, and exactly one
    exchange (the final single-group aggregation)."""
    from avecado_spark.queries import queries
    from avecado_spark.queries import tpch_q6_forecast  # unregistered r06
    q = tpch_q6_forecast(spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_generalize_only_pipeline_shuffle_free(spark):
    """A generalize-only izer pipeline over the packed representation is
    per-feature and stateless, so apply_to_tiles must plan ZERO exchanges:
    the vectorized fast path runs over the input's own partitioning (r07 —
    previously it paid the tile-key shuffle it never used)."""
    from avecado_spark.plans.pipeline import apply_to_tiles
    rows = [(10, 1, 1, "roads", 1, {"a": "x"}, "LINESTRING",
             [0.0, 0.0, 100.0, 1.0, 200.0, 0.0], [3], [1])]
    df = spark.createDataFrame(
        rows, "z int, x long, y long, layer string, id long, "
              "props map<string,string>, gtype string, "
              "coords array<double>, rings array<int>, "
              "part_rings array<int>")
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "generalizer", "algorithm": "douglas-peucker",
         "tolerance": 5.0}]}]}
    out = apply_to_tiles(df, conf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    assert out.collect()[0].coords == [0.0, 0.0, 200.0, 0.0]


def test_labelize_pipeline_single_shuffle(spark):
    """The labelizer rides the izer group shuffle: apply_to_tiles with a
    labelizer stage plans exactly one exchange (the tile-key grouping),
    like the other feature-local izers."""
    from avecado_spark.plans.pipeline import apply_to_tiles
    rows = [(10, 1, 1, "roads", 1, {"a": "x"}, "LINESTRING(0 0, 300 0)")]
    df = spark.createDataFrame(
        rows, "z int, x long, y long, layer string, id long, "
              "props map<string,string>, wkt string")
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "labelizer", "spacing": 90.0}]}]}
    out = apply_to_tiles(df, conf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_window_top3_single_window_exchange(spark):
    """tpch_window_top3 must rank in ONE window pass: a single Window node
    fed by a single exchange on the nation partitioning, with the customer
    dim broadcast (never shuffled against the aggregated revenue)."""
    from avecado_spark.queries import queries
    q = queries()["tpch_window_top3"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # one Window node ("windowspecdefinition" inside the same line and the
    # WindowGroupLimit rank-pushdown node are not extra passes)
    assert len(re.findall(r"\bWindow \[", plan)) == 1
    nation_exchanges = [l for l in plan.splitlines()
                        if "Exchange" in l and "c_nationkey" in l]
    assert len(nation_exchanges) == 1
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_paragraph_dedup_shuffle_budget(spark):
    """paragraph_dedup's plan at corpus scale: split/normalize/hash are
    map-side; the only exchanges are the hash window, the per-doc
    reassembly, and the join back to the id spine — and the heavy text
    column never reaches more than the two shuffles the algorithm IS
    (paragraphs over h; kept paragraphs over doc_id)."""
    from avecado_spark.operators.dedup import paragraph_dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = paragraph_dedup(docs, segment="words:8", join_sep=" ")
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = [l for l in plan.splitlines()
                if "Exchange" in l and "Broadcast" not in l]
    assert 0 < len(shuffles) <= 3, plan
    text_shuffles = [l for l in shuffles if "para" in l]
    assert len(text_shuffles) <= 2, text_shuffles
