"""Sinks (z/x/y.pbf tree, TileJSON), checkpoint/resume manifest,
Structured Streaming batch-parity, overzoom join, pyramid rollup /
copy-down — the Spark-integration layer."""

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tiles(spark):
    from avecado_spark.api import build_tiles
    from avecado_spark.sources.pages import pages_df
    return build_tiles(pages_df(spark, SF), z=6).cache()


def test_pbf_tree_sink(spark, tiles):
    from avecado_spark.functions import mvt
    from avecado_spark.sources.sink import write_pbf_tree
    with tempfile.TemporaryDirectory() as d:
        write_pbf_tree(tiles, d)
        files = glob.glob(f"{d}/*/*/*.pbf")
        assert len(files) == tiles.count()
        t = mvt.decode_tile(open(files[0], "rb").read())
        assert t.layers[0].name == "pages"


def test_tilejson_roundtrip():
    from avecado_spark.sources.sink import make_tilejson, parse_tilejson, tile_url
    doc = make_tilejson("pages", "https://tiles.example.org", 0, 14, mask_level=12)
    parsed = parse_tilejson(doc)
    assert parsed["tilejson"] == "2.0.0"
    assert parsed["maskLevel"] == "12"
    assert tile_url(parsed["tiles"][0], 3, 2, 1).endswith("/3/2/1.pbf")
    with pytest.raises(ValueError):
        parse_tilejson("{}")


def test_manifest_resume(spark, tiles):
    from avecado_spark.sources.manifest import (read_manifest,
                                                run_resumable_build)
    with tempfile.TemporaryDirectory() as d:
        m1 = run_resumable_build(spark, tiles, 6, d, lineage="job-a")
        assert m1["skipped_partitions"] == 0
        assert m1["written_partitions"] > 0
        # resume: everything already done
        m2 = run_resumable_build(spark, tiles, 6, d, lineage="job-a")
        assert m2["n_tiles"] == 0
        assert m2["skipped_partitions"] == m1["written_partitions"]
        # different lineage does NOT resume from job-a's manifest
        m3 = run_resumable_build(spark, tiles, 6, d, lineage="job-b")
        assert m3["n_tiles"] > 0
        mf = read_manifest(spark, d, "job-a")
        assert mf.count() == m1["written_partitions"]
        # metrics present
        row = mf.first()
        assert row.n_tiles > 0 and row.bytes > 0


def test_streaming_batch_parity(spark):
    """Streaming windowed agg over availableNow == batch twin."""
    import shutil
    from avecado_spark.streaming.events import run_available_now, windowed_counts
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as d:
        # file streaming sources require a directory
        shutil.copy(f"{SF}/events.parquet", os.path.join(d, "events.parquet"))
        stream_rows = run_available_now(
            windowed_counts(spark, d), "ev_win_test")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    batch = (ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
               .agg(F.count("*").alias("n"),
                    F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"))
               .select(F.col("w.start").alias("wstart"), "event_type", "n", "value_cents")
               .collect())
    canon = lambda rows: sorted((r.wstart, r.event_type, r.n, r.value_cents) for r in rows)
    assert canon(stream_rows) == canon(batch)
    assert len(stream_rows) > 0


def test_overzoom_join(spark, tiles):
    from avecado_spark.operators.pyramid import overzoom_join
    # requests at z8 for children of existing z6 tiles + one miss
    some = tiles.limit(5).select(
        F.lit(8).alias("z"), (F.col("x") * 4 + 1).alias("x"),
        (F.col("y") * 4 + 2).alias("y"))
    miss = spark.createDataFrame([(8, 255, 255)], "z int, x long, y long")
    reqs = some.unionAll(miss)
    out = overzoom_join(reqs, tiles, max_zoom=6, mask_zoom=None).collect()
    hits = [r for r in out if r.hit]
    assert len(hits) == 5
    assert all(r.eff_z == 6 for r in out)


def test_pyramid_rollup(spark):
    from avecado_spark.operators.pyramid import rollup_pyramid
    from avecado_spark import queries as q
    counts = q.queries()["tile_assign_z14"](spark, SF)
    roll = rollup_pyramid(counts, 14, 10)
    per_z = {r.z: r.total for r in
             roll.groupBy("z").agg(F.sum("n_docs").alias("total")).collect()}
    assert set(per_z) == {10, 11, 12, 13, 14}
    assert len(set(per_z.values())) == 1  # doc counts conserved per level


def test_copy_down(spark, tiles):
    from avecado_spark.operators.pyramid import copy_down_subtrees
    # force one uninteresting full-cover tile into the set (at sf0.001 all
    # data tiles are interesting) — copy_subtree semantics need coverage
    fake = spark.createDataFrame(
        [(6, 60, 60, bytearray(b"\x1f\x8bfake"), 1, False)],
        "z int, x long, y long, tile_pbf binary, n_features long, interesting boolean")
    allt = tiles.unionAll(fake)
    n_un = allt.where(~F.col("interesting")).count()
    assert n_un >= 1
    out = copy_down_subtrees(allt, to_z=8)
    # every uninteresting z6 tile spawns 4 z7 + 16 z8 children
    assert out.count() == allt.count() + n_un * (4 + 16)
    kids = out.where((F.col("z") == 8) & (F.col("x") >= 240) & (F.col("x") < 244)
                     & (F.col("y") >= 240) & (F.col("y") < 244)).collect()
    assert len(kids) == 16
    assert all(bytes(k.tile_pbf) == b"\x1f\x8bfake" for k in kids)


def test_build_feature_tiles_lines_and_polygons(spark):
    """General (non-point) distributed tile build: line + polygon layers,
    izer pipeline applied per tile before encoding."""
    from avecado_spark.functions import mvt
    from avecado_spark.operators.encode import build_feature_tiles
    rows = [
        (1, 10, 10, "roads", 1, {"hw": "yes"},
         "LINESTRING(-2000000 0,-1000000 1250000,1000000 1000000,2000000 0)"),
        (1, 10, 10, "water", 2, {},
         "POLYGON((-2000000 0,-1000000 1050000,1000000 1000000,2000000 0,-2000000 0))"),
    ]
    # z1/10/10 is out of range spatially but encode is tile-local; use 1/0/0
    rows = [(1, 0, 0) + r[3:] for r in rows]
    df = spark.createDataFrame(
        rows, "z int, x long, y long, layer string, id long, "
              "props map<string,string>, wkt string")
    conf = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "generalizer", "algorithm": "douglas-peucker",
         "tolerance": 1.0}]}]}
    out = build_feature_tiles(df, izer_config=conf, path_multiplier=1).collect()
    assert len(out) == 1
    tile = mvt.decode_tile(bytes(out[0].tile_pbf))
    names = sorted(l.name for l in tile.layers)
    assert names == ["roads", "water"]
    types = {l.name: l.features[0].type for l in tile.layers}
    assert types["roads"] == mvt.GEOM_LINESTRING
    assert types["water"] == mvt.GEOM_POLYGON
    assert out[0].n_features == 2


def test_build_tiles_job_script(spark, tmp_path):
    """jobs/build_tiles.py end-to-end via its main() (spark-submit surface)."""
    import subprocess, sys, json
    out = subprocess.run(
        [sys.executable, "/root/repo/jobs/build_tiles.py",
         "--input", SF, "--zoom", "6", "--out", str(tmp_path),
         "--lineage", "t", "--pbf-tree"],
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["n_tiles"] > 0
    assert (tmp_path / "tile.json").exists()
    import glob as g
    assert g.glob(str(tmp_path / "pbf" / "*" / "*" / "*.pbf"))


def test_build_feature_tiles_byte_golden(spark):
    """Every tile of the distributed feature build is byte-identical to the
    driver-side make_vector_tile over that tile's layers (name order),
    features in id order — with no izers and with a unionizer, which needs
    whole (tile, layer) groups — and does not depend on how the input is
    partitioned. n_features and interesting match the decoded golden."""
    from avecado_spark.functions import mvt, wkt
    from avecado_spark.functions.mercator import box_for_tile
    from avecado_spark.operators.encode import (build_feature_tiles,
                                                make_vector_tile)
    from avecado_spark.plans.pipeline import PostProcessor

    minx, miny, maxx, maxy = box_for_tile(10, 300, 400)
    w = maxx - minx
    rows = []
    for i in range(200):  # hot tile
        x0 = minx + (i % 20) / 20.0 * w
        y0 = miny + (i // 20) / 10.0 * w
        rows.append((10, 300, 400, "roads", i,
                     {"hw": "primary" if i % 2 else "secondary"},
                     f"LINESTRING({x0} {y0}, {x0 + w/50} {y0 + w/80})"))
    minx2, miny2, _, _ = box_for_tile(10, 301, 400)
    for i in range(5):  # cold tile: one chain of end-to-end segments
        x0, x1 = minx2 + i / 10.0 * w, minx2 + (i + 1) / 10.0 * w
        rows.append((10, 301, 400, "roads", 1000 + i, {"hw": "primary"},
                     f"LINESTRING({x0} {miny2 + w/4}, {x1} {miny2 + w/4})"))
    # a polygon layer in the hot tile exercises the ring clip
    px0, py0 = minx + w / 4, miny + w / 4
    rows.append((10, 300, 400, "water", 5000, {"cls": "lake"},
                 f"POLYGON(({px0} {py0},{px0 + w/8} {py0},"
                 f"{px0 + w/8} {py0 + w/8},{px0} {py0 + w/8},{px0} {py0}))"))
    # reversed, so the build's (layer, id) sort is what orders features
    df = spark.createDataFrame(
        rows[::-1], "z int, x long, y long, layer string, id long, "
                    "props map<string,string>, wkt string")

    def golden(conf):
        tiles = {}
        for z, x, y, layer, fid, props, text in sorted(
                rows, key=lambda r: (r[1], r[2], r[3], r[4])):
            tiles.setdefault((x, y), {}).setdefault(layer, []).append(
                {"id": fid, "props": dict(props), "geom": wkt.loads(text)})
        out = {}
        for (x, y), by_layer in tiles.items():
            pbf = make_vector_tile(
                by_layer, 10, x, y,
                post_processor=PostProcessor(conf) if conf else None)
            layers = mvt.decode_tile(pbf).layers
            out[(x, y)] = (pbf, sum(len(l.features) for l in layers),
                           any(mvt.is_interesting(l) for l in layers))
        return out

    union = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
        {"type": "unionizer", "union_heuristic": "greedy",
         "tag_strategy": "intersect", "max_iterations": 10,
         "match_tags": ["hw"]}]}]}
    for conf in (None, union):
        want = golden(conf)
        got = {(r.x, r.y): (bytes(r.tile_pbf), r.n_features, r.interesting)
               for r in build_feature_tiles(df, izer_config=conf).collect()}
        assert got == want
        again = {(r.x, r.y): bytes(r.tile_pbf) for r in build_feature_tiles(
            df.repartition(3), izer_config=conf).collect()}
        assert again == {k: v[0] for k, v in want.items()}
    # the unionizer joined the cold tile's chain: it saw the whole group
    assert want[(301, 400)][1] < 5


def test_fetch_tiles_request_shaping_no_network(spark):
    """S6/F12: the distributed HTTP tile fetcher — request shaping (URL
    substitution, If-Modified-Since header), status mapping, and
    Last-Modified/Expires parsing pinned with an injected opener; the
    default path refuses to touch the network."""
    import pytest as _pytest
    from avecado_spark.sources.fetch import (build_requests, fetch_tiles,
                                             make_http_date, parse_http_date)

    # date parser: RFC 1123 round-trip + the reference's error convention
    assert parse_http_date("Sun, 06 Nov 1994 08:49:37 GMT") == 784111777
    assert make_http_date(784111777) == "Sun, 06 Nov 1994 08:49:37 GMT"
    assert parse_http_date("not a date") is None
    assert parse_http_date(None) is None

    coords = spark.createDataFrame(
        [(14, 100, 200), (14, 101, 200), (14, 102, 200)],
        "z int, x long, y long")

    with _pytest.raises(ValueError):
        fetch_tiles(coords, "https://tiles.example/{z}/{x}/{y}.pbf").collect()

    # request shaping pinned driver-side (mapInPandas closures mutate in the
    # worker process, so assert on build_requests, the unit the runner uses)
    import pandas as pd
    reqs = build_requests(
        pd.DataFrame({"z": [14, 14, 14], "x": [100, 101, 102],
                      "y": [200, 200, 200]}),
        "https://tiles.example/{z}/{x}/{y}.pbf", if_modified_since=784111777)
    assert [u for _, _, _, u, _ in reqs] == [
        "https://tiles.example/14/100/200.pbf",
        "https://tiles.example/14/101/200.pbf",
        "https://tiles.example/14/102/200.pbf"]
    assert all(h["If-Modified-Since"] == "Sun, 06 Nov 1994 08:49:37 GMT"
               and h["Accept-Encoding"] == "gzip" for *_, h in reqs)

    def fake_opener(url, headers):
        assert headers.get("If-Modified-Since") == "Sun, 06 Nov 1994 08:49:37 GMT"
        if url.endswith("100/200.pbf"):
            return (200, b"\x1a\x05tile!", {
                "Last-Modified": "Sun, 06 Nov 1994 08:49:37 GMT",
                "Expires": "Mon, 07 Nov 1994 08:49:37 GMT"})
        if url.endswith("101/200.pbf"):
            return (304, b"", {})
        return (404, b"", {})

    out = {(r.x, r.y): r for r in fetch_tiles(
        coords, "https://tiles.example/{z}/{x}/{y}.pbf",
        if_modified_since=784111777, opener=fake_opener).collect()}
    assert out[(100, 200)].status == 200
    assert bytes(out[(100, 200)].tile_pbf) == b"\x1a\x05tile!"
    assert out[(100, 200)].last_modified == 784111777
    assert out[(100, 200)].expires == 784111777 + 86400
    assert out[(101, 200)].status == 304
    assert out[(102, 200)].status == 404
    assert bytes(out[(102, 200)].tile_pbf) == b""


def test_sessionize_stream_matches_batch(spark):
    """applyInPandasWithState session operator == the oracle-checked batch
    sessionization when run to completion (availableNow) — the custom
    stateful-operator surface of SURVEY §2.9."""
    from avecado_spark import queries as q
    from avecado_spark.streaming.events import (run_available_now_update,
                                                sessionize_stream)
    import shutil
    sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = {r.user_id: (r.n_sessions, r.n_events)
             for r in q.queries()["events_sessionize"](spark, sf).collect()}
    with tempfile.TemporaryDirectory() as d:
        # file streaming sources require a directory
        shutil.copy(f"{sf}/events.parquet", os.path.join(d, "events.parquet"))
        stream_rows = run_available_now_update(
            sessionize_stream(spark, d), "sess_test")
    stream = {r.user_id: (r.n_sessions, r.n_events) for r in stream_rows}
    assert stream == batch


def test_fetch_tiles_overzoom(spark):
    """Overzoom fetch semantics (reference fetch/overzoom.cpp): z>max_zoom
    zooms out to max_zoom; a 404 above mask_zoom retries at mask_zoom."""
    from avecado_spark.sources.fetch import fetch_tiles_overzoom

    def opener(url, headers):
        # tiles exist at z6 everywhere and at z8 only for x<300
        parts = url.rsplit("/", 3)
        z, x = int(parts[1]), int(parts[2])
        if z == 6 or (z == 8 and x < 300):
            return (200, f"tile-{url.rsplit('/',3)[1:]}".encode(), {})
        return (404, b"", {})

    coords = spark.createDataFrame(
        [(10, 1000, 1000),   # above max_zoom → zoom out to z8 x=250: hit
         (10, 1400, 1000),   # z8 x=350: 404 → mask z6 x=21: hit
         (8, 100, 100)],     # direct hit
        "z int, x long, y long")
    out = {(r.z, r.x, r.y): r for r in fetch_tiles_overzoom(
        coords, "https://t.example/{z}/{x}/{y}.pbf",
        max_zoom=8, mask_zoom=6, opener=opener).collect()}
    assert out[(10, 1000, 1000)].status == 200
    assert out[(10, 1000, 1000)].served_z == 8
    assert out[(10, 1400, 1000)].status == 200
    assert out[(10, 1400, 1000)].served_z == 6
    assert out[(10, 1400, 1000)].served_x == 1400 >> 4
    assert out[(8, 100, 100)].served_z == 8


def test_deep_zoom_packed_key_layout(spark):
    """z=29 (and z=30 with 8 salts) packed keys reconstruct exact tile
    coordinates: the build's (x, y, n_features) equals the declarative
    integer tile assignment at the same zoom."""
    from pyspark.sql import functions as F
    from avecado_spark.functions.mercator import tile_x_expr, tile_y_expr
    from avecado_spark.operators.encode import build_point_tiles
    from avecado_spark.operators.keys import geocode, with_tile_keys, with_salt
    from avecado_spark.sources.pages import pages_df
    import pytest as _pytest

    pages = pages_df(spark, "/root/testdata/sf0.001").limit(2000)
    g = geocode(pages)
    for z, n_salts in ((29, 16), (30, 8)):
        p = with_tile_keys(g, z).withColumn(
            "feature_id", F.col("url").substr(32, 20).cast("long"))
        p = with_salt(p, n_salts)
        built = {(r.x, r.y): r.n_features
                 for r in build_point_tiles(p, z, n_salts=n_salts).collect()}
        expect = {(r.x, r.y): r.n for r in
                  g.select(tile_x_expr("mx_mm", z).alias("x"),
                           tile_y_expr("my_mm", z).alias("y"))
                   .groupBy("x", "y").agg(F.count("*").alias("n")).collect()}
        assert built == expect, f"z={z} layout broken"
    # z=30 with 16 salts does not fit 63 bits → explicit error
    p = with_tile_keys(g, 30).withColumn(
        "feature_id", F.col("url").substr(32, 20).cast("long"))
    p = with_salt(p, 16)
    with _pytest.raises(ValueError):
        build_point_tiles(p, 30, n_salts=16)


def test_fetch_from_tilejson(spark):
    """TileJSON-driven overzoom fetch (reference make_tilejson_fetcher,
    tilejson.cpp:132-149): the document's tiles pattern + maxzoom +
    maskLevel reproduce the overzoom truth table through the config path;
    gzipped documents are sniffed."""
    import gzip
    from avecado_spark.sources.fetch import fetch_from_tilejson
    from avecado_spark.sources.sink import make_tilejson

    def opener(url, headers):
        parts = url.rsplit("/", 3)
        z, x = int(parts[1]), int(parts[2])
        if z == 6 or (z == 8 and x < 300):
            return (200, b"tile", {})
        return (404, b"", {})

    doc = make_tilejson("pages", "https://t.example", 0, 8, mask_level=6)
    coords = spark.createDataFrame(
        [(10, 1000, 1000),   # above maxzoom → zoom out to z8 x=250: hit
         (10, 1400, 1000),   # z8 x=350: 404 → maskLevel z6: hit
         (8, 100, 100)],
        "z int, x long, y long")
    for payload in (doc, gzip.compress(doc.encode("utf-8"))):
        out = {(r.z, r.x, r.y): r for r in
               fetch_from_tilejson(coords, payload, opener=opener).collect()}
        assert out[(10, 1000, 1000)].status == 200
        assert out[(10, 1000, 1000)].served_z == 8
        assert out[(10, 1400, 1000)].status == 200
        assert out[(10, 1400, 1000)].served_z == 6
        assert out[(8, 100, 100)].served_z == 8


def test_streaming_tile_counts_parity(spark, tmp_path):
    """availableNow streaming per-tile counts == the batch tile_assign."""
    from avecado_spark import queries as q
    from avecado_spark.sources.pages import pages_df
    from avecado_spark.streaming.events import run_available_now
    from avecado_spark.streaming.tiles import streaming_tile_counts

    src = str(tmp_path / "pages_src")
    pages_df(spark, SF).write.parquet(src)
    rows = run_available_now(streaming_tile_counts(spark, src, z=14),
                             "stream_tile_counts")
    got = {(r.x, r.y): r.n_docs for r in rows}
    want = {(r.x, r.y): r.n_docs
            for r in q.queries()["tile_assign_z14"](spark, SF).collect()}
    assert got == want


def test_incremental_tile_build_matches_batch(spark, tmp_path):
    """The batch-as-time-salt incremental build: N micro-batches of phase-1
    partials + one phase-2 merge equals the one-shot batch build (same
    tiles, same per-tile feature counts and interesting flags), a replayed
    run processes nothing new, and finalize is byte-deterministic."""
    from avecado_spark.api import build_tiles
    from avecado_spark.sources.pages import pages_df
    from avecado_spark.streaming.tiles import (finalize_tiles,
                                               incremental_tile_build)

    src = str(tmp_path / "pages_src")
    pages_df(spark, SF).repartition(4).write.parquet(src)  # 4 slices
    out = str(tmp_path / "inc_build")

    n = incremental_tile_build(spark, src, z=14, out_path=out)
    assert n >= 4  # one micro-batch per file (maxFilesPerTrigger=1)

    tiles = finalize_tiles(spark, out, z=14)
    got = {(r.z, r.x, r.y): (r.n_features, r.interesting)
           for r in tiles.collect()}
    want = {(r.z, r.x, r.y): (r.n_features, r.interesting)
            for r in build_tiles(spark.read.parquet(src), z=14).collect()}
    assert got == want

    # restart from the same checkpoint: nothing to replay
    assert incremental_tile_build(spark, src, z=14, out_path=out) == 0

    # deterministic finalize (batch_id tie-break)
    b1 = {(r.z, r.x, r.y): bytes(r.tile_pbf) for r in tiles.collect()}
    b2 = {(r.z, r.x, r.y): bytes(r.tile_pbf)
          for r in finalize_tiles(spark, out, z=14).collect()}
    assert b1 == b2


def test_fetch_tiles_conditional_cache(spark):
    """S7 substitution — HTTP-cache semantics over a Spark table: fresh
    cache rows never hit the network; stale rows revalidate with a
    PER-TILE If-Modified-Since; 304 reuses cached bytes; uncached rows
    fetch plainly."""
    from avecado_spark.sources.fetch import (fetch_tiles_conditional,
                                             make_http_date)

    NOW = 1_700_000_000

    def opener(url, headers):
        # runs on executors: observations travel back in the body bytes
        parts = url.rsplit("/", 3)
        x = int(parts[2])
        ims = headers.get("If-Modified-Since")
        if x == 2:   # revalidation: unchanged since the cached Last-Modified
            assert ims == make_http_date(NOW - 5000)
            return (304, b"", {"Expires": make_http_date(NOW + 3600)})
        if x == 3:   # changed on the server
            return (200, b"new-bytes",
                    {"Last-Modified": make_http_date(NOW - 10),
                     "Expires": make_http_date(NOW + 60)})
        return (200, f"plain|ims={ims}".encode(), {})

    coords = spark.createDataFrame(
        [(6, 1, 0), (6, 2, 0), (6, 3, 0), (6, 4, 0)], "z int, x long, y long")
    cache = spark.createDataFrame(
        [(6, 1, 0, bytearray(b"cached-fresh"), NOW - 9000, NOW + 9000),
         (6, 2, 0, bytearray(b"cached-stale"), NOW - 5000, NOW - 100),
         (6, 3, 0, bytearray(b"cached-old"), NOW - 99000, NOW - 100)],
        "z int, x long, y long, tile_pbf binary, last_modified long, expires long")

    out = {r.x: r for r in fetch_tiles_conditional(
        coords, cache, "https://t.example/{z}/{x}/{y}.pbf", NOW,
        opener=opener).collect()}

    assert bytes(out[1].tile_pbf) == b"cached-fresh" and out[1].from_cache
    assert out[1].status == 200
    assert bytes(out[2].tile_pbf) == b"cached-stale" and out[2].from_cache
    assert out[2].status == 304
    assert out[2].last_modified == NOW - 5000        # carried through 304
    assert out[2].expires == NOW + 3600              # refreshed metadata
    assert bytes(out[3].tile_pbf) == b"new-bytes" and not out[3].from_cache
    assert out[3].last_modified == NOW - 10
    # uncached row fetched plainly with NO If-Modified-Since header
    assert bytes(out[4].tile_pbf) == b"plain|ims=None"
    assert not out[4].from_cache
    # fresh row: untouched metadata proves it never went through the opener
    # (the opener would have refreshed/cleared expires)
    assert out[1].expires == NOW + 9000


def test_default_opener_maps_transport_errors():
    """A connection failure maps to a per-tile synthetic 599 (reference
    fetch_status server_error role) instead of raising and killing the
    Spark task."""
    from avecado_spark.sources.fetch import _default_opener
    status, body, headers = _default_opener("http://127.0.0.1:1/x.pbf", {})
    assert status == 599 and body == b"" and headers == {}


def test_streaming_dedup_matches_batch(spark):
    """streaming/dedup.py: the running exact-dedup aggregate over the
    document stream equals the batch md5-groupBy (dedup_exact), and the
    append-mode keep-list emits exactly one doc per distinct hash with a
    doc_id the batch aggregate recognizes as a member of that group."""
    import shutil
    from avecado_spark.streaming.dedup import (distinct_docs_stream,
                                               exact_dedup_stream,
                                               run_available_now_append)
    from avecado_spark.streaming.events import run_available_now
    from tests.conftest import SF_DIR

    batch = {r.h: (r.keep_id, r.n_dups) for r in
             spark.read.parquet(f"{SF_DIR}/documents.parquet")
                  .groupBy(F.md5("text").alias("h"))
                  .agg(F.min("doc_id").alias("keep_id"),
                       F.count("*").alias("n_dups")).collect()}

    with tempfile.TemporaryDirectory() as d:
        # file streaming sources require a directory
        shutil.copy(f"{SF_DIR}/documents.parquet",
                    os.path.join(d, "documents.parquet"))
        stream_rows = run_available_now(
            exact_dedup_stream(spark, d), "dedup_stream_q")
        got = {r.h: (r.keep_id, r.n_dups) for r in stream_rows}
        assert got == batch

        kept = run_available_now_append(
            distinct_docs_stream(spark, d), "dedup_keep_q")
    assert len(kept) == len(batch)                   # one row per hash
    assert len({r.h for r in kept}) == len(kept)     # all distinct
    all_ids = {r.doc_id for r in
               spark.read.parquet(f"{SF_DIR}/documents.parquet")
                    .select("doc_id").collect()}
    assert all(r.doc_id in all_ids for r in kept)


def test_streaming_lsh_pairs_matches_batch(spark):
    """streaming/dedup.lsh_pairs_stream: documents re-split into 4 files
    and streamed one file per trigger must surface exactly the batch
    dedup_lsh_pairs candidate set — each pair once, in the micro-batch
    where the later document arrives — with the band store accumulating
    batch-partitioned parquet."""
    from avecado_spark.operators.dedup import (minhash_bands_from_docs,
                                               _pairs_from_bands)
    from avecado_spark.streaming.dedup import lsh_pairs_stream
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = {(r.doc_a, r.doc_b) for r in
                _pairs_from_bands(
                    minhash_bands_from_docs(docs).persist()).collect()}
    assert expected  # non-vacuous: the corpus seeds near-dups

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "docs")
        docs.repartition(4).write.parquet(src)
        store = os.path.join(d, "store")
        q = lsh_pairs_stream(spark, src, store, max_files_per_trigger=1)
        q.awaitTermination()
        got_rows = spark.read.parquet(os.path.join(store, "pairs")).collect()
        got = {(r.doc_a, r.doc_b) for r in got_rows}
        assert got == expected
        # exactly-once: no pair surfaced in two different micro-batches
        assert len({(r.doc_a, r.doc_b) for r in got_rows}) == len(got_rows)
        # the band store holds one partition per micro-batch
        n_batches = len({r.batch_id for r in
                         spark.read.parquet(os.path.join(store, "bands"))
                              .select("batch_id").distinct().collect()})
        assert n_batches >= 2  # maxFilesPerTrigger=1 over 4 files


def test_streaming_lsh_replay_is_idempotent(spark):
    """Restart semantics: re-running an already-committed micro-batch
    (foreachBatch replay after a crash) must leave the band store and
    pair log byte-identical — the batch_id-partitioned dynamic overwrite
    replaces the batch's own partition instead of appending a duplicate."""
    from avecado_spark.streaming.dedup import lsh_pairs_stream
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "docs")
        docs.repartition(2).write.parquet(src)
        store = os.path.join(d, "store")
        q = lsh_pairs_stream(spark, src, store, max_files_per_trigger=1)
        q.awaitTermination()
        pairs_path = os.path.join(store, "pairs")
        bands_path = os.path.join(store, "bands")
        pairs_before = sorted((r.doc_a, r.doc_b, r.batch_id) for r in
                              spark.read.parquet(pairs_path).collect())
        bands_before = spark.read.parquet(bands_path).count()
        batch_ids = sorted({r[2] for r in pairs_before} | {
            r.batch_id for r in
            spark.read.parquet(bands_path).select("batch_id")
                 .distinct().collect()})
        assert len(batch_ids) >= 2
        # replay the LAST batch by hand: the batch's own band partition
        # records exactly which documents it processed, so filter the
        # source to those doc_ids (file->batch assignment inside the
        # streaming source isn't glob order)
        replay_id = batch_ids[-1]
        batch_doc_ids = {r.doc_id for r in
                         spark.read.parquet(bands_path)
                              .where(f"batch_id = {replay_id}")
                              .select("doc_id").distinct().collect()}
        replay_docs = docs.where(docs.doc_id.isin(batch_doc_ids))
        # mirror step()'s body exactly
        from avecado_spark.operators.dedup import minhash_bands_from_docs
        from pyspark.sql import functions as F
        bands_new = minhash_bands_from_docs(replay_docs)
        storeb = (spark.read.parquet(bands_path)
                  .where(F.col("batch_id") < replay_id).drop("batch_id"))
        everything = storeb.unionByName(bands_new)
        pairs = (bands_new.alias("a")
                 .join(everything.alias("b"),
                       (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.band_key") == F.col("b.band_key"))
                       & (F.col("a.doc_id") != F.col("b.doc_id")))
                 .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                         F.greatest("a.doc_id", "b.doc_id").alias("doc_b"))
                 .distinct())
        for frame, path in ((pairs, pairs_path), (bands_new, bands_path)):
            (frame.withColumn("batch_id", F.lit(int(replay_id)))
                  .write.mode("overwrite").partitionBy("batch_id")
                  .option("partitionOverwriteMode", "dynamic")
                  .parquet(path))
        pairs_after = sorted((r.doc_a, r.doc_b, r.batch_id) for r in
                             spark.read.parquet(pairs_path).collect())
        assert pairs_after == pairs_before
        assert spark.read.parquet(bands_path).count() == bands_before


def test_streaming_paragraph_keeplist_matches_batch(spark):
    """streaming/dedup.paragraph_keeplist_stream: the append-mode
    first-seen paragraph keep-list covers exactly the batch operator's
    hash universe — one row per distinct normalized paragraph hash, and
    the kept count equals batch paragraph_dedup's total n_kept."""
    import shutil
    from avecado_spark.operators.dedup import paragraph_dedup, paragraph_rows
    from avecado_spark.streaming.dedup import (paragraph_keeplist_stream,
                                               run_available_now_append)
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch_hashes = {r.h for r in
                    paragraph_rows(docs, segment="words:8")
                    .select("h").distinct().collect()}
    batch_kept = paragraph_dedup(docs, segment="words:8", join_sep=" ") \
        .agg(F.sum("n_kept").alias("k")).collect()[0]["k"]

    with tempfile.TemporaryDirectory() as d:
        shutil.copy(f"{SF_DIR}/documents.parquet",
                    os.path.join(d, "documents.parquet"))
        kept = run_available_now_append(
            paragraph_keeplist_stream(spark, d, segment="words:8"),
            "para_keep_q")
    assert {r.h for r in kept} == batch_hashes
    assert len(kept) == len(batch_hashes) == batch_kept
