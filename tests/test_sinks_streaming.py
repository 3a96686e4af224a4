"""Sinks (z/x/y.pbf tree, TileJSON), checkpoint/resume manifest,
Structured Streaming batch-parity, the distributed feature build and the
HTTP tile fetchers — the Spark-integration layer."""

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


def test_resumable_build_runs_the_build_once(spark, tmp_path):
    """run_resumable_build evaluates the tile build once, in the write: an
    accumulator behind the build counts each tile once, and the manifest
    rows read back from the written files equal the per-part_key totals
    of the tiles."""
    from avecado_spark.api import build_tiles
    from avecado_spark.sources.manifest import (read_manifest,
                                                run_resumable_build,
                                                with_part_key)
    from avecado_spark.sources.pages import pages_df
    seen = spark.sparkContext.accumulator(0)

    def count(batches):
        for b in batches:
            seen.add(len(b))
            yield b

    tiles = build_tiles(pages_df(spark, SF), z=2)
    counted = tiles.mapInPandas(count, schema=tiles.schema)
    m = run_resumable_build(spark, counted, 2, str(tmp_path), lineage="t")
    assert m["n_tiles"] > 0 and seen.value == m["n_tiles"]
    want = {(r.part_key, r.n, r.nf, r.b) for r in
            with_part_key(tiles, 2).groupBy("part_key").agg(
                F.count("*").alias("n"), F.sum("n_features").alias("nf"),
                F.sum(F.length("tile_pbf")).alias("b")).collect()}
    got = {(r.part_key, r.n_tiles, r.n_features, r.bytes)
           for r in read_manifest(spark, str(tmp_path), "t").collect()}
    assert got == want and len(got) == m["written_partitions"]


def test_low_zoom_part_keys_group_tiles(spark, tiles, tmp_path):
    """A z6 part_key groups 8×8 tiles, so the sf0.001 z6 build writes at
    most 64 part_key directories, not one per tile; a viewport read pruned
    by part_key returns the rows an (x, y) filter on the unpartitioned
    tiles does, for windows that cross bucket edges too."""
    from avecado_spark.sources.manifest import (read_tiles_bbox,
                                                run_resumable_build)
    m = run_resumable_build(spark, tiles, 6, str(tmp_path), lineage="z6")
    dirs = list((tmp_path / "tiles").glob("part_key=*"))
    assert 0 < len(dirs) == m["written_partitions"] <= 64

    def rows(df):
        return sorted((r.z, r.x, r.y, bytes(r.tile_pbf), r.n_features)
                      for r in df.collect())

    for x0, x1, y0, y1 in [(0, 63, 0, 63), (10, 37, 20, 29), (33, 33, 21, 21)]:
        want = rows(tiles.where(F.col("x").between(x0, x1)
                                & F.col("y").between(y0, y1)))
        assert want, (x0, x1, y0, y1)
        assert rows(read_tiles_bbox(spark, str(tmp_path), 6,
                                    x0, x1, y0, y1)) == want


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
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "build_tiles.py"),
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
    """At z=29 and z=30 with 16 salts the tile key x·2^z + y reconstructs
    exact tile coordinates: the build's (x, y, n_features) equals the
    declarative integer tile assignment at the same zoom. z=31 is past the
    deepest zoom the reference serves and raises."""
    from pyspark.sql import functions as F
    from avecado_spark.functions.mercator import tile_x_expr, tile_y_expr
    from avecado_spark.operators.encode import build_point_tiles
    from avecado_spark.operators.keys import geocode, with_tile_keys, with_salt
    from avecado_spark.sources.pages import pages_df
    import pytest as _pytest

    pages = pages_df(spark, "/root/testdata/sf0.001").limit(2000)
    g = geocode(pages)
    for z in (29, 30):
        p = with_tile_keys(g, z).withColumn(
            "feature_id", F.col("url").substr(32, 20).cast("long"))
        p = with_salt(p, 16)
        built = {(r.x, r.y): r.n_features
                 for r in build_point_tiles(p, z).collect()}
        expect = {(r.x, r.y): r.n for r in
                  g.select(tile_x_expr("mx_mm", z).alias("x"),
                           tile_y_expr("my_mm", z).alias("y"))
                   .groupBy("x", "y").agg(F.count("*").alias("n")).collect()}
        assert built == expect, f"z={z} layout broken"
    p = with_tile_keys(g, 31).withColumn(
        "feature_id", F.col("url").substr(32, 20).cast("long"))
    with _pytest.raises(ValueError, match="z=31"):
        build_point_tiles(with_salt(p, 16), 31)


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
