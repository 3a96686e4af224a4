"""HTTP tile fetcher source (S6) + HTTP date parsing (F12).

Reference: /root/reference/src/fetch/http.cpp — a curl-pooled GET per
{z}/{x}/{y}.pbf URL with gzip sniffing, Last-Modified/Expires header
parsing (http.cpp:143-186), If-Modified-Since conditional requests
(http.cpp:725), and status→fetch_status mapping; date strings parsed with
curl_getdate (http_date_parser.cpp:7-20).

Spark shape: the tile-coordinate DataFrame maps through mapInPandas, each
executor fetching its partition's URLs with a stdlib urllib opener — a
distributed fetch with no driver round-trip. Network access is gated: the
default opener raises unless `allow_network=True`, and tests inject a fake
opener to pin request shaping (URL substitution, headers, status mapping)
without sockets — same role as the reference's test/fetcher_test.cpp local
server.
"""

from __future__ import annotations

import calendar
import time
from email.utils import parsedate_tz

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers compose filters)

from .sink import tile_url

_FETCH_SCHEMA = ("z int, x long, y long, status int, tile_pbf binary, "
                 "last_modified long, expires long")


def parse_http_date(s: str | None) -> int | None:
    """RFC 7231 HTTP date → unix epoch seconds, None when unparseable —
    the curl_getdate role (reference http_date_parser.cpp:7-20; -1 → error
    becomes None here). Handles RFC 1123, RFC 850 and asctime forms via
    email.utils."""
    if not s:
        return None
    tt = parsedate_tz(s.strip())
    if tt is None:
        return None
    tz = tt[9] or 0
    return calendar.timegm(tt[:9]) - tz


def make_http_date(epoch: int) -> str:
    """Epoch → RFC 1123 GMT string (reference make_http_date,
    http.cpp:34-44) — used for If-Modified-Since."""
    return time.strftime("%a, %d %b %Y %H:%M:%S GMT", time.gmtime(epoch))


def _default_opener(url: str, headers: dict) -> tuple[int, bytes, dict]:
    import urllib.error
    import urllib.request
    req = urllib.request.Request(url, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return (resp.status, resp.read(), dict(resp.headers))
    except urllib.error.HTTPError as e:  # 4xx/5xx still carry a status
        return (e.code, b"", dict(e.headers or {}))
    except (urllib.error.URLError, OSError):
        # transport failure (DNS, refused, timeout) — map to a per-tile
        # synthetic status like the reference's fetch_status (server_error)
        # so one unreachable tile doesn't abort the distributed fetch
        return (599, b"", {})


def build_requests(coords: pd.DataFrame, url_pattern: str,
                   if_modified_since: int | None = None) -> list[tuple]:
    """(z, x, y) rows → [(z, x, y, url, headers)] — the request-shaping
    step, separated so it is unit-testable without sockets."""
    headers = {"User-Agent": "avecado-spark/0.1",
               "Accept-Encoding": "gzip"}
    if if_modified_since is not None:
        headers = dict(headers,
                       **{"If-Modified-Since": make_http_date(if_modified_since)})
    return [(int(r.z), int(r.x), int(r.y),
             tile_url(url_pattern, int(r.z), int(r.x), int(r.y)), headers)
            for r in coords.itertuples(index=False)]


def fetch_tiles(coords: DataFrame, url_pattern: str,
                allow_network: bool = False,
                if_modified_since: int | None = None,
                opener=None) -> DataFrame:
    """Distributed tile fetch: (z, x, y) → (z, x, y, status, tile_pbf,
    last_modified, expires). status mirrors the reference's fetch_status
    mapping (200 → bytes, 304 → empty/not-modified, 404 → empty); gzip
    payloads are passed through as-is (the engine's decode path sniffs the
    magic, functions/mvt.py).

    Network is OFF by default — pass allow_network=True for a real run, or
    inject `opener(url, headers) -> (status, bytes, headers)` (tests)."""
    if opener is None:
        if not allow_network:
            raise ValueError("network fetch disabled; pass allow_network=True "
                             "or inject an opener")
        opener = _default_opener

    def run(batches):
        for pdf in batches:
            reqs = build_requests(pdf, url_pattern, if_modified_since)
            out = {"z": [], "x": [], "y": [], "status": [], "tile_pbf": [],
                   "last_modified": [], "expires": []}
            for z, x, y, url, headers in reqs:
                status, body, rheaders = opener(url, headers)
                out["z"].append(z)
                out["x"].append(x)
                out["y"].append(y)
                out["status"].append(int(status))
                out["tile_pbf"].append(body if status == 200 else b"")
                out["last_modified"].append(
                    parse_http_date(rheaders.get("Last-Modified")))
                out["expires"].append(parse_http_date(rheaders.get("Expires")))
            yield pd.DataFrame(out)

    return coords.select("z", "x", "y").mapInPandas(run, schema=_FETCH_SCHEMA)


_CFETCH_SCHEMA = ("z int, x long, y long, status int, tile_pbf binary, "
                  "last_modified long, expires long, from_cache boolean")


def fetch_tiles_conditional(coords: DataFrame, cache: DataFrame | None,
                            url_pattern: str, now: int,
                            allow_network: bool = False,
                            opener=None) -> DataFrame:
    """HTTP-cache semantics over a Spark table — the engine's substitution
    for the reference's per-thread SQLite HTTP cache (S7, http.cpp):

      * a cached row with `expires` > now is served WITHOUT a request
        (the reference's expiry check, http.cpp:143-186);
      * a stale cached row carries its Last-Modified into a PER-TILE
        If-Modified-Since header; a 304 response refreshes metadata and
        reuses the cached bytes (reference conditional requests,
        http.cpp:725 + fetcher_test.cpp);
      * uncached rows fetch plainly.

    cache: (z, x, y, tile_pbf, last_modified, expires) or None. Returns
    (z, x, y, status, tile_pbf, last_modified, expires, from_cache); write
    it back as the next run's cache table. The join is on tile keys — at
    fleet scale the cache table is bucketed by (z, x, y) so revalidation
    sweeps co-locate with it."""
    if opener is None:
        if not allow_network:
            raise ValueError("network fetch disabled; pass allow_network=True "
                             "or inject an opener")
        opener = _default_opener

    if cache is None:
        left = coords.select("z", "x", "y",
                             F.lit(None).cast("binary").alias("c_pbf"),
                             F.lit(None).cast("long").alias("c_lm"),
                             F.lit(None).cast("long").alias("c_exp"))
    else:
        left = coords.select("z", "x", "y").join(
            cache.select("z", "x", "y",
                         F.col("tile_pbf").alias("c_pbf"),
                         F.col("last_modified").alias("c_lm"),
                         F.col("expires").alias("c_exp")),
            ["z", "x", "y"], "left")

    fresh = (left.where(F.col("c_exp").isNotNull() & (F.col("c_exp") > now))
                 .select("z", "x", "y", F.lit(200).alias("status"),
                         F.col("c_pbf").alias("tile_pbf"),
                         F.col("c_lm").alias("last_modified"),
                         F.col("c_exp").alias("expires"),
                         F.lit(True).alias("from_cache")))
    stale = left.where(F.col("c_exp").isNull() | (F.col("c_exp") <= now))

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("z", "x", "y", "status", "tile_pbf",
                                   "last_modified", "expires", "from_cache")}
            for r in pdf.itertuples(index=False):
                z, x, y = int(r.z), int(r.x), int(r.y)
                headers = {"User-Agent": "avecado-spark/0.1",
                           "Accept-Encoding": "gzip"}
                has_lm = r.c_lm is not None and not pd.isna(r.c_lm)
                if has_lm:
                    headers["If-Modified-Since"] = make_http_date(int(r.c_lm))
                status, body, rheaders = opener(
                    tile_url(url_pattern, z, x, y), headers)
                out["z"].append(z)
                out["x"].append(x)
                out["y"].append(y)
                out["status"].append(int(status))
                if status == 304 and r.c_pbf is not None:
                    # not modified → cached bytes stay valid
                    out["tile_pbf"].append(bytes(r.c_pbf))
                    out["from_cache"].append(True)
                elif status == 200:
                    out["tile_pbf"].append(body)
                    out["from_cache"].append(False)
                else:
                    out["tile_pbf"].append(b"")
                    out["from_cache"].append(False)
                lm = parse_http_date(rheaders.get("Last-Modified"))
                if lm is None and has_lm and status == 304:
                    lm = int(r.c_lm)
                out["last_modified"].append(lm)
                out["expires"].append(parse_http_date(rheaders.get("Expires")))
            yield pd.DataFrame(out)

    fetched = stale.select("z", "x", "y", "c_pbf", "c_lm").mapInPandas(
        run, schema=_CFETCH_SCHEMA)
    return fresh.unionAll(fetched)


def fetch_from_tilejson(coords: DataFrame, tilejson_text: str | bytes,
                        allow_network: bool = False,
                        opener=None) -> DataFrame:
    """TileJSON-driven distributed fetch — the make_tilejson_fetcher wiring
    (reference tilejson.cpp:132-149): the document's first `tiles` URL
    pattern (http.cpp:742 uses m_url_patterns[0]), `maxzoom` (default 22,
    the reference's conf.get default) and optional `maskLevel` drive the
    overzoom fetcher. Gzipped documents are sniffed and decompressed
    (tilejson.cpp:115-121); maskLevel is accepted as int or string (the
    reference serializes it as a string, tilejson.cpp make_tilejson)."""
    from .sink import parse_tilejson
    if isinstance(tilejson_text, (bytes, bytearray)):
        buf = bytes(tilejson_text)
        if buf[:2] == b"\x1f\x8b":  # gzip magic (tilejson.cpp:83-96)
            import gzip
            buf = gzip.decompress(buf)
        tilejson_text = buf.decode("utf-8")
    doc = parse_tilejson(tilejson_text)
    max_zoom = int(doc.get("maxzoom", 22))
    mask = doc.get("maskLevel")
    mask_zoom = int(mask) if mask is not None else None
    return fetch_tiles_overzoom(coords, doc["tiles"][0], max_zoom,
                                mask_zoom=mask_zoom,
                                allow_network=allow_network, opener=opener)


def fetch_tiles_overzoom(coords: DataFrame, url_pattern: str,
                         max_zoom: int, mask_zoom: int | None = None,
                         allow_network: bool = False,
                         opener=None) -> DataFrame:
    """Overzoom fetch (reference fetch/overzoom.cpp:14-47): requests above
    max_zoom are zoomed OUT to max_zoom (x, y right-shifted); a 404 at an
    effective z above mask_zoom retries once at mask_zoom. Output carries
    the requested (z, x, y), the status and bytes, and the tile
    (served_z, served_x, served_y) that answered it. The engine's one
    overzoom: tests/test_pyramid_raster.py runs the reference truth
    tables (test/overzoom.cpp:38-101) through it."""
    eff = coords.select(
        "z", "x", "y",
        F.least(F.col("z"), F.lit(max_zoom)).alias("eff_z"),
        F.expr(f"shiftright(x, int(greatest(z - {max_zoom}, 0)))").alias("eff_x"),
        F.expr(f"shiftright(y, int(greatest(z - {max_zoom}, 0)))").alias("eff_y"))
    fetched = (eff.select(F.col("eff_z").alias("z"),
                          F.col("eff_x").alias("x"),
                          F.col("eff_y").alias("y")).distinct())
    first = fetch_tiles(fetched, url_pattern, allow_network=allow_network,
                        opener=opener)
    if mask_zoom is not None:
        misses = (first.where((F.col("status") == 404)
                              & (F.col("z") > mask_zoom))
                  .select("z", "x", "y"))
        masked = (misses.select(F.lit(mask_zoom).alias("nz"),
                                F.expr(f"shiftright(x, int(z - {mask_zoom}))").alias("nx"),
                                F.expr(f"shiftright(y, int(z - {mask_zoom}))").alias("ny"),
                                F.col("z").alias("oz"),
                                F.col("x").alias("ox"),
                                F.col("y").alias("oy"))
                  .withColumnRenamed("nz", "z")
                  .withColumnRenamed("nx", "x")
                  .withColumnRenamed("ny", "y"))
        retried = (fetch_tiles(masked.select("z", "x", "y").distinct(),
                               url_pattern, allow_network=allow_network,
                               opener=opener)
                   .withColumnRenamed("z", "mz")
                   .withColumnRenamed("x", "mx")
                   .withColumnRenamed("y", "my"))
        remap = (masked.join(retried, (masked.z == retried.mz)
                             & (masked.x == retried.mx)
                             & (masked.y == retried.my))
                 .select(F.col("oz").alias("z"), F.col("ox").alias("x"),
                         F.col("oy").alias("y"), "status", "tile_pbf",
                         "last_modified", "expires",
                         F.col("mz").alias("served_z"),
                         F.col("mx").alias("served_x"),
                         F.col("my").alias("served_y")))
        kept = (first.where(~((F.col("status") == 404)
                              & (F.col("z") > mask_zoom)))
                .select("z", "x", "y", "status", "tile_pbf",
                        "last_modified", "expires",
                        F.col("z").alias("served_z"),
                        F.col("x").alias("served_x"),
                        F.col("y").alias("served_y")))
        first = kept.unionAll(remap)
    else:
        first = first.select("z", "x", "y", "status", "tile_pbf",
                             "last_modified", "expires",
                             F.col("z").alias("served_z"),
                             F.col("x").alias("served_x"),
                             F.col("y").alias("served_y"))
    return (eff.join(first, (eff.eff_z == first.z) & (eff.eff_x == first.x)
                     & (eff.eff_y == first.y))
               .select(eff.z, eff.x, eff.y, "status", "tile_pbf",
                       "last_modified", "expires",
                       "served_z", "served_x", "served_y"))
