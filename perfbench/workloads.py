"""The benchmark's workloads.

Each workload owns its generated inputs, its timed job (table scan to a
collected result), the check of that result, and its traced cut points:
a list of (span name, sink) run in order, where each sink runs the
pipeline up to one more layer than the one before it, and the last is the
timed job itself. A layer's self time is its sink minus the previous one.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from . import inputs

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
PR_ITERS = 5
PR_TOP = 100


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _low32_sum(F, *cols):
    # order-insensitive content hash; the low 32 bits keep the sum inside
    # a long under ANSI overflow checks
    return F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF))


class Workload:
    name = ""
    n_orders = 0        # default input size: orders of 1-7 pages each
    n_files = 8
    # untimed jobs after the first (set-up) one and before timing: the
    # second job in a JVM still runs its stages partly compiled
    warm_jobs = 1
    pinned_keys: tuple = ()  # result fields checked against pins.json

    def __init__(self, seed: int, work_dir: str, n_orders: int | None = None):
        self.seed = seed
        self.pages_dir = os.path.join(work_dir, "pages")
        self.first = None          # first result of the run: determinism
        # pins hold results of the default input size only
        self.pin = (None if n_orders else
                    _load_pins().get(self.name, {}).get(str(seed)))
        self.n_orders = n_orders or self.n_orders
        self.extra: dict = {}      # per-layer counts gathered by the cuts

    def prepare(self) -> dict:
        """Generate the inputs and the references; returns input sizes."""
        self.con = inputs.duck(inputs.lineitem_keys(self.seed, self.n_orders))
        self.rows = inputs.write_pages(self.con, self.seed, self.pages_dir,
                                       self.n_files)
        self.reference()
        return {"pages": self.rows, "files": self.n_files}

    def reference(self) -> None:
        raise NotImplementedError

    def pages(self, spark):
        return spark.read.parquet(self.pages_dir)

    def job(self, spark, pages, metrics=None) -> dict:
        """Scan `pages` to a collected result."""
        raise NotImplementedError

    def out_records(self, res: dict) -> int:
        raise NotImplementedError

    def check(self, res: dict) -> bool:
        """Reference fields must match; pinned fields must match the pin
        for this seed when there is one, and the run's first result always
        (a deterministic build gives the same bytes every time)."""
        if any(res[k] != v for k, v in self.expected().items()):
            return False
        pinned = {k: res[k] for k in self.pinned_keys}
        if self.pin is not None and pinned != self.pin:
            return False
        if self.first is None:
            self.first = pinned
        self.result = res
        return pinned == self.first

    def expected(self) -> dict:
        raise NotImplementedError

    def spot_check(self, spark) -> bool:
        return True

    def cuts(self) -> list:
        raise NotImplementedError

    def layer_metrics(self, L, counters: list[dict]) -> dict:
        """Per-layer metrics from the traced run's medians `L`."""
        raise NotImplementedError

    @staticmethod
    def _geocode_layer(L) -> dict:
        return {"keys.geocode_s": L.self_("keys.geocode"),
                "keys.geocode_py_s": L.self_("keys.geocode", "py_s"),
                "keys.geocode_py_bytes_sent":
                    L.self_("keys.geocode", "py_bytes_sent"),
                "keys.geocode_py_bytes_returned":
                    L.self_("keys.geocode", "py_bytes_returned")}


class TilesZ14(Workload):
    """Bulk vector-tile build: pages -> geocode -> tile keys -> two-phase
    salted MVT encode -> gzipped tiles."""
    name = "tiles_z14"
    z = 14
    n_orders = 12_000
    pinned_keys = ("bytes", "hash")

    def reference(self):
        self.ref = inputs.tile_reference(self.con, self.z)

    def expected(self):
        return self.ref

    def _salted(self, spark):
        from pyspark.sql import functions as F

        from avecado_spark.operators.keys import (geocode, with_salt,
                                                  with_tile_keys)
        keyed = with_tile_keys(geocode(self.pages(spark)), self.z)
        # the feature id api.build_tiles derives: the trailing page number
        keyed = keyed.withColumn("feature_id",
                                 F.col("url").substr(32, 20).cast("long"))
        return with_salt(keyed)

    def job(self, spark, pages, metrics=None):
        from pyspark.sql import functions as F

        from avecado_spark.api import build_tiles
        t = build_tiles(pages, z=self.z)
        row = t.agg(F.count("*").alias("tiles"),
                    F.sum("n_features").alias("docs"),
                    F.sum(F.length("tile_pbf")).alias("bytes"),
                    _low32_sum(F, "z", "x", "y", "tile_pbf").alias("hash"),
                    F.sum("x").alias("sum_x"), F.sum("y").alias("sum_y"),
                    F.sum(F.col("n_features") * F.col("x")).alias("sum_nx"),
                    F.sum(F.col("n_features") * F.col("y")).alias("sum_ny"),
                    F.sum(F.col("interesting").cast("long"))
                    .alias("interesting")).first()
        return {k: int(v) for k, v in row.asDict().items()}

    def out_records(self, res):
        return res["tiles"]

    def cuts(self):
        from pyspark.sql import functions as F

        from avecado_spark.operators.encode import build_point_tiles
        from avecado_spark.operators.keys import geocode

        def scan(spark):
            _noop(self.pages(spark).select("url", "text", "lang"))

        def geo(spark):
            _noop(geocode(self.pages(spark)).select("url", "mx_mm", "my_mm",
                                                    "lang"))

        def phase1(spark):
            partial = build_point_tiles(self._salted(spark), self.z,
                                        partials_only=True)
            self.extra["partials"] = partial.agg(F.count("*")).first()[0]

        return [("sources.scan", scan), ("keys.geocode", geo),
                ("encode.phase1", phase1), ("encode.phase2", None)]

    def layer_metrics(self, L, counters):
        m = self._geocode_layer(L)
        for phase in ("phase1", "phase2"):
            cut = f"encode.{phase}"
            m[f"{cut}_s"] = L.self_(cut)
            m[f"{cut}_py_s"] = L.self_(cut, "py_s")
            m[f"{cut}_shuffle_bytes"] = L.self_(cut, "shuffle_write_bytes")
        tiles = self.result["tiles"]
        m["encode.partials_per_tile"] = self.extra["partials"] / tiles
        m["encode.tile_bytes"] = self.result["bytes"] / tiles
        m["encode.phase2_task_skew"] = L.skew("encode.phase2")
        return m


class PipKnn10k(Workload):
    """Spatial join: geocode every page, then its 2 nearest of 10^4 hex
    admin polygons through the broadcast STRtree probe."""
    name = "pip_knn_10k"
    n_orders = 3_000
    n_files = 4
    warm_jobs = 0       # the second job is within ~15% of later ones
    pinned_keys = ("hash",)
    SAMPLE = 64

    def reference(self):
        self.polys = inputs.hex_polygons(self.seed)
        sample = inputs.geo_sample(self.con, self.seed, self.SAMPLE)
        self.sample_ref = inputs.knn_brute_force(sample, self.polys)

    def expected(self):
        return {"rows": inputs.KNN_K * self.rows}

    def _probe(self, pages, metrics=None):
        from avecado_spark.operators.adminizer import \
            adminize_points_knn_rings
        from avecado_spark.operators.keys import geocode
        g = geocode(pages).select("url", "mx_mm", "my_mm")
        t = time.perf_counter()
        out = adminize_points_knn_rings(g, self.polys, k=inputs.KNN_K,
                                        metrics=metrics)
        self.extra["index_build_s"] = time.perf_counter() - t
        return out

    def job(self, spark, pages, metrics=None):
        from pyspark.sql import functions as F
        row = self._probe(pages, metrics).agg(
            F.count("*").alias("rows"),
            _low32_sum(F, "url", "admin", "rank").alias("hash")).first()
        return {k: int(v) for k, v in row.asDict().items()}

    def out_records(self, res):
        return res["rows"]

    def spot_check(self, spark):
        """The probe's answer for a seeded sample of points against a dense
        numpy scan of all 10^4 polygons."""
        from pyspark.sql import functions as F
        pages = self.pages(spark).where(
            F.col("url").isin(list(self.sample_ref)))
        got: dict = {}
        for r in self._probe(pages).orderBy("url", "rank").collect():
            got.setdefault(r.url, []).append(r.admin)
        return got == self.sample_ref

    def cuts(self):
        from avecado_spark.operators.keys import geocode

        def scan(spark):
            _noop(self.pages(spark).select("url", "text"))

        def geo(spark):
            _noop(geocode(self.pages(spark)).select("url", "mx_mm", "my_mm"))

        return [("sources.scan", scan), ("keys.geocode", geo),
                ("adminizer.probe", None)]

    def layer_metrics(self, L, counters):
        def per_point(key, scale=1.0):
            return statistics.median(scale * c[key] / c["points"]
                                     for c in counters)
        m = self._geocode_layer(L)
        m.update({"adminizer.index_build_s": self.extra["index_build_s"],
                  "adminizer.probe_s": L.self_("adminizer.probe"),
                  "adminizer.exact_evals_per_point": per_point("exact_evals"),
                  "adminizer.slate_per_point": per_point("slate"),
                  "adminizer.rescan_pct": per_point("rescans", 100.0)})
        return m


class WebgraphPagerank(Workload):
    """Link graph: HTML link extraction, live-edge join, 5 rounds of
    integer PageRank, top 100."""
    name = "webgraph_pagerank"
    n_orders = 3_000
    n_files = 4

    def reference(self):
        self.ref = inputs.pagerank_reference(self.con)
        self.edges = self.con.sql(
            "SELECT count(*) FROM (" + _edge_count_sql() + ")").fetchone()[0]

    def expected(self):
        return {"top": self.ref}

    def _edges(self, pages):
        from avecado_spark.operators.webgraph import edges_df, extract_links
        return edges_df(pages, links=extract_links(pages), unique=True)

    def job(self, spark, pages, metrics=None):
        from pyspark.sql import functions as F

        from avecado_spark.operators.webgraph import pagerank_int
        ranks = pagerank_int(pages.select("url"), self._edges(pages),
                             iters=PR_ITERS, scale=10**12)
        top = (ranks.orderBy(F.col("rank_i").desc(), "url").limit(PR_TOP)
               .collect())
        return {"top": [(r.url, int(r.rank_i)) for r in top]}

    def out_records(self, res):
        # the live edges every PageRank round iterates over
        return self.edges

    def cuts(self):
        from avecado_spark.operators.webgraph import extract_links

        def scan(spark):
            _noop(self.pages(spark).select("url", "html"))

        def links(spark):
            _noop(extract_links(self.pages(spark)))

        def edges(spark):
            _noop(self._edges(self.pages(spark)))

        return [("sources.scan", scan), ("webgraph.extract_links", links),
                ("webgraph.edges", edges), ("webgraph.pagerank", None)]

    def layer_metrics(self, L, counters):
        return {"webgraph.extract_links_s": L.self_("webgraph.extract_links"),
                "webgraph.extract_py_bytes_sent":
                    L.self_("webgraph.extract_links", "py_bytes_sent"),
                "webgraph.edges_s": L.self_("webgraph.edges"),
                "webgraph.pagerank_s": L.self_("webgraph.pagerank"),
                "webgraph.round_shuffle_bytes":
                    L.self_("webgraph.pagerank", "shuffle_write_bytes")
                    / PR_ITERS}


def _edge_count_sql() -> str:
    """The live-edge set of the DuckDB PageRank oracle."""
    from avecado_spark.queries import oracle_sql
    sql = oracle_sql()["web_pagerank_top"]
    head = sql[:sql.index("deg AS (")].rstrip().rstrip(",")
    return head + "\nSELECT * FROM edges"


WORKLOADS = {w.name: w for w in (TilesZ14, PipKnn10k, WebgraphPagerank)}


def _load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)
