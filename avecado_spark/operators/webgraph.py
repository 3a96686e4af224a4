"""Web-graph pipeline over the Common-Crawl-shaped `pages` table:
HTML anchor extraction → URL canonicalization → link graph → PageRank.

This is the operator class a web corpus needs between "crawl" and
"training data": link extraction feeds dedup/quality signals (anchor
text, in-degree), and PageRank-style centrality is the classic
quality/prior score for corpus sampling.

Scale shape (the part that must survive 100 TB):

  * `extract_links` is SHUFFLE-FREE — one projection (url, html) off the
    scan (the huge html column never reaches any exchange; it dies inside
    the Arrow batch) and one mapInPandas pass. Per-page dedup of repeated
    targets happens inside the page's own batch row (a page's links live
    on its row), so no groupBy is needed.
  * the edge build joins extracted targets to the page-url set — a plain
    equi-join on the canonical URL (at corpus scale: bucket both sides by
    url; dead links drop out of the inner join).
  * `pagerank` is the bigstar playbook (operators/dedup.py): K rounds of
    join + map-side-combined groupBy-sum, every round localCheckpoint'ed
    (r04 lesson: iterative loops must truncate the LOGICAL plan, persist
    alone lets Catalyst analysis explode), node/edge tables hash-
    partitioned on url so every round reuses the same exchange layout.
  * integer fixed-point variant (`pagerank_int`): rank as BIGINT scaled
    by 1e12 with floor division everywhere — bit-identical across engines
    (Spark `div` == DuckDB `//` for non-negative operands), which is what
    makes an exact-hash DuckDB oracle possible (queries.web_pagerank_top).
    The float variant (`pagerank`) is the production scorer (damping +
    dangling-mass redistribution); pinned against a numpy reference in
    tests/test_webgraph.py.

Reference parity note: the reference engine (MapQuest/avecado) has no web
corpus surface — this block is engine-addition scope (SURVEY §2.9-style),
shaped by the north rule's Common-Crawl framing.
"""

from __future__ import annotations

import re
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.url import canonicalize, split_url

# anchor tags: attrs in any order/case, href double-/single-/un-quoted,
# inner text until the matching close tag (nested inline tags stripped)
_A_RE = re.compile(
    rb"""<a\b[^>]*?\bhref\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))[^>]*>(.*?)</a\s*>""",
    re.I | re.S)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(rb"\s+")
# rel attribute of the OPENING tag (double-/single-/un-quoted value);
# nofollow membership is token-wise and case-insensitive per the HTML spec
_REL_RE = re.compile(rb"""\brel\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
                     re.I)

LINKS_SCHEMA = ("src_url string, dst_url string, anchor string, "
                "first_pos long, nofollow boolean")


def parse_links(url: str, html: bytes) -> list[tuple[str, str, str, int, bool]]:
    """All canonical outlinks of one page, document order, first
    occurrence per distinct target; fragment-only self-links and
    non-http(s) schemes dropped. `nofollow` is the link-level annotation
    (rel token list contains "nofollow", case-insensitive) downstream
    graph builds filter on. Pure function — unit-testable without Spark,
    and the exact kernel `extract_links` runs per Arrow batch."""
    out: list[tuple[str, str, str, int, bool]] = []
    seen: set[str] = set()
    pos = 0
    base_parts = split_url(url)  # split once per page, not once per link
    for m in _A_RE.finditer(html):
        href = (m.group(2) if m.group(2) is not None else
                m.group(3) if m.group(3) is not None else m.group(4))
        try:
            text = href.decode("utf-8", "replace")
        except Exception:  # pragma: no cover - bytes always decode w/ replace
            continue
        dst = canonicalize(text, base_parts)
        pos += 1
        if dst is None or dst == url or dst in seen:
            continue
        seen.add(dst)
        open_tag = html[m.start():html.index(b">", m.start()) + 1]
        rm = _REL_RE.search(open_tag)
        nofollow = False
        if rm:
            rel = (rm.group(2) if rm.group(2) is not None else
                   rm.group(3) if rm.group(3) is not None else rm.group(4))
            nofollow = b"nofollow" in {t.lower() for t in rel.split()}
        anchor = _WS_RE.sub(b" ", _TAG_RE.sub(b"", m.group(5))).strip()
        out.append((url, dst, anchor.decode("utf-8", "replace"), pos - 1,
                    nofollow))
    return out


def extract_links(pages: DataFrame) -> DataFrame:
    """(url, html, ...) -> (src_url, dst_url, anchor, first_pos,
    nofollow).

    One shuffle-free mapInPandas pass; the html column is pruned into the
    Arrow batch and never serialized further."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows: list[tuple[str, str, str, int]] = []
            for url, html in zip(b["url"], b["html"]):
                rows.extend(parse_links(url, bytes(html)))
            yield pd.DataFrame(rows, columns=["src_url", "dst_url",
                                              "anchor", "first_pos",
                                              "nofollow"])

    return pages.select("url", "html").mapInPandas(run, schema=LINKS_SCHEMA)


TEXT_SCHEMA = "url string, text_x string"


def extract_text(pages: DataFrame) -> DataFrame:
    """(url, html, ...) -> (url, text_x): the exactly-specified html→text
    transform (functions/htmltext.html_to_text), one shuffle-free
    mapInPandas pass — the north rule's byte-identical-text-per-url
    producer. Same scan shape as extract_links: the html column is pruned
    into the Arrow batch and dies there."""
    import pandas as pd

    from ..functions.htmltext import html_to_text

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame({
                "url": b["url"],
                "text_x": [html_to_text(bytes(h)) for h in b["html"]]})

    return pages.select("url", "html").mapInPandas(run, schema=TEXT_SCHEMA)


def edges_df(pages: DataFrame, links: DataFrame | None = None,
             unique: bool = False) -> DataFrame:
    """Live link-graph edges: canonical targets inner-joined back to the
    page-url set (dead links drop), self-loops excluded. Distinct is
    already guaranteed per page by parse_links; the explicit distinct
    covers multi-row sources (e.g. a crawl with re-fetches). Pass `links`
    (a materialized extract_links table) to skip the html parse — the
    durable-job path, where extraction runs exactly once.

    unique=True skips the distinct (guide §2.4: a distinct on data that
    is already unique is a pure extra shuffle): valid exactly when the
    caller knows links are one fetch per page (parse_links dedups
    targets within a page) AND the page table's urls are unique — then
    the inner join cannot create duplicates. Results are identical under
    that precondition; callers with re-fetched/multi-row sources must
    keep the default."""
    if links is None:
        links = extract_links(pages)
    links = links.select(F.col("src_url").alias("src"),
                         F.col("dst_url").alias("dst"))
    urls = pages.select(F.col("url").alias("dst"))
    out = (links.join(urls, "dst")
                .where(F.col("src") != F.col("dst"))
                .select("src", "dst"))
    return out if unique else out.distinct()


def frontier_df(pages: DataFrame, follow_only: bool = True,
                links: DataFrame | None = None) -> DataFrame:
    """Crawl frontier: canonical outlink targets NOT in the corpus,
    ranked by demand — (url, want_cnt, n_hosts) where want_cnt counts
    referring pages and n_hosts the distinct referring sources. The
    anti-join against the known url set is the inverse of edges_df's
    inner join; `follow_only` drops rel=nofollow links (the crawl-
    politeness default). One extraction pass + one anti-join + one
    groupBy on slim rows. Pass `links` to reuse a materialized
    extraction table instead of re-parsing."""
    if links is None:
        links = extract_links(pages)
    if follow_only:
        links = links.where(~F.col("nofollow"))
    urls = pages.select(F.col("url").alias("dst_url"))
    return (links.join(urls, "dst_url", "left_anti")
                 .groupBy(F.col("dst_url").alias("url"))
                 .agg(F.count("*").alias("want_cnt"),
                      F.countDistinct("src_url").alias("n_srcs")))


def _host_col(url: str):
    """functions/url.host_of over a url column, Arrow-batched (r07
    verdict: the frontier is the BIG side of the crawl gates — a
    row-at-a-time pickled UDF here is a BatchEvalPython node)."""
    import pandas as pd

    from ..functions.url import host_of

    def _hosts(urls: pd.Series) -> pd.Series:
        return urls.map(host_of)

    _hosts.__annotations__ = {"urls": pd.Series, "return": pd.Series}
    return F.pandas_udf(_hosts, "string")(url)


def cap_frontier_per_host(frontier: DataFrame, max_per_host: int) -> DataFrame:
    """Keep each host's `max_per_host` most-wanted frontier urls (want_cnt
    descending, url ascending) — crawl politeness AND skew control: one
    mega-host cannot monopolize a round's fetch budget or a fetch
    partition. One window partitioned by host; schema passes through."""
    from pyspark.sql.window import Window
    w = Window.partitionBy(_host_col("url")) \
              .orderBy(F.col("want_cnt").desc(), "url")
    return (frontier.withColumn("_rk", F.row_number().over(w))
                    .where(F.col("_rk") <= max_per_host)
                    .drop("_rk"))


def filter_frontier_robots(frontier: DataFrame, robots: DataFrame,
                           user_agent: str = "avecado") -> DataFrame:
    """Crawl-politeness gate: drop frontier urls a host's robots.txt
    disallows for `user_agent` (RFC 9309 matching, functions/robots).
    `robots` is a (host, robots_txt) table — the fetch-once-per-host
    artifact a crawler maintains; hosts with no row are allow-all per
    spec. Scale shape: one equi-join on host (robots tables are tiny
    next to frontiers — Catalyst broadcasts when small), then a
    per-batch Arrow pass that parses each DISTINCT host's body once and
    evaluates the path rules; no data beyond (url, robots_txt) moves."""
    from ..functions.robots import allowed, parse_robots

    fr = frontier.withColumn("_host", _host_col("url"))
    joined = fr.join(robots.select(F.col("host").alias("_host"),
                                   "robots_txt"),
                     "_host", "left")

    cols = [f.name for f in frontier.schema.fields]
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in frontier.schema.fields)

    def gate(batches):
        cache: dict[str, dict] = {}
        for b in batches:
            keep = []
            for url, txt in zip(b["url"], b["robots_txt"]):
                if txt is None or isinstance(txt, float):
                    keep.append(True)
                    continue
                g = cache.get(txt)
                if g is None:
                    g = cache[txt] = parse_robots(str(txt))
                keep.append(allowed(g, user_agent, str(url)))
            yield b.loc[keep, cols]

    return joined.mapInPandas(gate, schema=out_schema)


def indegree_signals(pages: DataFrame,
                     links: DataFrame | None = None) -> DataFrame:
    """Per-page link-graph quality signals — the classic Common-Crawl
    corpus priors: (url, in_cnt, n_anchors, top_anchor) where in_cnt is
    the number of live in-links, n_anchors the distinct anchor-text
    count, top_anchor the lexicographic min (deterministic tiebreak).
    One extraction pass + one groupBy on the slim (src,dst,anchor) rows —
    the html bytes never reach the shuffle. Pass `links` to reuse a
    materialized extraction table instead of re-parsing."""
    if links is None:
        links = extract_links(pages)
    urls = pages.select("url")
    return (links.join(urls, links.dst_url == urls.url)
                 .groupBy(F.col("dst_url").alias("dst"))
                 .agg(F.count("*").alias("in_cnt"),
                      F.countDistinct("anchor").alias("n_anchors"),
                      F.min("anchor").alias("top_anchor"))
                 .withColumnRenamed("dst", "url"))


PR_SCALE = 10**12
PR_ITERS = 5


def pagerank_int_round(nodes: DataFrame, ed: DataFrame, ranks: DataFrame,
                       base: int) -> DataFrame:
    """ONE integer fixed-point PageRank step (the arithmetic contract in
    pagerank_int's docstring): (url, r) -> (url, r). Shared by the
    in-session loop (localCheckpoint per round) and the durable
    jobs/webgraph_pagerank.py (parquet write per round — lineage
    truncation by storage, which is what makes the job resumable)."""
    contrib = (ed.join(ranks, ed.src == ranks.url)
                 .select(ed.dst, F.expr("r div outdeg").alias("c"))
                 .groupBy("dst").agg(F.sum("c").alias("c")))
    return (nodes.join(contrib, nodes.url == contrib.dst, "left")
                 .select(nodes.url,
                         (F.lit(base)
                          + F.expr("(85 * coalesce(c, 0L)) div 100")
                          ).alias("r")))


def pagerank_int(nodes: DataFrame, edges: DataFrame, iters: int = PR_ITERS,
                 scale: int = PR_SCALE) -> DataFrame:
    """Integer fixed-point PageRank (damping 85/100, dangling mass LOST —
    not redistributed), floor division at every step:

        r0(v)   = scale // n
        r_i(v)  = (15 * (scale // n)) // 100
                  + (85 * sum_{u->v} (r_{i-1}(u) // outdeg(u))) // 100

    Every operation is exact BIGINT arithmetic on non-negative values, so
    any engine computes bit-identical ranks — the property the DuckDB
    oracle needs. The n-count is one driver-side scalar action (a
    bounded collect: one number).

    Returns (url, rank_i long)."""
    # nodes joins into EVERY round — checkpoint once so the loop reuses
    # a materialized table instead of re-deriving the lineage 5x
    # (and the count below rides the same materialization)
    nodes = nodes.localCheckpoint()
    n = nodes.count()
    r0 = scale // n
    base = (15 * r0) // 100
    # Narrow the iterated keys (guide §2.3): every round joins and
    # groups on the url — a ~60-byte string. xxhash64(url) is an 8-byte
    # deterministic map-side stand-in; one exact distinct-count action
    # proves injectivity over THIS node set (collision probability
    # ~n²/2⁶⁴, but checked, never assumed — on a collision we fall back
    # to string keys). Ranks are bit-identical either way: the hash only
    # relabels the grouping keys.
    hnodes = nodes.select("url", F.xxhash64("url").alias("hid"))
    use_hash = hnodes.agg(
        F.countDistinct("hid").alias("d")).first()["d"] == n
    if use_hash:
        key_nodes = hnodes.select(F.col("hid").alias("url")).localCheckpoint()
        edges = edges.select(F.xxhash64("src").alias("src"),
                             F.xxhash64("dst").alias("dst"))
    else:  # pragma: no cover - astronomically unlikely, exercised by test
        key_nodes = nodes
    # materialize the edge set ONCE before it fans out into the degree
    # branch and the join branch — without this the (possibly expensive:
    # html-parsing) edge lineage evaluates twice (r06 bench: 25.2s →
    # parse-once for web_pagerank_top)
    e = edges.localCheckpoint()
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # one exchange layout reused every round: edges carry (src, dst, outdeg)
    ed = e.join(deg, "src").localCheckpoint()
    ranks = key_nodes.select(F.col("url"), F.lit(r0).cast("long").alias("r"))
    for _ in range(iters):
        # lazy checkpoint: lineage still truncates per round, but the 5
        # rounds materialize inside the caller's one action instead of
        # 5 driver-blocking round-trips
        ranks = pagerank_int_round(key_nodes, ed, ranks, base) \
            .localCheckpoint(eager=False)
    if use_hash:
        ranks = (ranks.withColumnRenamed("url", "hid")
                      .join(hnodes, "hid")
                      .select("url", "r"))
    return ranks.select("url", F.col("r").alias("rank_i"))


def hits_int(nodes: DataFrame, edges: DataFrame, iters: int = 2,
             scale: int = 10**6) -> DataFrame:
    """Integer fixed-point HITS (Kleinberg hubs/authorities) with
    max-normalization after every half-step:

        h0(v)  = scale
        a_i(v) = sum_{u->v} h_{i-1}(u);  a_i := a_i * scale // max(a_i)
        h_i(v) = sum_{v->w} a_i(w);      h_i := h_i * scale // max(h_i)

    All arithmetic is BIGINT on non-negative values (sums bounded by
    n·scale ≈ 5e17, rescale products by max·scale — which is why the
    HITS scale is 1e6, not pagerank's 1e12: max·scale stays < 2^63), so
    any engine computes bit-identical scores; parity vs an unrolled
    DuckDB CTE oracle in tests/test_oracle_parity.py. The per-half-step
    max is one scalar action — same documented driver-side class as
    pagerank's n-count. Nodes with no in-links score auth 0; no
    out-links score hub 0.

    Returns (url, auth_i long, hub_i long)."""
    if iters < 1:
        raise ValueError("hits_int needs iters >= 1")
    n = nodes.count()
    if n * scale * scale >= 2**63:
        # sums are bounded by n·scale and the rescale multiplies by scale
        # again — pick scale so n·scale² < 2^63 (10^12 nodes → scale 10^3)
        raise ValueError(
            f"hits_int: n*scale^2 = {n}*{scale}^2 overflows int64 — "
            "lower `scale`")
    e = edges.localCheckpoint()  # parse-once (see pagerank_int)
    hubs = nodes.select("url", F.lit(scale).cast("long").alias("h"))
    auths = None
    for _ in range(iters):
        raw_a = (e.join(hubs, e.src == hubs.url)
                  .groupBy("dst").agg(F.sum("h").alias("s")))
        mx = raw_a.agg(F.max("s")).first()[0]
        if mx is None:
            # empty edge set: every score is 0 — short-circuit instead of
            # interpolating the literal token `None` into the rescale SQL
            return nodes.select("url",
                                F.lit(0).cast("long").alias("auth_i"),
                                F.lit(0).cast("long").alias("hub_i"))
        auths = raw_a.select(F.col("dst").alias("url"),
                             F.expr(f"(s * {scale}) div {mx}").alias("a")) \
                     .localCheckpoint()
        raw_h = (e.join(auths, e.dst == auths.url)
                  .groupBy("src").agg(F.sum("a").alias("s")))
        mx = raw_h.agg(F.max("s")).first()[0]
        hubs = raw_h.select(F.col("src").alias("url"),
                            F.expr(f"(s * {scale}) div {mx}").alias("h")) \
                    .localCheckpoint()
    return (nodes.join(auths, "url", "left")
                 .join(hubs.select("url", "h"), "url", "left")
                 .select("url",
                         F.coalesce("a", F.lit(0)).cast("long").alias("auth_i"),
                         F.coalesce("h", F.lit(0)).cast("long").alias("hub_i")))


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 20,
             damping: float = 0.85, dangling: bool = True) -> DataFrame:
    """Float PageRank, the production scorer: damping + (optionally)
    dangling-node mass redistributed uniformly so total mass stays 1.
    Same loop shape as pagerank_int (localCheckpoint per round); the
    dangling term is one extra scalar agg per round (an anti-join sum).

    Returns (url, rank double)."""
    n = nodes.count()
    e = edges.localCheckpoint()  # parse-once (see pagerank_int)
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = e.join(deg, "src").localCheckpoint()
    ranks = nodes.select(F.col("url"), F.lit(1.0 / n).alias("r"))
    base = (1.0 - damping) / n
    for _ in range(iters):
        dang = 0.0
        if dangling:
            linked = (ranks.join(deg, ranks.url == deg.src, "left_anti")
                           .agg(F.sum("r")).first()[0])
            dang = damping * (linked or 0.0) / n
        contrib = (ed.join(ranks, ed.src == ranks.url)
                     .select(ed.dst, (ranks.r / F.col("outdeg")).alias("c"))
                     .groupBy("dst").agg(F.sum("c").alias("c")))
        ranks = (nodes.join(contrib, nodes.url == contrib.dst, "left")
                      .select(nodes.url,
                              (F.lit(base + dang)
                               + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                               ).alias("r"))
                      .localCheckpoint())
    return ranks.select("url", F.col("r").alias("rank"))
