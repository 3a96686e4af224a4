"""robots.txt (functions/robots.py, RFC 9309): matching-table examples
from the spec, group selection, and the distributed frontier gate."""


from avecado_spark.functions.robots import allowed, parse_robots


def _dec(txt, ua, path):
    return allowed(parse_robots(txt), ua, path)


def test_rfc_path_matching_table():
    # RFC 9309 §2.2.3-style pattern table
    g = "user-agent: *\ndisallow: /fish"
    assert not _dec(g, "bot", "/fish")
    assert not _dec(g, "bot", "/fishheads/yummy.html")
    assert not _dec(g, "bot", "/fish.php?id=anything")
    assert _dec(g, "bot", "/Fish.asp")            # case-sensitive paths
    assert _dec(g, "bot", "/catfish")

    g = "user-agent: *\ndisallow: /fish/"
    assert _dec(g, "bot", "/fish")                # no trailing slash
    assert not _dec(g, "bot", "/fish/salmon.htm")

    g = "user-agent: *\ndisallow: /*.php"
    assert not _dec(g, "bot", "/filename.php")
    assert not _dec(g, "bot", "/folder/filename.php")
    assert not _dec(g, "bot", "/folder/any.php.file.html")
    assert _dec(g, "bot", "/")
    assert _dec(g, "bot", "/windows.PHP")

    g = "user-agent: *\ndisallow: /*.php$"
    assert not _dec(g, "bot", "/filename.php")
    assert _dec(g, "bot", "/filename.php?parameters")
    assert _dec(g, "bot", "/filename.php/")

    g = "user-agent: *\ndisallow: /fish*.php"
    assert not _dec(g, "bot", "/fishheads/catfish.php?parameters")
    assert _dec(g, "bot", "/Fish.PHP")


def test_precedence_longest_match_and_allow_ties():
    # most specific (longest) rule wins
    g = "user-agent: *\nallow: /p\ndisallow: /"
    assert _dec(g, "bot", "/page")
    g = "user-agent: *\nallow: /folder\ndisallow: /folder"
    assert _dec(g, "bot", "/folder/page")         # equal length -> allow
    g = "user-agent: *\nallow: /page\ndisallow: /*.ph"
    assert _dec(g, "bot", "/page.php5")           # /page (5) vs /*.ph (4)
    g = "user-agent: *\nallow: /$\ndisallow: /"
    assert _dec(g, "bot", "/")                    # anchor: only root
    assert not _dec(g, "bot", "/page.htm")


def test_group_selection_and_structure():
    txt = """
# comment
User-Agent: googlebot
Disallow: /only-google

User-agent: avecado-deep
Disallow: /deep

User-agent: avecado
User-agent: otherbot
Disallow: /shared

User-agent: *
Disallow: /everyone
"""
    g = parse_robots(txt)
    # longest contained token wins: 'avecado-deep' over 'avecado'
    assert not allowed(g, "avecado-deep/1.0", "/deep")
    assert allowed(g, "avecado-deep/1.0", "/shared")
    assert not allowed(g, "avecado/2.1", "/shared")   # multi-UA group
    assert not allowed(g, "otherbot", "/shared")
    assert allowed(g, "avecado/2.1", "/everyone")     # own group only
    assert not allowed(g, "randombot", "/everyone")   # '*' fallback
    # empty Disallow means allow-all; rules before any group are dropped
    assert allowed(parse_robots("user-agent: *\ndisallow:"), "b", "/x")
    assert allowed(parse_robots("disallow: /x"), "b", "/x")
    # full urls resolve to path + query
    assert not _dec("user-agent: *\ndisallow: /fish", "b",
                    "https://h.example/fish?x=1")


def test_filter_frontier_robots_distributed(spark):
    from avecado_spark.operators.webgraph import filter_frontier_robots

    frontier = spark.createDataFrame(
        [("https://a.example/ok", 3, 1),
         ("https://a.example/private/x", 2, 1),
         ("https://b.example/private/x", 5, 2),   # no robots row
         ("https://c.example/anything", 1, 1)],
        ["url", "want_cnt", "n_srcs"])
    robots = spark.createDataFrame(
        [("a.example", "user-agent: *\ndisallow: /private/"),
         ("c.example", "user-agent: avecado\ndisallow: /\n"
                       "user-agent: *\ndisallow:")],
        ["host", "robots_txt"])
    got = sorted(r.url for r in
                 filter_frontier_robots(frontier, robots,
                                        user_agent="avecado/1.0").collect())
    assert got == ["https://a.example/ok", "https://b.example/private/x"]
    # schema passes through unchanged
    out = filter_frontier_robots(frontier, robots)
    assert out.columns == ["url", "want_cnt", "n_srcs"]
    # r08: host derivation is Arrow-batched (pandas_udf), never a
    # row-at-a-time pickled UDF — the frontier is the BIG side here
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan


def test_crawl_round_respects_robots(spark, tmp_path):
    """crawl_round with a robots table never fetches disallowed urls:
    they are gated before the top-k cut and stay on the frontier."""
    from avecado_spark.sources import snapshots
    from avecado_spark.sources.warc import warc_bytes
    from jobs.crawl_round import run_crawl_round, synthetic_fetcher
    from jobs.ingest_warc import ingest_warc

    seed = [("https://h.example/seed", 1704067200,
             b'<a href="https://h.example/open">x</a>'
             b'<a href="https://h.example/private/y">y</a>')]
    d = tmp_path / "seed"
    d.mkdir()
    (d / "seed.warc.gz").write_bytes(warc_bytes(seed))
    table = str(tmp_path / "pages_table")
    ingest_warc(spark, str(d / "*.warc.gz"), table)

    robots = spark.createDataFrame(
        [("h.example", "user-agent: *\ndisallow: /private/")],
        ["host", "robots_txt"])
    m = run_crawl_round(spark, table, str(tmp_path / "crawl"),
                        synthetic_fetcher, top_k=10, robots=robots)
    assert m["frontier_before"] == 2
    assert m["fetched"] == 1                        # only /open
    urls = {r.url for r in snapshots.read(spark, table)
            .select("url").collect()}
    assert "https://h.example/open" in urls
    assert "https://h.example/private/y" not in urls
    assert m["frontier_after"] == 1                 # disallowed url remains


def test_crawl_round_max_per_host(spark, tmp_path):
    """max_per_host caps each host's share of the round budget: with 3
    wanted urls on one host and 1 on another, cap 1 fetches one per
    host even though top_k would admit all four."""
    from avecado_spark.sources import snapshots
    from avecado_spark.sources.warc import warc_bytes
    from avecado_spark.functions.url import host_of
    from jobs.crawl_round import run_crawl_round, synthetic_fetcher
    from jobs.ingest_warc import ingest_warc

    seed = [("https://big.example/seed", 1704067200,
             b'<a href="https://big.example/a">1</a>'
             b'<a href="https://big.example/b">2</a>'
             b'<a href="https://big.example/c">3</a>'
             b'<a href="https://small.example/only">4</a>')]
    d = tmp_path / "seed"
    d.mkdir()
    (d / "seed.warc.gz").write_bytes(warc_bytes(seed))
    table = str(tmp_path / "pages_table")
    ingest_warc(spark, str(d / "*.warc.gz"), table)

    m = run_crawl_round(spark, table, str(tmp_path / "crawl"),
                        synthetic_fetcher, top_k=10, max_per_host=1)
    assert m["frontier_before"] == 4
    assert m["fetched"] == 2                       # one per host
    hosts = sorted({host_of(r.url) for r in
                    snapshots.read(spark, table).select("url").collect()
                    if r.url != "https://big.example/seed"})
    assert hosts == ["big.example", "small.example"]
    assert m["frontier_after"] == 2                # the capped-out urls


def test_frontier_host_cap_is_arrow_batched(spark):
    """The max_per_host window keeps each host's most-wanted urls, and its
    host key is Arrow-batched like the robots gate's, never a
    row-at-a-time pickled UDF."""
    from avecado_spark.operators.webgraph import cap_frontier_per_host
    frontier = spark.createDataFrame(
        [("https://big.example/a", 3, 1), ("https://big.example/b", 5, 1),
         ("https://big.example/c", 5, 2), ("https://small.example/x", 1, 1)],
        ["url", "want_cnt", "n_srcs"])
    out = cap_frontier_per_host(frontier, 2)
    assert out.columns == ["url", "want_cnt", "n_srcs"]
    assert sorted(r.url for r in out.collect()) == [
        "https://big.example/b", "https://big.example/c",
        "https://small.example/x"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan


def test_robots_sitemaps_and_crawl_delay():
    """Sitemap: directives are group-independent (order kept, deduped);
    Crawl-delay follows the group-selection rule; junk values ignored."""
    from avecado_spark.functions.robots import crawl_delay, robots_sitemaps

    txt = """
Sitemap: https://h.example/sitemap-a.xml
User-agent: avecado
Crawl-delay: 2.5
Disallow: /private/

User-agent: *
Crawl-delay: 10
Sitemap: https://h.example/sitemap-b.xml.gz
Sitemap: https://h.example/sitemap-a.xml
"""
    assert robots_sitemaps(txt) == [
        "https://h.example/sitemap-a.xml",
        "https://h.example/sitemap-b.xml.gz"]
    assert crawl_delay(txt, "avecado/1.0") == 2.5
    assert crawl_delay(txt, "otherbot") == 10.0
    assert crawl_delay("user-agent: *\ncrawl-delay: soon", "b") is None
    assert crawl_delay("user-agent: *\ndisallow: /x", "b") is None
    assert robots_sitemaps("user-agent: *\ndisallow: /") == []
