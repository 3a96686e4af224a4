"""Web-graph pipeline: RFC 3986 URL canonicalization, HTML anchor
extraction, link graph, PageRank (float vs numpy; int fixed-point
invariants), and the plan shape (shuffle-free extraction)."""

import math

import numpy as np
import pytest

from avecado_spark.functions.url import (canonicalize, remove_dot_segments,
                                         resolve, split_url)
from avecado_spark.operators.webgraph import (edges_df, extract_links,
                                              pagerank, pagerank_int,
                                              parse_links)

from conftest import SF_DIR


# ---------------------------------------------------------------------------
# RFC 3986 — resolve() pinned against the stdlib reference implementation
# ---------------------------------------------------------------------------

BASE = "http://a/b/c/d;p?q"

# RFC 3986 §5.4.1 normal + §5.4.2 abnormal examples, verbatim
RFC_CASES = [
    ("g:h", "g:h"), ("g", "http://a/b/c/g"), ("./g", "http://a/b/c/g"),
    ("g/", "http://a/b/c/g/"), ("/g", "http://a/g"), ("//g", "http://g"),
    ("?y", "http://a/b/c/d;p?y"), ("g?y", "http://a/b/c/g?y"),
    ("#s", "http://a/b/c/d;p?q#s"), ("g#s", "http://a/b/c/g#s"),
    ("g?y#s", "http://a/b/c/g?y#s"), (";x", "http://a/b/c/;x"),
    ("g;x", "http://a/b/c/g;x"), ("g;x?y#s", "http://a/b/c/g;x?y#s"),
    ("", "http://a/b/c/d;p?q"), (".", "http://a/b/c/"),
    ("./", "http://a/b/c/"), ("..", "http://a/b/"), ("../", "http://a/b/"),
    ("../g", "http://a/b/g"), ("../..", "http://a/"),
    ("../../", "http://a/"), ("../../g", "http://a/g"),
    ("../../../g", "http://a/g"), ("../../../../g", "http://a/g"),
    ("/./g", "http://a/g"), ("/../g", "http://a/g"),
    ("g.", "http://a/b/c/g."), (".g", "http://a/b/c/.g"),
    ("g..", "http://a/b/c/g.."), ("..g", "http://a/b/c/..g"),
    ("./../g", "http://a/b/g"), ("./g/.", "http://a/b/c/g/"),
    ("g/./h", "http://a/b/c/g/h"), ("g/../h", "http://a/b/c/h"),
    ("g;x=1/./y", "http://a/b/c/g;x=1/y"),
    ("g;x=1/../y", "http://a/b/c/y"),
]


@pytest.mark.parametrize("ref,expected", RFC_CASES)
def test_resolve_rfc_examples(ref, expected):
    assert resolve(BASE, ref) == expected


def test_resolve_vs_urllib():
    """Strict-resolver parity against the stdlib on an adversarial sweep
    (urljoin implements the same RFC algorithm)."""
    from urllib.parse import urljoin
    bases = [BASE, "https://x.example.org/page/10002",
             "https://x.example.org/", "http://h:81/a/b?q=1",
             "http://h/a/"]
    # bare "?" and "#" are excluded: urljoin drops an EMPTY query/fragment
    # component, while RFC 3986 §5.2.2 keeps it once defined — resolve()
    # follows the RFC (asserted below); canonicalize() strips fragments
    # and a trailing "?" is an empty-query distinct resource either way
    refs = ([c[0] for c in RFC_CASES] +
            ["../page/7", "../../deep/../x", "sub/page?a=b#f",
             "x/y/../z", "//other.host/p", "https://abs.example/z"])
    for b in bases:
        for r in refs:
            assert resolve(b, r) == urljoin(b, r), (b, r)
    assert resolve(BASE, "?") == "http://a/b/c/d;p?"
    assert resolve(BASE, "#") == "http://a/b/c/d;p?q#"
    # urljoin also collapses interior empty segments ("x//y" -> "x/y");
    # the RFC (and the WHATWG URL standard) preserve them
    assert resolve(BASE, "x//y") == "http://a/b/c/x//y"


def test_remove_dot_segments():
    assert remove_dot_segments("/a/b/c/./../../g") == "/a/g"
    assert remove_dot_segments("mid/content=5/../6") == "mid/6"
    assert remove_dot_segments("/a/../../b") == "/b"
    assert remove_dot_segments("..") == ""
    assert remove_dot_segments("/..") == "/"


def test_split_url_distinguishes_empty_and_absent():
    s = split_url("http://h/p?#")
    assert s == ("http", "h", "/p", "", "")
    s = split_url("http://h/p")
    assert s == ("http", "h", "/p", None, None)


# ---------------------------------------------------------------------------
# canonicalize
# ---------------------------------------------------------------------------

B = "https://crawl.example.org/page/10002"

CANON_CASES = [
    ("/page/3", B, "https://crawl.example.org/page/3"),
    ("HTTPS://CRAWL.EXAMPLE.ORG:443/page/3#frag", B,
     "https://crawl.example.org/page/3"),
    ("http://Host.Example:80/x", B, "http://host.example/x"),
    ("http://Host.Example:8080/x", B, "http://host.example:8080/x"),
    ("../page/7?a=1", B, "https://crawl.example.org/page/7?a=1"),
    ("#top", B, B),                       # fragment-only -> self
    ("https://h.example", B, "https://h.example/"),  # empty path -> "/"
    ("//other.example/p", B, "https://other.example/p"),  # scheme-relative
    ("http://user:pw@H.example:80/x", B, "http://user:pw@h.example/x"),
    ("http://[2001:DB8::1]:80/x", B, "http://[2001:db8::1]/x"),
    ("http://[2001:DB8::1]:8080/x", B, "http://[2001:db8::1]:8080/x"),
    ("mailto:x@example.org", B, None),
    ("javascript:void(0)", B, None),
    ("data:text/plain,hi", B, None),
]


@pytest.mark.parametrize("href,base,expected", CANON_CASES)
def test_canonicalize(href, base, expected):
    assert canonicalize(href, base) == expected
    # pre-split base fast path (the per-page link loop) is byte-identical
    assert canonicalize(href, split_url(base)) == expected


def test_canonicalize_authorityless_double_slash_path():
    """A scheme-qualified, authority-less ref whose path collapses to a
    leading "//" must keep the historical recompose-then-resplit reading
    (the "//" becomes the authority) — pins the r08 fast-path guard."""
    for href in ("http:/..//b", "HTTP:/..//b"):
        assert canonicalize(href, B) == "http://b/"
        assert canonicalize(href, split_url(B)) == "http://b/"


# ---------------------------------------------------------------------------
# parse_links kernel
# ---------------------------------------------------------------------------

def test_parse_links_variants_and_dedup():
    url = "https://h.example/a/page"
    html = (b'<A CLASS="z" HREF="/x">one</A>'
            b"<a href='y'>two <b>bold</b></a>"
            b'<a data-k=1 href=z2>three</a>'          # unquoted
            b'<a href="#sec">self</a>'                # fragment-only self
            b'<a href="/x#other">dup of one</a>'      # canonical dup
            b'<a href="mailto:u@h">mail</a>'
            b'<a href="HTTP://H.EXAMPLE:80/q">four</a>')
    got = parse_links(url, html)
    assert got == [
        (url, "https://h.example/x", "one", 0, False),
        (url, "https://h.example/a/y", "two bold", 1, False),
        (url, "https://h.example/a/z2", "three", 2, False),
        (url, "http://h.example/q", "four", 6, False),
    ]


def test_parse_links_nofollow_tokens():
    url = "https://h.example/p"
    html = (b'<a rel="nofollow" href="/a">a</a>'
            b'<a rel="ugc NOFOLLOW sponsored" href="/b">b</a>'
            b"<a href='/c' rel='me'>c</a>"
            b'<a href="/d" rel=nofollow>d</a>'
            b'<a href="/e">e</a>')
    assert [(r[1][-2:], r[4]) for r in parse_links(url, html)] == [
        ("/a", True), ("/b", True), ("/c", False), ("/d", True),
        ("/e", False)]


def test_parse_links_multiline_and_no_links():
    url = "https://h.example/p"
    html = b'<a\n  href="/m"\n  rel="x">\n  multi\n  line\n</a >'
    assert parse_links(url, html) == [
        (url, "https://h.example/m", "multi line", 0, False)]
    assert parse_links(url, b"<html><p>nothing</p></html>") == []


# ---------------------------------------------------------------------------
# PageRank — float vs numpy reference; int fixed-point invariants
# ---------------------------------------------------------------------------

def _numpy_pagerank(n, edges, iters, damping=0.85, dangling=True):
    r = np.full(n, 1.0 / n)
    deg = np.zeros(n)
    for s, _ in edges:
        deg[s] += 1
    for _ in range(iters):
        nxt = np.full(n, (1.0 - damping) / n)
        if dangling:
            nxt += damping * r[deg == 0].sum() / n
        for s, d in edges:
            nxt[d] += damping * r[s] / deg[s]
        r = nxt
    return r


GRAPH = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (0, 4)]  # node 4 dangling
N_GRAPH = 5


def _graph_dfs(spark):
    from pyspark.sql import functions as F
    nodes = spark.createDataFrame([(f"u{i}",) for i in range(N_GRAPH)],
                                  "url string")
    edges = spark.createDataFrame([(f"u{s}", f"u{d}") for s, d in GRAPH],
                                  "src string, dst string")
    return nodes, edges


def test_pagerank_float_matches_numpy(spark):
    nodes, edges = _graph_dfs(spark)
    got = {r["url"]: r["rank"]
           for r in pagerank(nodes, edges, iters=15).collect()}
    want = _numpy_pagerank(N_GRAPH, GRAPH, 15)
    for i in range(N_GRAPH):
        assert math.isclose(got[f"u{i}"], want[i], rel_tol=1e-9), i
    # with dangling redistribution the mass stays 1
    assert math.isclose(sum(got.values()), 1.0, rel_tol=1e-9)


def test_pagerank_int_matches_python_reference(spark):
    nodes, edges = _graph_dfs(spark)
    scale, iters = 10**12, 5
    got = {r["url"]: r["rank_i"]
           for r in pagerank_int(nodes, edges, iters=iters,
                                 scale=scale).collect()}
    # bit-exact python int reference of the documented recurrence
    n = N_GRAPH
    deg = {}
    for s, _ in GRAPH:
        deg[s] = deg.get(s, 0) + 1
    r = {i: scale // n for i in range(n)}
    base = (15 * (scale // n)) // 100
    for _ in range(iters):
        c = {i: 0 for i in range(n)}
        for s, d in GRAPH:
            c[d] += r[s] // deg[s]
        r = {i: base + (85 * c[i]) // 100 for i in range(n)}
    assert got == {f"u{i}": r[i] for i in range(n)}
    # dangling mass is lost, never created: total strictly below scale
    assert 0 < sum(got.values()) < scale


def test_edges_df_drops_dead_and_self(spark):
    pg = pages_sample(spark)
    e = {(r["src"], r["dst"]) for r in edges_df(pg).collect()}
    urls = {r["url"] for r in pg.select("url").collect()}
    assert e, "graph should not be empty"
    for s, d in e:
        assert s != d
        assert s in urls and d in urls  # dead links dropped


def pages_sample(spark):
    from avecado_spark.sources.pages import pages_df
    return pages_df(spark, SF_DIR)


# ---------------------------------------------------------------------------
# plan shape: extraction is shuffle-free and html dies inside the batch
# ---------------------------------------------------------------------------

def test_extract_links_plan_shuffle_free(spark):
    """No shuffle beyond the pages-synthesis DISTINCT (a stored pages
    table has none): the extraction itself is scan → project →
    MapInPandas, and the huge html column exists only between the
    synthesizing Project and the UDF — nothing above the UDF carries
    it."""
    plan = (extract_links(pages_sample(spark))
            ._jdf.queryExecution().executedPlan().toString())
    lines = plan.splitlines()
    udf = next(i for i, l in enumerate(lines) if "MapInPandas" in l)
    assert not any("Exchange" in l for l in lines[:udf + 1]), plan
    exchanges = [l for l in lines if "Exchange" in l]
    assert len(exchanges) == 1 and "k#" in exchanges[0], plan  # synthesis

    # on a real stored table (parquet round-trip) the plan is exchange-free
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        pages_sample(spark).write.mode("overwrite").parquet(f"{d}/pages")
        stored = spark.read.parquet(f"{d}/pages")
        p2 = (extract_links(stored)
              ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in p2, p2


def test_extract_links_spark_kernel_agrees(spark):
    """The distributed pass returns exactly the per-row kernel's output."""
    pg = pages_sample(spark).limit(50)
    want = []
    for row in pg.select("url", "html").collect():
        want.extend(parse_links(row["url"], bytes(row["html"])))
    got = [tuple(r) for r in extract_links(pg).collect()]
    assert sorted(got) == sorted(want)


# ---------------------------------------------------------------------------
# html -> text (the byte-identical-text invariant producer)
# ---------------------------------------------------------------------------

def test_html_to_text_case_table():
    from avecado_spark.functions.htmltext import html_to_text
    cases = [
        # block tags break lines, inline tags vanish, entities decode
        (b"<p>a&amp;b</p><span>c</span> <b>d</b>", "a&b\nc d"),
        # script/style content (incl. unterminated) and comments drop
        (b"x<script>var a = '<p>no</p>';</script>y", "xy"),
        (b"x<style>p { color: red }</style>y", "xy"),
        (b"x<!-- c --><!-- unterminated", "x"),
        (b"x<script>swallows to EOF", "x"),
        # table cells separate with a space, rows with a newline
        (b"<table><tr><td>1</td><td>2</td></tr><tr><td>3</td></tr></table>",
         "1 2\n3"),
        # numeric + named + nbsp entities; nbsp collapses as whitespace
        (b"A&#66;&#x43;&nbsp;&lt;ok&gt;", "ABC <ok>"),
        # whitespace canon: runs collapse, lines strip, blanks drop
        (b"<div>  a \t b  </div>\n\n<div>\r\n c </div>", "a b\nc"),
        # br/hr are line breaks even unclosed / self-closed
        (b"a<br>b<hr/>c", "a\nb\nc"),
        # invalid utf-8 decodes with replacement, never throws
        (b"<p>\xff\xfe ok</p>", "�� ok"),
        (b"", ""),
    ]
    for raw, want in cases:
        assert html_to_text(raw) == want, raw


def test_html_to_text_deterministic_on_pages(spark):
    """Byte-identity: running the extractor twice over the corpus (and
    once through the distributed path) yields the same bytes per url."""
    from avecado_spark.functions.htmltext import html_to_text
    from avecado_spark.operators.webgraph import extract_text
    pg = pages_sample(spark).limit(40)
    local = {r["url"]: html_to_text(bytes(r["html"]))
             for r in pg.select("url", "html").collect()}
    dist = {r["url"]: r["text_x"] for r in extract_text(pg).collect()}
    assert dist == local
    assert all(v.encode("utf-8") == local[k].encode("utf-8")
               for k, v in dist.items())


def test_extract_text_plan_shuffle_free(spark):
    import tempfile
    from avecado_spark.operators.webgraph import extract_text
    with tempfile.TemporaryDirectory() as d:
        pages_sample(spark).write.mode("overwrite").parquet(f"{d}/pages")
        stored = spark.read.parquet(f"{d}/pages")
        p = (extract_text(stored)
             ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in p, p


# ---------------------------------------------------------------------------
# durable pagerank job: parquet-checkpointed rounds, bit-identical resume
# ---------------------------------------------------------------------------

def _job_ranks(spark, out, iters):
    import json
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from jobs.webgraph_pagerank import run_pagerank_job
    m = run_pagerank_job(spark, SF_DIR, out, iters=iters)
    lines = [json.loads(l) for l in
             open(os.path.join(out, "metrics.jsonl"))]
    return m, lines


def test_pagerank_job_matches_inmemory_and_resumes(spark, tmp_path):
    out = str(tmp_path / "wg")
    m2, lines2 = _job_ranks(spark, out, iters=2)
    assert m2["resumed_stages"] == 0
    # killed-and-resubmitted with more rounds: links, the four derived
    # signal stages, and rounds 0..2 come from storage (no stage line
    # recomputed), rounds 3..4 run
    m4, lines4 = _job_ranks(spark, out, iters=4)
    assert m4["resumed_stages"] == 8  # links,edges,indeg,frontier,hits,r0-2
    computed = [l["stage"] for l in lines4[len(lines2):]]
    assert computed == ["ranks_003", "ranks_004", "final"]
    # the resumed run is bit-identical to the uninterrupted in-memory loop
    from avecado_spark.operators.webgraph import (edges_df, frontier_df,
                                                  hits_int, indegree_signals,
                                                  pagerank_int)
    pg = pages_sample(spark)
    want = {r["url"]: r["rank_i"]
            for r in pagerank_int(pg.select("url"), edges_df(pg),
                                  iters=4).collect()}
    got = {r["url"]: r["r"]
           for r in spark.read.parquet(m4["final_path"]).collect()}
    assert got == want
    # rank mass is conserved-minus-dangling: strictly decreasing per round
    masses = [l["mass"] for l in lines4 if l["stage"].startswith("ranks_")]
    assert all(a > b for a, b in zip(masses, masses[1:]))
    # every durable signal stage equals its in-session operator exactly
    stage = lambda name: spark.read.parquet(f"{out}/{name}")
    assert sorted(map(tuple, stage("indegree").collect())) \
        == sorted(map(tuple, indegree_signals(pg).collect()))
    assert sorted(map(tuple, stage("frontier").collect())) \
        == sorted(map(tuple, frontier_df(pg).collect()))
    assert sorted(map(tuple, stage("hits").collect())) \
        == sorted(map(tuple,
                      hits_int(pg.select("url"), edges_df(pg)).collect()))


# ---------------------------------------------------------------------------
# host / registrable-domain rollup keys
# ---------------------------------------------------------------------------

def test_host_and_registrable_domain():
    from avecado_spark.functions.url import host_of, registrable_domain
    cases = [
        ("https://A.B.Example.COM:8443/x", "a.b.example.com", "example.com"),
        ("https://user:pw@www.example.co.uk/", "www.example.co.uk",
         "example.co.uk"),
        ("http://co.uk/", "co.uk", "co.uk"),     # bare suffix: itself
        ("http://[2001:db8::1]:80/x", "[2001:db8::1]", "[2001:db8::1]"),
        ("http://192.168.0.1/x", "192.168.0.1", "192.168.0.1"),
        ("http://localhost/", "localhost", "localhost"),
        ("https://deep.sub.shop.example.com.au/p",
         "deep.sub.shop.example.com.au", "example.com.au"),
        ("https://example.com.", "example.com.", "example.com"),
        ("mailto:x@y.com", None, None),
        ("/relative/only", None, None),
    ]
    for u, h, d in cases:
        assert host_of(u) == h, u
        assert registrable_domain(host_of(u)) == d, u


# ---------------------------------------------------------------------------
# HITS: hand-checked tiny graph + guard
# ---------------------------------------------------------------------------

def test_hits_int_matches_reference_loop(spark):
    from avecado_spark.operators.webgraph import hits_int
    nodes = spark.createDataFrame([(f"u{i}",) for i in range(5)], "url string")
    E = [(0, 2), (1, 2), (3, 2), (2, 4), (0, 4), (3, 0)]
    edges = spark.createDataFrame([(f"u{a}", f"u{b}") for a, b in E],
                                  "src string, dst string")
    scale, iters = 10**6, 3
    got = {r["url"]: (r["auth_i"], r["hub_i"])
           for r in hits_int(nodes, edges, iters=iters,
                             scale=scale).collect()}
    h = {i: scale for i in range(5)}
    a = {}
    for _ in range(iters):
        a = {}
        for s, d in E:
            a[d] = a.get(d, 0) + h[s]
        mx = max(a.values())
        a = {k: (v * scale) // mx for k, v in a.items()}
        h = {}
        for s, d in E:
            h[s] = h.get(s, 0) + a.get(d, 0)
        mx = max(h.values())
        h = {k: (v * scale) // mx for k, v in h.items()}
    want = {f"u{i}": (a.get(i, 0), h.get(i, 0)) for i in range(5)}
    assert got == want
    # the hub-of-everything (u0,u3 point at top auth u2) dominates hubs;
    # u2 dominates auths
    assert got["u2"][0] == scale and max(got.values())[1] <= scale


def test_hits_int_empty_graph_scores_zero(spark):
    """An empty edge set short-circuits to all-zero scores instead of
    interpolating a None max into the rescale SQL."""
    from avecado_spark.operators.webgraph import hits_int
    nodes = spark.createDataFrame([("a",), ("b",)], "url string")
    edges = spark.createDataFrame([], "src string, dst string")
    got = {r["url"]: (r["auth_i"], r["hub_i"])
           for r in hits_int(nodes, edges, iters=2).collect()}
    assert got == {"a": (0, 0), "b": (0, 0)}


def test_hits_int_overflow_guard(spark):
    import pytest as _pytest
    from avecado_spark.operators.webgraph import hits_int
    nodes = spark.createDataFrame([("a",), ("b",)], "url string")
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError, match="overflows"):
        hits_int(nodes, edges, iters=1, scale=10**10)


# ---------------------------------------------------------------------------
# RFC 3986 resolve: fuzz against the stdlib reference implementation
# ---------------------------------------------------------------------------

def test_resolve_fuzz_vs_urljoin():
    """urllib.parse.urljoin implements RFC 3986 §5; resolve() must agree
    on every reference shape within the URL-safe alphabet (hypothesis
    fuzz over paths/queries/fragments incl. dot segments)."""
    from urllib.parse import urljoin

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from avecado_spark.functions.url import resolve

    # non-empty segments: on empty segments ("a//b" + dot refs) urljoin
    # collapses "//" where RFC 3986's segment-moving algorithm keeps it
    seg = st.text(alphabet="abC9.-_~%", min_size=1, max_size=4) \
            .filter(lambda t: set(t) != {"."})  # "."/".." only via `dotted`
    path = st.lists(seg, min_size=0, max_size=4).map("/".join)
    dotted = st.lists(st.one_of(seg, st.just("."), st.just("..")),
                      min_size=0, max_size=5).map("/".join)

    @st.composite
    def ref(draw):
        kind = draw(st.integers(0, 4))
        p = draw(dotted)
        # non-empty only: on a DEFINED-but-empty query/fragment ("?",
        # "#") urljoin drops the delimiter while resolve() preserves it
        # per RFC 3986 §5.3's preservation note — pinned separately below
        q = draw(st.one_of(st.none(), st.just("k=v")))
        f = draw(st.one_of(st.none(), st.just("frag")))
        tail = (f"?{q}" if q is not None else "") + \
               (f"#{f}" if f is not None else "")
        if kind == 0:
            return p + tail                          # relative path
        if kind == 1:
            return "/" + p + tail                    # absolute path
        if kind == 2:
            # dotless only: urljoin skips remove_dot_segments on
            # network-path and absolute references (resolve() applies it
            # per RFC 3986 §5.2.2 in every branch)
            return "//other.example/" + draw(path) + tail
        if kind == 3:
            return "https://abs.example/" + draw(path) + tail
        return tail                                  # query/fragment only

    @settings(max_examples=300, deadline=None)
    @given(base_path=path, r=ref())
    def check(base_path, r):
        base = f"https://base.example/{base_path}"
        assert resolve(base, r) == urljoin(base, r), (base, r)

    check()


def test_resolve_preserves_empty_components():
    """RFC 3986 §5.3: recomposition must preserve the distinction between
    an undefined and an EMPTY query/fragment (stdlib urljoin drops the
    bare delimiter — the one documented divergence). Graph keys are
    unaffected: canonicalize drops fragments entirely."""
    from avecado_spark.functions.url import canonicalize, resolve
    assert resolve("https://h.example/a", "#") == "https://h.example/a#"
    assert resolve("https://h.example/a", "?") == "https://h.example/a?"
    # canonicalize drops the fragment, yielding the base itself; the
    # extractor then drops it as a self-link (dst == url)
    assert canonicalize("#", "https://h.example/a") == "https://h.example/a"


def test_charset_sniff_and_decode_html():
    """WHATWG-ladder charset sniffing (functions/htmltext): BOM > header
    charset > meta prescan > utf-8; legacy latin labels mean
    windows-1252; unknown labels degrade to utf-8; decoded text feeds
    the pinned html_to_text unchanged."""
    from avecado_spark.functions.htmltext import (decode_html,
                                                  html_to_text,
                                                  sniff_charset)

    # ladder order
    assert sniff_charset(b"\xef\xbb\xbfx") == "utf-8"            # BOM
    assert sniff_charset(b"\xff\xfex\x00") == "utf-16-le"
    assert sniff_charset(b"\xfe\xffx") == "utf-16-be"
    assert sniff_charset(b"\xef\xbb\xbfx",
                         "text/html; charset=shift_jis") == "utf-8"
    assert sniff_charset(b'<meta charset="koi8-r">',
                         "text/html; charset=ISO-8859-1") \
        == "windows-1252"                                        # header wins
    assert sniff_charset(b'<meta charset="KOI8-R">') == "koi8-r"
    assert sniff_charset(
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=Shift-JIS">') == "shift_jis"
    assert sniff_charset(b"plain") == "utf-8"
    assert sniff_charset(b'<meta charset="no-such-enc">') == "utf-8"
    # meta prescan is bounded to the first 1024 bytes
    far = b"x" * 1100 + b'<meta charset="koi8-r">'
    assert sniff_charset(far) == "utf-8"

    # decode + extract: a windows-1252 page flows into the pinned
    # transform with its accents intact
    body = "<p>café crème &amp; co</p>".encode("windows-1252")
    page = b'<meta http-equiv="Content-Type" ' \
           b'content="text/html; charset=iso-8859-1">' + body
    assert html_to_text(decode_html(page)) == "café crème & co"
    jp = "<p>日本語テスト</p>".encode("shift_jis")
    assert html_to_text(decode_html(b"<meta charset=Shift_JIS>" + jp)) \
        == "日本語テスト"
    # utf-8 BOM is stripped, not leaked into the text
    assert decode_html("﻿hello".encode("utf-8")) == "hello"
