"""RFC 3986 URL resolution + canonicalization for the web-graph pipeline.

A Common-Crawl-scale link graph lives or dies on URL canonicalization:
the same target spelled as a relative path, an absolute URL with an
uppercase host, or a URL with a default port / fragment must collapse to
ONE node or the graph fragments and PageRank mass scatters. This module
implements the public RFC 3986 algorithms directly (§5.2.2 transform
references, §5.2.4 remove_dot_segments, §5.3 component recomposition,
§6.2.2-3 syntax- and scheme-based normalization) so the whole pipeline is
self-contained; `tests/test_webgraph.py` pins `resolve()` against the
stdlib `urllib.parse.urljoin` on an adversarial case table.

Everything here is plain-Python string work: it runs inside Arrow-batched
`mapInPandas` workers (operators/webgraph.py), never as a per-row Spark
UDF.
"""

from __future__ import annotations

import re

# RFC 3986 appendix B — the grammar's own decomposition regex
_URL_RE = re.compile(r"^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$")

_DEFAULT_PORT = {"http": "80", "https": "443"}


def split_url(u: str) -> tuple[str | None, str | None, str, str | None, str | None]:
    """(scheme, authority, path, query, fragment); absent parts are None
    (query/fragment distinguish absent from empty, per the RFC)."""
    m = _URL_RE.match(u)
    return (m.group(1), m.group(2), m.group(3) or "", m.group(4), m.group(5))


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    if "." not in path:
        # the algorithm only rewrites "." / ".." segments; a dot-free path
        # round-trips unchanged (segment split + rejoin), so skip the loop —
        # this is the common case for every crawl-corpus link
        return path
    out: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = path[2:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = path[3:]
            if out:
                out.pop()
        elif path == "/..":
            path = "/"
            if out:
                out.pop()
        elif path in (".", ".."):
            path = ""
        else:
            i = path.find("/", 1)
            if i < 0:
                out.append(path)
                path = ""
            else:
                out.append(path[:i])
                path = path[i:]
    return "".join(out)


def _merge(base_authority: str | None, base_path: str, ref_path: str) -> str:
    """RFC 3986 §5.3 merge."""
    if base_authority is not None and base_path == "":
        return "/" + ref_path
    i = base_path.rfind("/")
    return (base_path[: i + 1] + ref_path) if i >= 0 else ref_path


def _resolve_parts(base_parts: tuple, ref: str) -> tuple:
    """RFC 3986 §5.2.2 transform-references on pre-split base components;
    returns (scheme, auth, path, query, frag) without recomposing — the
    hot link-extraction loop resolves every href of a page against ONE
    base, so the base split is hoisted out and the canonicalizer consumes
    the components directly instead of re-splitting a recomposed string."""
    b_scheme, b_auth, b_path, b_query, _ = base_parts
    r_scheme, r_auth, r_path, r_query, r_frag = split_url(ref)
    if r_scheme is not None:
        scheme, auth, path, query = r_scheme, r_auth, remove_dot_segments(r_path), r_query
    else:
        scheme = b_scheme
        if r_auth is not None:
            auth, path, query = r_auth, remove_dot_segments(r_path), r_query
        else:
            auth = b_auth
            if r_path == "":
                path = b_path
                query = r_query if r_query is not None else b_query
            else:
                path = remove_dot_segments(
                    r_path if r_path.startswith("/") else _merge(b_auth, b_path, r_path))
                query = r_query
    return scheme, auth, path, query, r_frag


def resolve(base: str, ref: str) -> str:
    """RFC 3986 §5.2.2 transform-references (strict; base assumed absolute)."""
    return _recompose(*_resolve_parts(split_url(base), ref))


def _recompose(scheme, auth, path, query, frag) -> str:
    out = []
    if scheme is not None:
        out += [scheme, ":"]
    if auth is not None:
        out += ["//", auth]
    out.append(path)
    if query is not None:
        out += ["?", query]
    if frag is not None:
        out += ["#", frag]
    return "".join(out)


def host_of(u: str) -> str | None:
    """Lowercased host of an absolute URL (port and userinfo stripped,
    IPv6 brackets kept); None when there is no authority."""
    _, auth, _, _, _ = split_url(u)
    if auth is None or auth == "":
        return None
    host = auth[auth.rindex("@") + 1:] if "@" in auth else auth
    br = host.rfind("]")
    colon = host.find(":", br + 1) if br >= 0 else host.find(":")
    if colon >= 0:
        host = host[:colon]
    return host.lower() or None


# Multi-label public suffixes (a compact subset of the publicsuffix.org
# list: the high-traffic ccTLD second-level registries). Web-corpus
# host grouping needs "example.co.uk" to roll up to example.co.uk, not
# co.uk; single-label TLDs need no table (the default rule "*" — every
# bare TLD is a suffix — handles them). Callers with stricter needs pass
# their own suffix set.
_MULTI_SUFFIXES = frozenset((
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "sch.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au", "asn.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp",
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr",
    "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "geek.nz",
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg",
    "co.il", "net.il", "org.il", "gov.il", "ac.il", "muni.il",
    "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk",
    "com.my", "net.my", "org.my", "gov.my", "edu.my",
    "co.id", "net.id", "or.id", "go.id", "ac.id", "web.id",
    "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua", "in.ua",
    "com.pl", "net.pl", "org.pl", "gov.pl", "edu.pl", "waw.pl",
    "co.th", "net.th", "or.th", "go.th", "ac.th", "in.th",
))


def registrable_domain(host: str | None,
                       multi_suffixes: frozenset[str] = _MULTI_SUFFIXES
                       ) -> str | None:
    """Registrable domain ("example.co.uk" → example.co.uk, "a.b.example
    .com" → example.com): the host-level rollup key for per-site stats,
    politeness grouping, and host-graph edges. Public-suffix matching
    with the default single-label rule plus `multi_suffixes`; IP
    literals and bare suffixes return themselves (a host that IS a
    public suffix has no registrable part — callers group it alone)."""
    if not host:
        return None
    if host.startswith("[") or host.replace(".", "").isdigit():
        return host  # IP literal — no label structure
    labels = host.rstrip(".").split(".")
    if len(labels) < 2:
        return host
    last2 = ".".join(labels[-2:])
    if last2 in multi_suffixes:
        return ".".join(labels[-3:]) if len(labels) >= 3 else last2
    return last2


def canonicalize(href: str, base: str | tuple) -> str | None:
    """Resolve `href` against `base` and normalize to the graph's node key:

      * scheme + host lowercased (§6.2.2.1)
      * default port dropped (http:80 / https:443, §6.2.3)
      * fragment dropped (intra-page, not an edge)
      * empty path -> "/" (§6.2.3); dot segments already removed by resolve
      * query PRESERVED (distinct resources; strip upstream if unwanted)

    Returns None for non-http(s) results (mailto:, javascript:, data:) —
    callers drop those links. Percent-encoding is passed through untouched
    (re-encoding without a registry of reserved-per-component octets can
    change meaning; documented boundary).

    `base` is a URL string or its pre-split `split_url(base)` tuple —
    per-page link loops pass the tuple so the base is split once per page,
    not once per link; the resolved components feed the normalizer
    directly (no intermediate recompose + re-split)."""
    scheme, auth, path, query, _ = _resolve_parts(
        base if isinstance(base, tuple) else split_url(base), href.strip())
    if auth is None and path.startswith("//"):
        # recompose-then-resplit (the pre-fast-path behavior) reinterprets
        # a leading "//" of an authority-less path as the authority; keep
        # that byte-identical for e.g. "http:/..//b"
        scheme, auth, path, query, _ = split_url(
            _recompose(scheme, auth, path, query, None))
    if scheme is None:
        return None
    scheme = scheme.lower()
    if scheme not in ("http", "https") or auth is None:
        return None
    userinfo, host = ("", auth)
    if "@" in auth:
        at = auth.rindex("@")
        userinfo, host = auth[: at + 1], auth[at + 1:]
    port = None
    # IPv6 literals carry ':' inside brackets — only split after ']'
    br = host.rfind("]")
    colon = host.find(":", br + 1) if br >= 0 else host.find(":")
    if colon >= 0:
        host, port = host[:colon], host[colon + 1:]
    host = host.lower()
    if port is not None and port != "" and port != _DEFAULT_PORT.get(scheme):
        host = f"{host}:{port}"
    if path == "":
        path = "/"
    return _recompose(scheme, userinfo + host, path, query, None)
