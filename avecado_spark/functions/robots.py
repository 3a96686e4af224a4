"""robots.txt parsing and matching — RFC 9309, from the published spec.

The crawl-politeness half the frontier needs: `parse_robots` turns one
robots.txt body into per-user-agent rule groups, `allowed` applies the
RFC matching algorithm (longest-match wins; on equal length Allow wins;
`*` matches any char run, `$` anchors the end), and
`operators/webgraph.filter_frontier_robots` applies a robots TABLE
(host → body) to a frontier distributedly.

Spec facts implemented (RFC 9309 §2):
  * groups: consecutive `User-agent:` lines share the rules that follow;
    matching is case-insensitive on the product token; the most specific
    user-agent group applies (longest token match, `*` as fallback) and
    ONLY that group's rules are used.
  * rules: `Allow` / `Disallow` with a path pattern; empty Disallow
    means allow-all; percent-encoded octets are compared LITERALLY as
    spelled on both sides (no hex-case normalization — a pattern
    `/a%2Fb` matches only the same spelling in the path; r08 advisor
    note: callers needing cross-case matches must canonicalize urls
    and robots bodies upstream with one spelling).
  * matching: rule specificity is the PATTERN length in characters
    (the RFC's proxy for matched-path length — identical for every
    pattern without wildcards, which is all §2.2.2 defines); if an
    Allow and a Disallow tie, Allow wins. No matching rule -> allowed.
  * a missing/unfetchable robots.txt is allow-all (caller's default).
"""

from __future__ import annotations

from urllib.parse import urlparse


def parse_robots(text: str) -> dict[str, list[tuple[bool, str]]]:
    """robots.txt body → {user_agent_token: [(is_allow, pattern), ...]}.
    Tokens are lowercased; '*' is the catch-all group. Unknown lines and
    comments are skipped per spec."""
    groups: dict[str, list[tuple[bool, str]]] = {}
    current: list[str] = []
    rules_started = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if rules_started:
                current = []
                rules_started = False
            tok = val.lower()
            current.append(tok)
            groups.setdefault(tok, [])
        elif key in ("allow", "disallow"):
            rules_started = True
            if not current:
                continue                       # rules before any group
            if key == "disallow" and val == "":
                continue                       # empty Disallow = allow all
            for tok in current:
                groups[tok].append((key == "allow", val))
        # sitemap/crawl-delay: see robots_sitemaps / crawl_delay
    return groups


def robots_sitemaps(text: str) -> list[str]:
    """The `Sitemap:` directives of one robots.txt — absolute sitemap
    urls, file order preserved, duplicates dropped. Per the sitemaps.org
    protocol this is how a host ADVERTISES its sitemaps (the engine
    parses no sitemap documents). Sitemap lines are group-independent
    (they apply to every crawler, wherever they appear in the file)."""
    out: list[str] = []
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, _, val = line.partition(":")
        if key.strip().lower() == "sitemap":
            val = val.strip()
            if val and val not in out:
                out.append(val)
    return out


def crawl_delay(text: str, user_agent: str) -> float | None:
    """The `Crawl-delay:` of the matching user-agent group (seconds), or
    None. Not in RFC 9309 but honored by most large crawlers; group
    selection follows the same most-specific-token rule as `allowed`.
    Non-numeric values are ignored (treated as absent)."""
    ua = user_agent.lower()
    groups: dict[str, float] = {}
    current: list[str] = []
    rules_started = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if rules_started:
                current = []
                rules_started = False
            current.append(val.lower())
        elif key in ("allow", "disallow", "crawl-delay"):
            rules_started = True
            if key == "crawl-delay":
                try:
                    d = float(val)
                except ValueError:
                    continue
                for tok in current:
                    groups.setdefault(tok, d)
    best = None
    for tok in groups:
        if tok != "*" and tok in ua and \
                (best is None or len(tok) > len(best)):
            best = tok
    if best is not None:
        return groups[best]
    return groups.get("*")


def _match_len(pattern: str, path: str) -> int | None:
    """Length of the match when `pattern` matches a prefix of `path`
    under RFC 9309 wildcards ('*' any run, '$' end anchor), else None.
    Specificity = number of pattern characters excluding wildcards (the
    spec's 'octets in the path' measure applied to the rule)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = pattern.split("*")

    def walk(pi: int, at: int) -> int | None:
        if pi == len(parts):
            if anchored and at != len(path):
                return None
            return at
        part = parts[pi]
        if pi == 0:
            if not path.startswith(part):
                return None
            return walk(1, len(part))
        # '*' before this part: find every occurrence, prefer the
        # shortest extension that lets the rest match
        idx = path.find(part, at)
        while idx >= 0:
            got = walk(pi + 1, idx + len(part))
            if got is not None:
                return got
            idx = path.find(part, idx + 1)
        return None

    return walk(0, 0)


def _specificity(pattern: str) -> int:
    return len(pattern.replace("*", "").replace("$", ""))


def allowed(groups: dict[str, list[tuple[bool, str]]], user_agent: str,
            url_or_path: str) -> bool:
    """RFC 9309 decision for one url/path: pick the most specific
    user-agent group (longest token contained in `user_agent`, '*'
    fallback), then the longest-matching rule; Allow wins ties; no
    match -> allowed."""
    ua = user_agent.lower()
    best_tok = None
    for tok in groups:
        if tok == "*":
            continue
        if tok in ua and (best_tok is None or len(tok) > len(best_tok)):
            best_tok = tok
    rules = groups.get(best_tok if best_tok is not None else "*", [])

    path = url_or_path
    if "://" in path:
        u = urlparse(path)
        path = u.path or "/"
        if u.query:
            path += "?" + u.query
    verdict = True
    best = -1
    for is_allow, pattern in rules:
        if _match_len(pattern, path) is None:
            continue
        spec = _specificity(pattern)
        if spec > best or (spec == best and is_allow and not verdict):
            best = spec
            verdict = is_allow
        elif spec == best and is_allow:
            verdict = True
    return verdict
