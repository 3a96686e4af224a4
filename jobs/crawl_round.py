#!/usr/bin/env python3
"""spark-submit entry: one closed crawl-loop round —

    frontier (want-list from the live corpus)
      → distributed fetch (injectable fetcher; HTTP in production)
      → WARC files (the CC container, one gzip member per record)
      → snapshot-committed ingest (atomic append; time travel intact)
      → the next round's frontier, which has shrunk by what was fetched

    spark-submit --py-files avecado_spark.zip jobs/crawl_round.py \
        --table /tmp/pages_table --warc-dir /tmp/crawl --top-k 1000

This is the loop closure over the pieces that already exist:
operators/webgraph.frontier_df names what the corpus wants,
sources/warc.py writes/reads the container, jobs/ingest_warc.py commits
the batch as one snapshot. Each round's fetches land as REAL WARC bytes
before ingestion — the crawl archive is the durable artifact (and the
record index, sources/warc.warc_index, makes it range-readable later).

Fetcher contract (mirrors sources/fetch.py's injectable opener):
`fetcher(url) -> (status:int, html:bytes)`; non-200s are counted and
skipped (the url stays on the frontier for a later round — politeness
retries are crawl-scheduler policy, not engine policy). No default
network fetcher is provided in this sandbox; --synthetic wires the
deterministic test fetcher so the CLI demonstrates the loop end-to-end.

Scale shape: the frontier is a slim (url, want_cnt, n_srcs) table; the
top-k cut is one exact orderBy-limit; fetch + WARC write are one
mapInPandas pass with NO html shuffle (each worker writes its
partition's WARC file and emits only (path, n_records)); ingest re-reads
those files distributed. A 1000-executor crawl round is the same plan
with a bigger top-k.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synthetic_fetcher(url: str) -> tuple[int, bytes]:
    """Deterministic stand-in for an HTTP fetcher: every url resolves to a
    small page whose body names the url and links back to itself only
    (adds no new frontier targets)."""
    body = (f'<html><head><title>{url}</title></head>'
            f'<body><p>fetched {url}</p>'
            f'<a href="{url}">self</a></body></html>')
    return 200, body.encode()


def run_crawl_round(spark, table: str, warc_dir: str, fetcher,
                    top_k: int = 1000, round_ts: int = 0,
                    parts: int = 4, robots=None,
                    user_agent: str = "avecado",
                    max_per_host: int | None = None) -> dict:
    """One frontier→fetch→WARC→snapshot round. Returns metrics including
    the frontier size before and after (after < before whenever any
    fetch succeeded and the new pages add no unseen targets). Pass
    `robots` — a (host, robots_txt) DataFrame — to apply the RFC 9309
    politeness gate before the top-k cut (disallowed urls are never
    fetched and never counted against top_k). `max_per_host` caps the
    round's fetches per host (webgraph.cap_frontier_per_host) —
    demand-ranked within each host, then the global top-k cut."""
    from pyspark.sql import functions as F

    from avecado_spark.operators.webgraph import (cap_frontier_per_host,
                                                  filter_frontier_robots,
                                                  frontier_df)
    from avecado_spark.sources import snapshots
    from avecado_spark.sources.warc import warc_bytes
    from jobs.ingest_warc import ingest_warc

    pages = snapshots.read(spark, table).select("url", "html")
    frontier = frontier_df(pages)
    n_frontier = frontier.count()
    if robots is not None:
        frontier = filter_frontier_robots(frontier, robots,
                                          user_agent=user_agent)
    if max_per_host is not None:
        frontier = cap_frontier_per_host(frontier, max_per_host)
    want = (frontier.orderBy(F.col("want_cnt").desc(), "url")
                    .limit(top_k).select("url"))

    rnd = (snapshots.current_snapshot(table) or 0)
    out_dir = os.path.join(warc_dir, f"round-{rnd}")
    os.makedirs(out_dir, exist_ok=True)

    def fetch_and_write(batches):
        import pandas as pd
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        recs, n_fail = [], 0
        for b in batches:
            for url in b["url"]:
                status, html = fetcher(str(url))
                if status == 200:
                    recs.append((str(url), round_ts, html))
                else:
                    n_fail += 1
        if recs or n_fail:
            path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
            with open(path, "wb") as f:
                f.write(warc_bytes(recs))
            yield pd.DataFrame({"path": [path], "n_records": [len(recs)],
                                "n_failed": [n_fail]})

    written = (want.repartition(parts, "url")
                   .mapInPandas(fetch_and_write,
                                schema="path string, n_records long, "
                                       "n_failed long")
               .collect())
    n_fetched = sum(r.n_records for r in written)
    n_failed = sum(r.n_failed for r in written)

    metrics = {"round": rnd, "frontier_before": n_frontier,
               "fetched": n_fetched, "failed": n_failed,
               "warc_files": len(written)}
    if n_fetched:
        ing = ingest_warc(spark, os.path.join(out_dir, "*.warc.gz"), table)
        metrics["snapshot"] = ing["snapshot"]
        after = snapshots.read(spark, table).select("url", "html")
        metrics["frontier_after"] = frontier_df(after).count()
    else:
        metrics["frontier_after"] = n_frontier
    return metrics


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--warc-dir", required=True)
    ap.add_argument("--top-k", type=int, default=1000)
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--synthetic", action="store_true",
                    help="use the deterministic synthetic fetcher")
    args = ap.parse_args(argv)
    if not args.synthetic:
        raise SystemExit("no network fetcher in this environment; "
                         "pass --synthetic or drive run_crawl_round "
                         "with your own fetcher")

    from avecado_spark.api import spark_session
    spark = spark_session(app="crawl_round")
    spark.sparkContext.setLogLevel("WARN")
    for _ in range(args.rounds):
        m = run_crawl_round(spark, args.table, args.warc_dir,
                            synthetic_fetcher, top_k=args.top_k)
        print(json.dumps(m))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
