#!/usr/bin/env python
"""spark-submit entry point for the crawl (north rule: "run via
spark-submit --py-files on multi-executor clusters").

Usage (sandbox, local master):

    cd /root/repo && python scripts/make_pyfiles.py   # build the zip once
    spark-submit --master 'local[32]' \
        --py-files dist/news_crawler_slm_spark.zip \
        scripts/crawl_job.py \
        --catalog /tmp/crawl_cat --rounds 3 --hosts 20 --pages 60

On a real cluster only --master/--deploy-mode change; the job code is
identical. The synthetic web backend is used when --web-parquet is not
given; pass a parquet of (url, html, out_links, fetch_ok, lang, publisher)
to crawl a pre-fetched corpus, or swap the fetcher for an HTTP mapInPandas
stage (crawl/rounds.py:synthetic_fetcher docstring).

Resume: re-running with the same --catalog continues from the latest
committed snapshot (exactly-once rounds; kill it mid-run and re-submit).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True, help="snapshot catalog root dir")
    ap.add_argument("--rounds", type=int, default=None, help="max rounds this run")
    ap.add_argument("--hosts", type=int, default=20)
    ap.add_argument("--pages", type=int, default=60)
    ap.add_argument("--web-parquet", default=None, help="pre-fetched corpus parquet")
    ap.add_argument(
        "--robots-parquet",
        default=None,
        help="raw robots.txt fetches (host, body binary) — parsed in-engine "
        "via crawl/robots.py instead of the synthetic robots table",
    )
    ap.add_argument("--round-budget", type=float, default=10.0)
    ap.add_argument("--max-articles", type=int, default=1000)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--no-bloom", action="store_true")
    ap.add_argument(
        "--adaptive-politeness",
        action="store_true",
        help="AIMD per-host backoff: failed fetches double a host's "
        "effective crawl delay (never below its robots base); the "
        "host_delays table snapshots with the rest of the state",
    )
    ap.add_argument(
        "--compact-every", type=int, default=None,
        help="compact the append-chain tables every K rounds (in-loop)",
    )
    ap.add_argument(
        "--expire-keep", type=int, default=None,
        help="retention GC after each round: keep only the newest N "
        "snapshots (N >= 2 preserves resume + compaction parents)",
    )
    ap.add_argument(
        "--gateway",
        default=None,
        help="HTTP gateway base url (http://host:port): fetch over HTTP via "
        "the mapInPandas fetcher (crawl/httpfetch.py) instead of the "
        "synthetic join backend (one GET per url per round)",
    )
    ap.add_argument(
        "--revalidate",
        action="store_true",
        help="with --gateway: conditional GETs — send each stored page's "
        "ETag (If-None-Match); 304 answers keep the stored copy, log "
        "'revalidated', and skip the pages append + re-extraction",
    )
    ap.add_argument(
        "--ttl-rounds",
        type=int,
        default=None,
        help="before crawling, retire + requeue every seen url whose last "
        "visit is older than this many rounds (TTL recrawl maintenance; "
        "combine with --gateway --revalidate for the cheap-recrawl path)",
    )
    ap.add_argument(
        "--rollback-to",
        type=int,
        default=None,
        help="before anything else, roll CURRENT back to this ancestor "
        "snapshot id (bad-round recovery); the crawl then re-runs the "
        "abandoned rounds deterministically",
    )
    ap.add_argument(
        "--freshness-weight",
        type=float,
        default=0.0,
        help="with --ttl-rounds: requeue priority bonus proportional to "
        "each url's observed change rate (full re-fetches per revisit) — "
        "recrawl what actually changes first",
    )
    ap.add_argument(
        "--compact",
        action="store_true",
        help="after the run, compact the append-chain tables (seen, pages, "
        "crawl_log) into single data dirs — one rewrite restores O(1)-path "
        "reads after many O(round) delta commits; time travel to earlier "
        "snapshots keeps the delta layout",
    )
    args = ap.parse_args()

    # Under spark-submit the session already carries the submitted master;
    # builder.getOrCreate() attaches to it (session.py confs still apply).
    from news_crawler_slm_spark.crawl.rounds import run_crawl, synthetic_fetcher
    from news_crawler_slm_spark.crawl.semantics import CrawlParams
    from news_crawler_slm_spark.session import get_spark
    from news_crawler_slm_spark.sources.synthetic_web import WebScale, web_dataframes

    spark = get_spark("nc-slm-crawl")

    if args.web_parquet:
        web = spark.read.parquet(args.web_parquet)
        scale = WebScale(n_hosts=args.hosts, pages_per_host_max=args.pages)
        dfs = web_dataframes(spark, scale)
        seeds, robots = dfs["seeds"], dfs["robots"]
    else:
        scale = WebScale(n_hosts=args.hosts, pages_per_host_max=args.pages)
        dfs = web_dataframes(spark, scale)
        web, seeds, robots = dfs["web"].cache(), dfs["seeds"], dfs["robots"]

    if args.robots_parquet:
        from news_crawler_slm_spark.crawl.robots import robots_table

        robots = robots_table(spark.read.parquet(args.robots_parquet))

    params = CrawlParams(
        round_budget=args.round_budget,
        max_articles=args.max_articles,
        n_buckets=args.buckets,
        adaptive_politeness=args.adaptive_politeness,
    )

    if args.rollback_to is not None:
        from news_crawler_slm_spark.sources.tables import SnapshotCatalog

        SnapshotCatalog(spark, args.catalog).rollback(args.rollback_to)
        print(json.dumps({"rolled_back_to": args.rollback_to}), file=sys.stderr, flush=True)

    if args.ttl_rounds is not None:
        from news_crawler_slm_spark.crawl.rounds import retire_and_requeue

        n_retired = retire_and_requeue(
            spark, args.catalog, robots, params,
            ttl_rounds=args.ttl_rounds,
            freshness_weight=args.freshness_weight,
        )
        print(json.dumps({"retired": n_retired}), file=sys.stderr, flush=True)

    fetcher = synthetic_fetcher(web)
    if args.gateway:
        from news_crawler_slm_spark.crawl.httpfetch import http_fetcher
        from news_crawler_slm_spark.crawl.rounds import live_pages
        from news_crawler_slm_spark.sources.tables import SnapshotCatalog

        validators = None
        if args.revalidate:
            cat = SnapshotCatalog(spark, args.catalog)
            snap = cat.snapshot()
            if snap is not None and "pages" in snap.tables:
                lp = live_pages(cat)
                vcols = ["url", "etag"] + (
                    ["last_modified"] if "last_modified" in lp.columns else []
                )
                validators = lp.select(*vcols)
        fetcher = http_fetcher(args.gateway, validators=validators)

    progress = []

    def on_round(rnd, counters, round_s, pop_s):
        progress.append({**counters, "round_s": round(round_s, 2), "pop_s": round(pop_s, 2)})
        print(json.dumps(progress[-1]), file=sys.stderr, flush=True)

    t0 = time.monotonic()
    state = run_crawl(
        spark,
        args.catalog,
        seeds,
        robots,
        fetcher,
        params,
        use_bloom=not args.no_bloom,
        max_rounds=args.rounds,
        output_partitions=None,
        on_round=on_round,
        compact_every=args.compact_every,
        expire_keep=args.expire_keep,
    )
    wall = time.monotonic() - t0
    fetched = sum(p["fetched"] for p in progress)
    revalidated = sum(p.get("revalidated", 0) for p in progress)

    compacted = {}
    if args.compact:
        from news_crawler_slm_spark.sources.tables import SnapshotCatalog

        cat = SnapshotCatalog(spark, args.catalog)
        snap = cat.snapshot()
        present = snap.tables if snap is not None else {}
        for t in ("seen", "pages", "crawl_log"):
            if t in present and len(present[t]) > 1:
                part = {"seen": {"seen": ["bucket"]}}.get(t)
                cat.compact(t, partition_by=part)
                compacted[t] = len(present[t])

    print(
        json.dumps(
            {
                "final_round": state.round,
                "rounds_run": len(progress),
                "fetched": fetched,
                "revalidated": revalidated,
                "wall_s": round(wall, 2),
                "pages_per_sec": round(fetched / wall, 2) if wall > 0 else None,
                "compacted": compacted or None,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
