"""spark-submit entry point for the crawl pipeline.

Cluster usage (the north-rule deployment shape):

    python scripts/make_pyfiles.py   # -> dist/web_scraper_spark.zip
    spark-submit --master yarn --deploy-mode cluster \\
        --py-files dist/web_scraper_spark.zip \\
        jobs/crawl_job.py \\
        --seeds-csv s3://bucket/seeds.csv --workdir s3://bucket/crawl1 \\
        --politeness-budget 64 --use-robots --dedup --live

Hermetic usage (this sandbox, synthetic web):

    spark-submit --master 'local[32]' jobs/crawl_job.py \\
        --synthetic-domains 300 --workdir /tmp/crawl1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# repo-local runs put jobs/ on sys.path; --py-files deployments ship the
# package zip instead — support both
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="web_scraper_spark crawl")
    p.add_argument("--seeds-csv", help="CSV with a 'domain' header (reference A1 shape)")
    p.add_argument("--synthetic-domains", type=int, default=0,
                   help="use the hermetic synthetic web with N domains instead of --seeds-csv")
    p.add_argument("--workdir", required=True)
    p.add_argument("--politeness-budget", type=int, default=None)
    p.add_argument("--use-robots", action="store_true",
                   help="robots.txt enforcement; with --live the rules are fetched per new host (pre-pass), hermetic mode reads them off the web fixture")
    p.add_argument("--robots-agent", default="*",
                   help="product token for RFC 9309 user-agent group selection (default '*': wildcard groups only)")
    p.add_argument("--sitemaps", action="store_true",
                   help="seed robots-advertised sitemap pages at depth 0 (hermetic mode)")
    p.add_argument("--dedup", action="store_true",
                   help="graft mode: URL-seen dedup at every depth (default mirrors the reference's duplicate-fetch semantics)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--max-depth", type=int, default=1)
    p.add_argument("--live", action="store_true",
                   help="real HTTP fetching (sources/fetch.fetch_live); default is the hermetic fetch-join")
    p.add_argument("--proxy", default=None,
                   help="optional http forward proxy for --live (absolute-URI proxying)")
    p.add_argument("--fetch-timeout", type=float, default=15.0)
    p.add_argument("--recrawl-max-age", type=float, default=None,
                   help="freshness mode: re-crawl seeds whose last attempt in <workdir>'s "
                        "crawl log is older than this many seconds, merging results back")
    p.add_argument("--warc", action="store_true",
                   help="archive every fetch attempt as gzipped WARC under <workdir>/warc/round=NNNNN/")
    p.add_argument("--metrics-log", default=None,
                   help="optional rotating JSON-lines file for per-round metrics (reference A10 log-file sink analog)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from web_scraper_spark.session import get_spark

    # Only stop the session this job created: when main() is driven
    # in-process (tests, notebooks), getOrCreate returns the CALLER's
    # session and stopping it would kill their SparkContext for good.
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("crawl_job")

    if args.synthetic_domains:
        from web_scraper_spark.sources.synthetic_web import build_web, web_host_df

        seeds, _ = build_web(args.synthetic_domains)
        web = web_host_df(spark, args.synthetic_domains)
    else:
        if not args.seeds_csv:
            p.error("--seeds-csv or --synthetic-domains required")
        if not args.live:
            p.error("--seeds-csv without --live needs a web fixture")
        # seed lists are driver-scale (the reference ships 997 rows);
        # at 10^8+ seeds feed them through a frontier table instead
        rows = (
            spark.read.option("header", True).csv(args.seeds_csv)
            .select("domain").collect()
        )
        seeds = [r["domain"] or "" for r in rows]
        web = None

    if args.recrawl_max_age is not None:
        from web_scraper_spark.plans.recrawl import recrawl

        sub, stale = recrawl(
            spark, seeds, web, args.workdir,
            max_age_s=args.recrawl_max_age,
            politeness_budget=args.politeness_budget,
            dedup_contacts=args.dedup,
            max_depth=args.max_depth,
            use_robots=args.use_robots,
            robots_agent=args.robots_agent,
            live=args.live,
            live_proxy=args.proxy,
            live_timeout_s=args.fetch_timeout,
            export_warc=args.warc,
        )
        print(json.dumps({
            "recrawled_seeds": stale,
            "fetch_attempts": sub.crawl_log.count() if sub else 0,
        }))
        if not preexisting:
            spark.stop()
        return 0

    from web_scraper_spark.plans.crawl import run_crawl

    result = run_crawl(
        spark,
        seeds,
        web,
        None,
        workdir=args.workdir,
        politeness_budget=args.politeness_budget,
        dedup_contacts=args.dedup,
        resume=args.resume,
        max_depth=args.max_depth,
        use_robots=args.use_robots,
        robots_agent=args.robots_agent,
        ingest_sitemaps=args.sitemaps,
        live=args.live,
        live_proxy=args.proxy,
        live_timeout_s=args.fetch_timeout,
        export_warc=args.warc,
    )
    if args.metrics_log:
        from web_scraper_spark.sources.logsink import RotatingJsonLogSink

        sink = RotatingJsonLogSink(args.metrics_log)
        sink.write(result.metrics, order_by=["round", "depth", "partition_id"])
        sink.close()

    summary = {
        "rounds": result.rounds,
        "fetch_attempts": result.crawl_log.count(),
        "urls_seen": result.url_seen.count(),
        "company_records": result.company_records.count(),
        "images": result.images.count() if result.images is not None else 0,
    }
    print(json.dumps(summary))
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
