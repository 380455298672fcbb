#!/usr/bin/env python
"""spark-submit entry point for the crawl job.

Usage (north-rule launch shape):

    zip -r /tmp/msx.zip marginaliasearch_spark
    spark-submit --master <cluster> --py-files /tmp/msx.zip \
        submit_crawl.py --out /data/crawl_run_1 \
        [--domains 256 --pages 40 --wave-budget 100 --group-key top_domain]
        [--validate]

In the sandbox the master defaults to local[*]; on a cluster pass the real
master + executor confs.  The job generates (or reads) the synthetic web,
runs the wave engine to completion and prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="crawl table/snapshot root")
    ap.add_argument("--domains", type=int, default=64)
    ap.add_argument("--pages", type=int, default=20)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--wave-budget", type=int, default=None)
    ap.add_argument("--group-key", choices=["domain", "top_domain"], default="domain")
    ap.add_argument(
        "--validate", action="store_true",
        help="after the crawl, check every crawled image "
        "(plans/validate.py::validate_image_ids over crawl_data) and "
        "report the failed-row count")
    ap.add_argument(
        "--max-run-seconds", type=float, default=None,
        help="timed-run wall budget (TimedRun, default unbounded; the "
        "reference defaults to 7 days)")
    ap.add_argument(
        "--compact", action="store_true",
        help="after the run, fold per-wave output dirs into one "
        "row_kind-partitioned table and expire superseded snapshots "
        "(rewrite_data_files + expire_snapshots analogues)")
    ap.add_argument(
        "--global-request-cap", type=int, default=None,
        help="at most N domains in flight per wave (the reference's "
        "512-permit global request semaphore; niceness-only)")
    ap.add_argument(
        "--conn-launches-per-wave", type=int, default=None,
        help="at most C domains may start crawling per wave (the "
        "reference's connection-launch stagger; niceness-only)")
    ap.add_argument(
        "--transport", choices=["arrow", "http"], default="arrow",
        help="'arrow' feeds each domain's pages to the wave UDF as its "
        "cogrouped Arrow slice; 'http' serves the generated web over localhost sockets "
        "(sources/httpweb.SyntheticWebServer) and the wave UDF's Python "
        "workers fetch it with real HTTP connections — the live-fetch "
        "launch shape; on a multi-node cluster the server host must be "
        "reachable from every executor")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("marginaliasearch-crawl").getOrCreate()

    from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
    from marginaliasearch_spark.sources.synthetic_web import (
        generate_web,
        spark_schemas,
        web_to_frames,
    )

    web, _ = generate_web(seed=args.seed, n_domains=args.domains, mean_pages=args.pages)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    server = None
    transport = None
    if args.transport == "http":
        from marginaliasearch_spark.sources.httpweb import SyntheticWebServer

        server = SyntheticWebServer(web)
        transport = {"kind": "http", "ports": server.ports}
        # live mode: page payloads arrive over sockets; the pages DF is
        # routing ballast only
        pages = spark.createDataFrame([], schema=ps)

    engine = SparkCrawlEngine(
        spark, args.out, seed=args.seed,
        global_request_cap=args.global_request_cap,
        conn_launches_per_wave=args.conn_launches_per_wave,
        transport=transport,
    )
    t0 = time.perf_counter()
    engine.init_run(domains, specs)
    waves = engine.run_waves(
        pages,
        wave_budget=args.wave_budget,
        group_key=args.group_key,
        deadline_s=args.max_run_seconds,
    )
    if args.compact:
        engine.compact_wave_out()
        engine.expire_snapshots(keep_last=1)
    visited = engine.read_table("visits").count()
    seen = (
        engine.read_table("frontier")
        .filter(F.col("state").isin("VISITED", "KNOWN", "REFUSED"))
        .count()
    )
    wall = time.perf_counter() - t0
    summary = {
        "out": args.out,
        "waves": waves,
        "urls_visited": visited,
        "urls_seen": seen,
        "wall_sec": round(wall, 2),
        "urls_per_sec": round(visited / wall, 2),
        "transport": args.transport,
    }
    if args.validate:
        from marginaliasearch_spark.plans.validate import validate_image_ids

        verdicts = validate_image_ids(engine.read_table("crawl_data"), seed=args.seed)
        summary["images_failed"] = verdicts.filter(
            ~F.col("decode_ok") | ~F.col("psnr_ok")
        ).count()
    print(json.dumps(summary))
    if server is not None:
        server.close()
    spark.stop()


if __name__ == "__main__":
    main()
