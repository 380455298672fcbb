#!/usr/bin/env python
"""Per-phase timing of the discovery loop — diagnose which phase grows
across cycles (VERDICT r4 item 1: 25 -> 42 -> 52 s on identical work).

Runs N_CYCLES discovery cycles exactly as cycle_bench.py does, but times
run_waves / ingest / next_cycle_atags / seen-count separately and reports
job-level stats.  Env: SPARK_GRAFT_CRAWL_DOMAINS (default 1024), cycles
via SPARK_GRAFT_DIAG_CYCLES (default 4).
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_spark  # noqa: E402


def main() -> None:
    n_domains = int(os.environ.get("SPARK_GRAFT_CRAWL_DOMAINS", "1024"))
    n_cycles = int(os.environ.get("SPARK_GRAFT_DIAG_CYCLES", "4"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    seed = 42

    from pyspark.sql import functions as F

    from marginaliasearch_spark.functions.udfs import canonicalize
    from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
    from marginaliasearch_spark.plans.discovery import next_cycle_atags
    from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup
    from marginaliasearch_spark.sources.synthetic_web import (
        generate_web,
        spark_schemas,
        web_to_frames,
    )

    spark = build_spark(cpus)
    web, _ = generate_web(seed=seed, n_domains=n_domains, mean_pages=40)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps).cache()
    pages.count()
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    fd = FrontierDedup(
        spark, tempfile.mkdtemp(prefix="msx_fdd_"), n_buckets=32,
        cuckoo_m_buckets=1 << 16,
    )
    atags = None
    rows = []
    for c in range(n_cycles):
        ec = SparkCrawlEngine(
            spark, tempfile.mkdtemp(prefix=f"msx_dd{c}_"), seed=seed, n_buckets=32
        )
        t0 = time.perf_counter()
        ec.init_run(domains, specs)
        t_init = time.perf_counter() - t0

        t0 = time.perf_counter()
        ec.run_waves(pages, wave_budget=None, atags_df=atags)
        t_waves = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_vis = ec.read_table("visits").count()
        visited = ec.read_table("visits").select(
            canonicalize(F.col("url"))["url_hash"].alias("url_hash"), "url"
        )
        new_seen = fd.ingest(visited).count()
        t_ingest = time.perf_counter() - t0

        if atags is not None:
            atags.unpersist()
        t0 = time.perf_counter()
        atags = next_cycle_atags(ec.read_table("edges"), fd).cache()
        n_admitted = atags.count()
        t_atags = time.perf_counter() - t0

        t0 = time.perf_counter()
        seen_total = fd.seen().count()
        t_seen = time.perf_counter() - t0

        row = {
            "cycle": c,
            "t_init": round(t_init, 2),
            "t_waves": round(t_waves, 2),
            "t_ingest": round(t_ingest, 2),
            "t_atags": round(t_atags, 2),
            "t_seen_count": round(t_seen, 2),
            "visited": n_vis,
            "new_seen": new_seen,
            "admitted": n_admitted,
            "seen_total": seen_total,
            "load1": os.getloadavg()[0],
        }
        rows.append(row)
        print(json.dumps(row), flush=True)

    print(json.dumps({"domains": n_domains, "cycles": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
