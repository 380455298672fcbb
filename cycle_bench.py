#!/usr/bin/env python
"""Two-cycle crawl bench — cycle-1 discovery crawl, then cycle-2 RECRAWL
with the stored crawl as the conditional-fetch reference (If-None-Match /
If-Modified-Since → 304 replacement, header retention, EasyLSH content
arm).  Measures the revisit path's throughput and retention mix — the
steady-state workload of a production crawler (most cycles are recrawls).

Prints one JSON line and appends a section to BENCH.md.

Env: SPARK_GRAFT_CRAWL_DOMAINS (default 4096), SPARK_GRAFT_CRAWL_PAGES
(default 40), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build_spark  # noqa: E402


def main() -> None:
    n_domains = int(os.environ.get("SPARK_GRAFT_CRAWL_DOMAINS", "4096"))
    mean_pages = int(os.environ.get("SPARK_GRAFT_CRAWL_PAGES", "40"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    seed = 42

    from pyspark.sql import functions as F

    from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
    from marginaliasearch_spark.sources.synthetic_web import (
        generate_web,
        spark_schemas,
        web_to_frames,
    )

    spark = build_spark(cpus)
    web, _ = generate_web(seed=seed, n_domains=n_domains, mean_pages=mean_pages)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps).cache()
    pages.count()
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    # ---- cycle 1: discovery crawl
    e1 = SparkCrawlEngine(spark, tempfile.mkdtemp(prefix="msx_c1_"), seed=seed, n_buckets=32)
    t0 = time.perf_counter()
    e1.init_run(domains, specs)
    e1.run_waves(pages, wave_budget=None)
    v1 = e1.read_table("visits").count()
    t1 = time.perf_counter() - t0

    prev = e1.read_table("crawl_data").select(
        "domain",
        (F.col("wave") * 100_000 + F.col("idx")).alias("pos"),
        "url",
        "http_status",
        "image_id",
        "etag",
        "last_modified",
        "lsh64",
    ).cache()
    n_prev = prev.count()

    # ---- cycle 2: recrawl against the static web (validators unchanged →
    # the 304/header/LSH retention arms carry most documents)
    e2 = SparkCrawlEngine(spark, tempfile.mkdtemp(prefix="msx_c2_"), seed=seed, n_buckets=32)
    t0 = time.perf_counter()
    e2.init_run(domains, specs)
    e2.run_waves(pages, wave_budget=None, prev_crawl_df=prev)
    v2 = e2.read_table("visits").count()
    t2 = time.perf_counter() - t0

    log2 = e2.read_table("fetch_log")
    mix = {
        r["action"]: r["n"]
        for r in log2.filter(
            F.col("action").isin(
                "FETCH_304", "REFERENCE_COPY", "RECRAWL_RETAINED_HEADER",
                "RECRAWL_RETAINED_LSH", "RECRAWL_CHANGED", "RECRAWL_MEMO_404",
            )
        )
        .groupBy("action")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    meta = e2.crawl_meta().agg(
        F.sum("recrawl_recrawled").alias("recrawled"),
        F.sum("recrawl_retained").alias("retained"),
        F.sum("recrawl_skipped").alias("skipped"),
    ).collect()[0]

    # ---- discovery cycles: 3 × (crawl → edge harvest → canonicalize →
    # global cuckoo admission → next-cycle atags) against one persistent
    # URL-seen service.  Asserts the convergence invariants at bench
    # scale: monotone seen growth, zero re-admissions once seen.
    from marginaliasearch_spark.functions.udfs import canonicalize
    from marginaliasearch_spark.plans.discovery import next_cycle_atags
    from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup

    fd = FrontierDedup(
        spark, tempfile.mkdtemp(prefix="msx_fd_"), n_buckets=32,
        cuckoo_m_buckets=1 << 16,
    )
    atags = None
    disc_cycles = []
    for c in range(3):
        ec = SparkCrawlEngine(
            spark, tempfile.mkdtemp(prefix=f"msx_dc{c}_"), seed=seed, n_buckets=32
        )
        t0 = time.perf_counter()
        ec.init_run(domains, specs)
        ec.run_waves(pages, wave_budget=None, atags_df=atags)
        n_vis = ec.read_table("visits").count()
        visited = ec.read_table("visits").select(
            canonicalize(F.col("url"))["url_hash"].alias("url_hash"), "url"
        )
        new_seen = fd.ingest(visited).count()
        if atags is not None:
            atags.unpersist()  # steady state must not accumulate cache blocks
        atags = next_cycle_atags(ec.read_table("edges"), fd).cache()
        n_admitted = atags.count()
        seen_total = fd.seen().count()
        wall = time.perf_counter() - t0
        disc_cycles.append(
            {
                "cycle": c,
                "wall_sec": round(wall, 2),
                "visited": n_vis,
                "new_seen_keys": new_seen,
                "admitted_discoveries": n_admitted,
                "seen_total": seen_total,
                "urls_per_sec": round(n_vis / wall, 1),
                "load1": round(os.getloadavg()[0], 2),
                "seen_paths": len(fd._load()["seen_paths"]),
            }
        )
    assert disc_cycles[0]["seen_total"] <= disc_cycles[1]["seen_total"] <= disc_cycles[2]["seen_total"]
    assert disc_cycles[1]["new_seen_keys"] == 0, "re-admission of cycle-1 URLs"
    assert disc_cycles[2]["admitted_discoveries"] == 0, "discovery loop failed to converge"
    # steady-state flatness: idle cycles append no seen paths (the empty
    # ingest short-circuit) so per-cycle cost stays bounded on a static web
    assert disc_cycles[1]["seen_paths"] == disc_cycles[2]["seen_paths"], (
        "idle cycles grew the seen-set table"
    )
    cyc_ratio = disc_cycles[2]["wall_sec"] / max(disc_cycles[0]["wall_sec"], 1e-9)

    result = {
        "metric": "two-cycle crawl: discovery then conditional-fetch recrawl (URLs visited/s)",
        "domains": n_domains,
        "cpus": cpus,
        "cycle1_wall_sec": round(t1, 2),
        "cycle1_visited": v1,
        "cycle1_urls_per_sec": round(v1 / t1, 1),
        "prev_docs": n_prev,
        "cycle2_wall_sec": round(t2, 2),
        "cycle2_visited": v2,
        "cycle2_urls_per_sec": round(v2 / t2, 1),
        "retention_mix": mix,
        "recrawled": int(meta["recrawled"] or 0),
        "retained": int(meta["retained"] or 0),
        "skipped": int(meta["skipped"] or 0),
        "discovery_cycles": disc_cycles,
        "cycle2_over_cycle0": round(cyc_ratio, 3),
    }
    print(json.dumps(result))

    md = (
        "\n## Two-cycle crawl bench (conditional-fetch recrawl)\n\n"
        f"{n_domains} domains, cycle 1 = discovery ({v1:,} URLs visited, "
        f"{t1:.1f}s, {v1 / t1:,.0f}/s); cycle 2 replays {n_prev:,} stored docs "
        f"with painted validators then resumes BFS ({v2:,} visited, {t2:.1f}s, "
        f"{v2 / t2:,.0f}/s).  Retention mix: {json.dumps(mix)}; "
        f"revisitor counters: {int(meta['recrawled'] or 0):,} recrawled / "
        f"{int(meta['retained'] or 0):,} retained / "
        f"{int(meta['skipped'] or 0):,} sampler-skipped.  A static web with "
        "stored validators retains most documents via 304/header/LSH — the "
        "production steady state where bandwidth is spent only on change.\n\n"
        "### Discovery cycles (crawl → harvest → cuckoo admission ×3)\n\n"
        "| cycle | wall s | visited | new seen keys | admitted discoveries | seen total | seen paths | load1 |\n"
        "|---|---|---|---|---|---|---|---|\n"
        + "".join(
            f"| {d['cycle']} | {d['wall_sec']} | {d['visited']:,} | "
            f"{d['new_seen_keys']:,} | {d['admitted_discoveries']:,} | "
            f"{d['seen_total']:,} | {d['seen_paths']} | {d['load1']} |\n"
            for d in disc_cycles
        )
        + "\nInvariants asserted in-bench: monotone seen growth, zero\n"
        "re-admissions after cycle 1, loop converges (cycle 3 admits 0),\n"
        "idle cycles append zero seen paths (empty-ingest short-circuit).\n"
        f"Steady-state flatness: cycle 2 wall = {cyc_ratio:.2f}x cycle 0\n"
        "(target <= 1.15 on a quiet host; per-cycle load1 recorded above).\n"
    )
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.md"), "a") as f:
        f.write(md)
    spark.stop()


if __name__ == "__main__":
    main()
