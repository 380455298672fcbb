"""Cross-domain discovery loop: cycle-1 edges → global cuckoo URL-seen →
next-cycle atags → cycle-2 actually crawls the discovered URLs
(plans/discovery.py; the reference's anchor-tags side input,
CrawlerMain.java:675)."""

import pandas as pd
import pyspark.sql.functions as F

from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.plans.discovery import next_cycle_atags
from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup
from marginaliasearch_spark.sources.synthetic_web import (
    normalize_pages_pdf,
    spark_schemas,
)


def _web(spark):
    """Two domains; a.example links to b.example's orphan page (reachable
    only through the cross-domain edge)."""
    rows = []

    def page(domain, path, links=(), status=200):
        rows.append({
            "domain": domain, "path": path, "param": None,
            "url": f"https://{domain}{path}", "status": status,
            "redirect_to": None, "content_type": "text/html",
            "image_id": None, "base_href": None, "links": list(links),
            "feed_links": [], "body_marker": None, "etag": None,
            "last_modified": None, "body_text": None,
        })

    page("a.example.org", "/", links=["/x.html", "https://b.example.org/orphan.html"])
    page("a.example.org", "/x.html")
    page("b.example.org", "/", links=["/y.html"])
    page("b.example.org", "/y.html")
    page("b.example.org", "/orphan.html")  # unlinked inside b

    drows = [
        {
            "domain": d, "top_domain": "example.org", "proto": "https",
            "probe": "ok", "robots_txt": None, "site_kind": "default",
            "crawl_depth": 100, "seed_urls": [], "sitemap_urls": [],
            "generator_meta": "", "has_lemmy_config": False,
        }
        for d in ("a.example.org", "b.example.org")
    ]
    ps, ds = spark_schemas()
    return (
        spark.createDataFrame(normalize_pages_pdf(pd.DataFrame(rows)), schema=ps),
        spark.createDataFrame(pd.DataFrame(drows), schema=ds),
    )


def test_discovery_loop_feeds_next_cycle(spark, tmp_path):
    pages, doms = _web(spark)
    specs = doms.select("domain", "crawl_depth", "seed_urls")

    e1 = SparkCrawlEngine(spark, str(tmp_path / "c1"), seed=42, n_buckets=4)
    e1.init_run(doms, specs)
    e1.run_waves(pages, wave_budget=None)
    v1 = {r["url"] for r in e1.read_table("visits").collect()}
    assert "https://b.example.org/orphan.html" not in v1  # orphan unreachable

    fd = FrontierDedup(spark, str(tmp_path / "seen"), n_buckets=8,
                       cuckoo_m_buckets=1 << 10)
    atags = next_cycle_atags(e1.read_table("edges"), fd).cache()
    got = {(r["domain"], r["url"]) for r in atags.collect()}
    assert ("b.example.org", "https://b.example.org/orphan.html") in got
    # already-crawled cross-domain targets are NOT readmitted as new
    # (the global seen-set admitted them this cycle; replaying the same
    # edges admits nothing)
    assert next_cycle_atags(e1.read_table("edges"), fd).count() == 0

    e2 = SparkCrawlEngine(spark, str(tmp_path / "c2"), seed=42, n_buckets=4)
    e2.init_run(doms, specs)
    e2.run_waves(pages, wave_budget=None, atags_df=atags)
    v2 = {r["url"] for r in e2.read_table("visits").collect()}
    assert "https://b.example.org/orphan.html" in v2  # discovered & crawled


def test_multi_cycle_discovery_converges(spark, tmp_path):
    """Two full crawl → discovery → admission cycles against the global
    URL-seen service: the seen-set grows monotonically, cycle 2 re-admits
    ZERO cycle-1 URLs, the loop converges (nothing left to discover), and
    the refused-re-probe lineage yields a usable atags frame."""
    from marginaliasearch_spark.functions.udfs import canonicalize

    pages, doms = _web(spark)
    specs = doms.select("domain", "crawl_depth", "seed_urls")
    fd = FrontierDedup(spark, str(tmp_path / "seen"), n_buckets=8,
                       cuckoo_m_buckets=1 << 10)

    seen_sizes, admitted_counts = [], []
    atags = None
    for c in range(3):
        eng = SparkCrawlEngine(spark, str(tmp_path / f"cy{c}"), seed=42, n_buckets=4)
        eng.init_run(doms, specs)
        eng.run_waves(pages, wave_budget=None, atags_df=atags)
        # global seen-set learns everything this cycle VISITED, then the
        # admission step filters the cycle's cross-domain discoveries
        visited = eng.read_table("visits").select(
            canonicalize(F.col("url"))["url_hash"].alias("url_hash"), "url"
        )
        fd.ingest(visited)
        atags = next_cycle_atags(eng.read_table("edges"), fd).cache()
        admitted_counts.append(atags.count())
        seen_sizes.append(fd.seen().count())
        # refused-re-probe lineage shape: (domain, pos, url), usable as atags
        rp = eng.refused_reprobe_candidates(probe_fraction=1.0)
        assert rp.columns == ["domain", "pos", "url"]

    # cycle 1 discovers the orphan; afterwards the loop is dry — the
    # seen-set rejects every re-discovery (zero re-admissions)
    assert admitted_counts[0] == 1
    assert admitted_counts[1] == 0
    assert admitted_counts[2] == 0
    # the seen-set reaches the full 5-URL universe in cycle 1 (4 visited +
    # the admitted orphan) and stays at that fixed point: monotone, and
    # cycle 2's visit of the orphan re-admits nothing
    assert seen_sizes == [5, 5, 5]
