"""The runnable count rides the snapshot manifest: init_run counts the
pending domains on its write, each wave subtracts the domains its write
left terminal, and run_waves stops on the count before any job.  At every
snapshot the manifest's ``runnable`` equals the pending/active rows of the
domain_state view, under every stop-relevant mode: the request cap, the
launch throttle, top_domain permits, a fault-barrier domain, a rollback
and resume, and a fold."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.oracle import OracleCrawler
from marginaliasearch_spark.plans import crawl
from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.sources.synthetic_web import (
    generate_web,
    normalize_pages_pdf,
    spark_schemas,
    web_to_frames,
)

SEED = 42
BAD = "bad.example.org"


def _bad_domain_frames():
    """A domain whose corrupt page row (NULL status) faults inside the
    wave UDF: its fault barrier emits an ``error`` domain_state row."""
    page = {
        "domain": BAD, "param": None, "redirect_to": None,
        "content_type": "text/html", "image_id": None, "base_href": None,
        "feed_links": [], "body_marker": None, "etag": None,
        "last_modified": None, "body_text": None,
    }
    rows = [
        {**page, "path": "/", "url": f"https://{BAD}/", "status": 200, "links": ["/x.html"]},
        {**page, "path": "/x.html", "url": f"https://{BAD}/x.html", "status": None, "links": []},
    ]
    drow = {
        "domain": BAD, "top_domain": "example.org", "proto": "https", "probe": "ok",
        "robots_txt": None, "site_kind": "default", "crawl_depth": 100, "seed_urls": [],
        "sitemap_urls": [], "generator_meta": "", "has_lemmy_config": False,
    }
    return normalize_pages_pdf(pd.DataFrame(rows, dtype=object)), pd.DataFrame([drow])


@pytest.fixture(scope="module")
def small(spark):
    """Six generated domains plus the faulting one, and the oracle's
    per-domain visit order for the generated ones."""
    web, _ = generate_web(seed=SEED, n_domains=6, mean_pages=8)
    pages_pdf, domains_pdf = web_to_frames(web)
    bad_pages, bad_domains = _bad_domain_frames()
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(
        pd.concat([pages_pdf, bad_pages[pages_pdf.columns]], ignore_index=True).astype(object)
        .where(lambda df: df.notna(), None),
        schema=ps,
    )
    domains = spark.createDataFrame(
        pd.concat([domains_pdf, bad_domains[domains_pdf.columns]], ignore_index=True), schema=ds
    )
    oracle = OracleCrawler(web, seed=SEED)
    golden = {d: oracle.crawl_domain(d).visited_order for d in sorted(web.domains)}
    return pages, domains, golden


def _visits(engine):
    return {
        r["domain"]: list(r["urls"])
        for r in engine.read_table("visits")
        .groupBy("domain")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("wave", "idx", "url"))),
                lambda s: s["url"],
            ).alias("urls")
        )
        .collect()
    }


def _check_count(engine):
    """The latest manifest's runnable count against the domain_state view."""
    view = engine.read_table("domain_state").filter(F.col("phase").isin("pending", "active"))
    assert engine.catalog.load()["runnable"] == view.count()


def _drive(engine, pages, **kw):
    """run_waves one wave at a time to completion, checking the count at
    every snapshot; returns the wave count."""
    _check_count(engine)
    waves = 0
    while engine.run_waves(pages, max_waves=1, **kw):
        waves += 1
        _check_count(engine)
    return waves


def _start(spark, tmp_path, tag, domains, **engine_kw):
    engine = SparkCrawlEngine(spark, str(tmp_path / tag), seed=SEED, n_buckets=4, **engine_kw)
    engine.init_run(domains, domains.select("domain", "crawl_depth", "seed_urls"))
    return engine


def _assert_crawled(engine, golden):
    visits = _visits(engine)
    for d, order in golden.items():
        assert visits.get(d, []) == order, d
    phases = {r["domain"]: r["phase"] for r in engine.read_table("domain_state").collect()}
    assert phases[BAD] == "error"
    assert engine.catalog.load()["runnable"] == 0


def test_count_under_request_cap(spark, tmp_path, small):
    pages, domains, golden = small
    engine = _start(spark, tmp_path, "cap", domains, global_request_cap=1)
    # one domain runs to its end per wave
    assert _drive(engine, pages) == len(golden) + 1
    _assert_crawled(engine, golden)


def test_count_under_launch_throttle(spark, tmp_path, small):
    pages, domains, golden = small
    engine = _start(spark, tmp_path, "launch", domains, conn_launches_per_wave=1)
    assert _drive(engine, pages, wave_budget=3) > len(golden)
    _assert_crawled(engine, golden)


def test_count_with_fault_barrier_in_one_wave(spark, tmp_path, small):
    """Uncapped: the one wave ends every domain, the faulting one by its
    fault barrier, and the next call stops on the carried 0."""
    pages, domains, golden = small
    engine = _start(spark, tmp_path, "uncapped", domains)
    assert _drive(engine, pages) == 1
    _assert_crawled(engine, golden)


def test_count_under_top_domain_permits(spark, tmp_path):
    """tests/test_topdomain_budget.py's fixture: permit-held members emit
    no rows and stay runnable."""
    web, _ = generate_web(seed=SEED, n_domains=12, mean_pages=10)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    engine = _start(spark, tmp_path, "td", domains)
    assert _drive(engine, pages, wave_budget=4, group_key="top_domain") > 2
    oracle = OracleCrawler(web, seed=SEED)
    visits = _visits(engine)
    for d in web.domains:
        assert visits.get(d, []) == oracle.crawl_domain(d).visited_order, d


def test_count_after_rollback_and_resume(spark, tmp_path, small):
    pages, domains, golden = small
    engine = _start(spark, tmp_path, "rb", domains)
    _drive(engine, pages, wave_budget=2)
    engine.catalog.rollback_to(2)
    resumed = SparkCrawlEngine(spark, str(tmp_path / "rb"), seed=SEED, n_buckets=4)
    assert resumed.catalog.load()["runnable"] > 0
    _drive(resumed, pages, wave_budget=2)
    _assert_crawled(resumed, golden)


def test_count_across_folds_and_no_fold_after_the_end(spark, tmp_path, small, monkeypatch):
    """A crawl that folds every 2 waves keeps the count exact; a run_waves
    call after the end returns 0 before any job, and before any fold: it
    writes no compacted dir that no snapshot names."""
    pages, domains, golden = small
    monkeypatch.setattr(crawl, "FOLD_WAVES", 2)
    engine = _start(spark, tmp_path, "fold", domains)
    assert _drive(engine, pages, wave_budget=2) > 2 * crawl.FOLD_WAVES
    _assert_crawled(engine, golden)
    compacted = os.path.join(str(tmp_path / "fold"), "wave_out_compacted")
    before = sorted(os.listdir(compacted))
    assert len(before) >= 2
    # any unfolded wave_out dir is now due for a fold
    monkeypatch.setattr(crawl, "FOLD_WAVES", 1)
    assert engine.catalog.load()["tables"]["wave_out"]
    sc = spark.sparkContext
    sc.setJobGroup("after-the-end", "run_waves after the last wave")
    try:
        assert engine.run_waves(pages, wave_budget=2) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not sc.statusTracker().getJobIdsForGroup("after-the-end")
    assert sorted(os.listdir(compacted)) == before


def test_manifest_without_count_raises(spark, tmp_path, small):
    pages, domains, _ = small
    with pytest.raises(ValueError, match="init_run"):
        SparkCrawlEngine(spark, str(tmp_path / "none"), seed=SEED).run_waves(pages)
    engine = _start(spark, tmp_path, "stripped", domains)
    snap = engine.catalog._snap_path(engine.catalog.latest_snapshot())
    with open(snap) as f:
        manifest = json.load(f)
    del manifest["runnable"]
    with open(snap, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="init_run"):
        SparkCrawlEngine(spark, str(tmp_path / "stripped"), seed=SEED).run_waves(pages)


def test_duplicate_specs_keep_the_deepest(spark, tmp_path):
    """Duplicate specs of a domain: the largest crawl_depth wins, ties go
    to the smallest seed_urls, whatever the rows' order or partitioning."""
    web, _ = generate_web(seed=SEED, n_domains=6, mean_pages=8)
    _, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains_pdf[["domain", "crawl_depth", "seed_urls"]].copy()
    target = specs["domain"].iloc[0]
    deep = int(specs["crawl_depth"].iloc[0])
    extra = pd.DataFrame(
        [
            {"domain": target, "crawl_depth": 7, "seed_urls": []},
            {"domain": target, "crawl_depth": deep, "seed_urls": ["https://z.example/"]},
        ]
    )
    schema = "domain string, crawl_depth int, seed_urls array<string>"
    orders = {
        "first": pd.concat([specs, extra], ignore_index=True),
        "last": pd.concat([extra.iloc[::-1], specs], ignore_index=True),
    }
    stored = set()
    for tag, pdf in orders.items():
        for parts in (1, 3):
            spec_df = spark.createDataFrame(pdf, schema).repartition(parts)
            engine = SparkCrawlEngine(spark, str(tmp_path / f"{tag}{parts}"), seed=SEED)
            engine.init_run(domains, spec_df)
            rows = engine.read_table("domain_state").collect()
            assert len(rows) == len(specs)
            assert engine.catalog.load()["runnable"] == len(rows)
            info = {r["domain"]: json.loads(r["info_json"]) for r in rows}
            stored.add((info[target]["crawl_depth"], tuple(info[target]["seed_urls"])))
    candidates = [(deep, list(specs["seed_urls"].iloc[0]))] + [
        (r["crawl_depth"], r["seed_urls"]) for r in extra.to_dict("records")
    ]
    depth, seeds = min(candidates, key=lambda c: (-c[0], c[1]))
    assert stored == {(depth, tuple(seeds))}
