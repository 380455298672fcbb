"""wave_out compaction + snapshot expiry (the rewrite_data_files /
expire_snapshots analogues): views identical before/after, resume
continues across a mid-crawl compaction, expiry reclaims folded files."""

import os

from pyspark.sql import functions as F

from marginaliasearch_spark.plans import crawl
from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.sources.synthetic_web import (
    generate_web,
    spark_schemas,
    web_to_frames,
)

SEED = 42


def _mkweb(spark, n_domains=8, mean_pages=10):
    web, _ = generate_web(seed=SEED, n_domains=n_domains, mean_pages=mean_pages)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    return pages, domains, domains.select("domain", "crawl_depth", "seed_urls")


def _view_state(engine):
    out = {}
    for t in ("fetch_log", "crawl_data", "visits", "edges"):
        df = engine.read_table(t)
        out[t] = sorted(tuple(r) for r in df.collect()) if df is not None else None
    return out


def test_compaction_preserves_views_and_expiry_reclaims(spark, tmp_path):
    pages, domains, specs = _mkweb(spark)
    eng = SparkCrawlEngine(spark, str(tmp_path / "run"), seed=SEED, n_buckets=4)
    eng.init_run(domains, specs)
    waves = eng.run_waves(pages, wave_budget=3)
    assert waves > 3  # genuinely multi-wave

    before = _view_state(eng)
    n_wave_dirs = len(eng.catalog.paths("wave_out"))
    # run_waves folds the list itself every FOLD_WAVES waves
    assert n_wave_dirs == (waves - 1) % crawl.FOLD_WAVES + 1

    cpath = eng.compact_wave_out()
    assert cpath and os.path.isdir(cpath)
    assert eng.catalog.paths("wave_out") == []  # append list truncated
    assert eng.catalog.paths("wave_out_compacted") == [cpath]
    assert _view_state(eng) == before  # every view identical

    # double-compaction with nothing new is a no-op
    assert eng.compact_wave_out() is None

    # pre-compaction snapshots still reference the original files (time
    # travel intact) ... until expiry reclaims them
    removed = eng.expire_snapshots(keep_last=1)
    assert removed  # the folded per-wave dirs are gone
    assert all(not os.path.exists(p) for p in removed)
    assert _view_state(eng) == before  # latest snapshot unaffected


def test_resume_across_mid_crawl_compaction(spark, tmp_path):
    pages, domains, specs = _mkweb(spark)

    # reference: uninterrupted run
    ref = SparkCrawlEngine(spark, str(tmp_path / "ref"), seed=SEED, n_buckets=4)
    ref.init_run(domains, specs)
    ref.run_waves(pages, wave_budget=3)
    want = {
        (r["domain"], r["url"]) for r in ref.read_table("visits").collect()
    }

    # run 2 waves, compact mid-crawl, resume with a FRESH engine
    out = str(tmp_path / "mid")
    e1 = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e1.init_run(domains, specs)
    e1.run_waves(pages, wave_budget=3, max_waves=2)
    e1.compact_wave_out()
    e2 = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e2.run_waves(pages, wave_budget=3)
    got = {(r["domain"], r["url"]) for r in e2.read_table("visits").collect()}
    assert got == want
    # the resumed run's log spans compacted AND post-compaction waves
    log_waves = {
        r["wave"]
        for r in e2.read_table("fetch_log").select("wave").distinct().collect()
    }
    assert len(log_waves) >= 3


def test_compaction_keeps_fetch_log_offsets_join(spark, tmp_path):
    """Budget mode's offsets join still applies over the compacted view,
    and after the expiry that ``submit_crawl.py --compact`` runs next."""
    pages, domains, specs = _mkweb(spark, n_domains=12)
    eng = SparkCrawlEngine(spark, str(tmp_path / "td"), seed=SEED, n_buckets=4)
    eng.init_run(domains, specs)
    eng.run_waves(pages, wave_budget=None, group_key="top_domain")
    before = sorted(
        tuple(r) for r in eng.read_table("fetch_log").collect()
    )
    eng.compact_wave_out()
    after = sorted(tuple(r) for r in eng.read_table("fetch_log").collect())
    assert after == before
    assert eng.expire_snapshots(keep_last=1)
    expired = sorted(tuple(r) for r in eng.read_table("fetch_log").collect())
    assert expired == before
