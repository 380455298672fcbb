"""Snapshot time travel: roll the catalog back to an earlier wave and
re-run — the final state must equal an uninterrupted run (the EP3
WARC-resynchronization analogue: the tables at the snapshot ARE the
resync state)."""

import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.sources.synthetic_web import (
    generate_web,
    spark_schemas,
    web_to_frames,
)

SEED = 42


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


def test_rollback_and_rerun(spark, tmp_path):
    web, _ = generate_web(seed=SEED, n_domains=8, mean_pages=10)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    # golden uninterrupted run
    g = SparkCrawlEngine(spark, str(tmp_path / "gold"), seed=SEED, n_buckets=4)
    g.init_run(domains, specs)
    g.run_waves(pages, wave_budget=6)
    golden = _visits(g)

    # second run: crawl fully, roll back to wave 2, rerun from there
    e = SparkCrawlEngine(spark, str(tmp_path / "rb"), seed=SEED, n_buckets=4)
    e.init_run(domains, specs)
    e.run_waves(pages, wave_budget=6)
    latest = e.catalog.latest_snapshot()
    assert latest is not None and latest > 2

    e.catalog.rollback_to(2)
    assert e.catalog.latest_snapshot() == 2

    # a fresh engine resumes from the rolled-back snapshot
    e2 = SparkCrawlEngine(spark, str(tmp_path / "rb"), seed=SEED, n_buckets=4)
    e2.run_waves(pages, wave_budget=6)
    assert _visits(e2) == golden


def _page(domain, path, links=()):
    return {
        "domain": domain, "path": path, "param": None,
        "url": f"https://{domain}{path}", "status": 200, "redirect_to": None,
        "content_type": "text/html", "image_id": None, "base_href": None,
        "links": list(links), "feed_links": [], "body_marker": None,
        "etag": None, "last_modified": None, "body_text": None,
    }


def _digest(df, cols):
    if df is None:
        return None
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
    return hashlib.sha1(repr(rows).encode()).hexdigest()


def _state_digests(engine):
    """Digests of the state views and of fetch_log (its token-budget
    offsets are computed from the state when it is read)."""
    return (
        _digest(
            engine.read_table("frontier"),
            ["domain", "bucket", "url_hash", "url", "seq", "state"],
        ),
        _digest(
            engine.read_table("domain_state"),
            ["domain", "top_domain", "info_json", "phase", "state_json"],
        ),
        _digest(
            engine.read_table("fetch_log"),
            ["domain", "url", "action", "http_status", "virtual_ms", "idx", "wave"],
        ),
    )


def test_merge_on_read_time_travel(spark, tmp_path):
    """frontier and domain_state are merge-on-read views over wave_out, and
    fetch_log's offsets are a view over the state.  Planted: a domain poisoned after wave 1 (its wave-2 fault barrier emits
    no frontier rows, so it keeps its wave-1 rows) and a permit-held member
    (example.net has 2 permits, 3 members).  Every snapshot's views are
    reproduced by rollback_to and by compaction, and a fresh engine resumed
    from a rolled-back snapshot finishes with the uninterrupted visits."""
    import pandas as pd

    from marginaliasearch_spark.sources.synthetic_web import normalize_pages_pdf

    doms = ["a1.example.net", "a2.example.net", "a3.example.net",
            "victim.example.org", "solo.example.com"]
    rows = []
    for d in doms:
        rows.append(_page(d, "/", links=[f"/p{k}.html" for k in range(5)]))
        rows += [_page(d, f"/p{k}.html") for k in range(5)]
    drows = [
        {
            "domain": d, "top_domain": d.split(".", 1)[1], "proto": "https",
            "probe": "ok", "robots_txt": None, "site_kind": "default",
            "crawl_depth": 100, "seed_urls": [], "sitemap_urls": [],
            "generator_meta": "", "has_lemmy_config": False,
        }
        for d in doms
    ]
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(normalize_pages_pdf(pd.DataFrame(rows)), schema=ps)
    domains = spark.createDataFrame(pd.DataFrame(drows), schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    def wave(engine):
        return engine.run_waves(pages, wave_budget=2, max_waves=1, group_key="top_domain")

    out = str(tmp_path / "mor")
    e = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e.init_run(domains, specs)
    digests = {0: _state_digests(e)}
    phases = {}
    while wave(e):
        n = e.catalog.latest_snapshot()
        if n == 1:
            # poison the victim's latest state: wave 2's UDF throws for it
            dpath = os.path.join(e.catalog.paths("wave_out")[-1], "row_kind=domain_state")
            ds1 = spark.read.parquet(dpath)
            bad = ds1.withColumn(
                "state_json",
                F.when(F.col("domain") == "victim.example.org", F.lit("{not json"))
                .otherwise(F.col("state_json")),
            )
            tmp = str(tmp_path / "poisoned")
            bad.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(dpath)
            shutil.copytree(tmp, dpath)
            victim_rows = (
                e.read_table("frontier").filter(F.col("domain") == "victim.example.org").collect()
            )
        digests[n] = _state_digests(e)
        phases[n] = {r["domain"]: r["phase"] for r in e.read_table("domain_state").collect()}
    latest = e.catalog.latest_snapshot()
    assert latest >= 4
    # planted cases happened: a3 waited for a permit while a1/a2 crawled,
    # and the victim faulted but kept its wave-1 frontier rows
    assert phases[1]["a3.example.net"] == "pending"
    assert phases[1]["a1.example.net"] == phases[1]["a2.example.net"] == "active"
    assert phases[latest]["victim.example.org"] == "error"
    assert victim_rows
    assert sorted(
        map(repr, e.read_table("frontier").filter(F.col("domain") == "victim.example.org").collect())
    ) == sorted(map(repr, victim_rows))
    golden = _visits(e)

    assert e.compact_wave_out()
    assert _state_digests(SparkCrawlEngine(spark, out)) == digests[latest]
    for n in range(latest, -1, -1):
        e.catalog.rollback_to(n)
        assert _state_digests(SparkCrawlEngine(spark, out)) == digests[n], n
        if n == 1:
            # resume from snapshot 1 (the poisoned state is still live),
            # then roll back to it again for the remaining checks
            r = SparkCrawlEngine(spark, out)
            while wave(r):
                pass
            assert _visits(r) == golden
            assert _state_digests(r) == digests[latest]
            assert r.compact_wave_out()
            assert _state_digests(r) == digests[latest]
            r.catalog.rollback_to(1)


def test_run_waves_folds_the_wave_out_list(spark, tmp_path, monkeypatch):
    """run_waves folds the committed wave_out dirs once their list reaches
    FOLD_WAVES: a run of more than twice that many waves never commits a
    longer list, and its visits and state equal a run that never folds."""
    import pandas as pd

    from marginaliasearch_spark.plans import crawl
    from marginaliasearch_spark.sources.synthetic_web import normalize_pages_pdf

    n = 2 * crawl.FOLD_WAVES + 3
    chain = "chain.example.com"  # one fetch per wave along a link chain
    rows = [_page(chain, "/", links=["/p0.html"])]
    rows += [_page(chain, f"/p{k}.html", links=[f"/p{k + 1}.html"]) for k in range(n)]
    wide = "wide.example.org"  # a frontier that drains over the same waves
    rows.append(_page(wide, "/", links=[f"/w{k}.html" for k in range(n)]))
    rows += [_page(wide, f"/w{k}.html") for k in range(n)]
    drows = [
        {
            "domain": d, "top_domain": d.split(".", 1)[1], "proto": "https",
            "probe": "ok", "robots_txt": None, "site_kind": "default",
            "crawl_depth": 1000, "seed_urls": [], "sitemap_urls": [],
            "generator_meta": "", "has_lemmy_config": False,
        }
        for d in (chain, wide)
    ]
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(normalize_pages_pdf(pd.DataFrame(rows)), schema=ps)
    domains = spark.createDataFrame(pd.DataFrame(drows), schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    def run(out):
        e = SparkCrawlEngine(spark, str(tmp_path / out), seed=SEED, n_buckets=4)
        e.init_run(domains, specs)
        waves = e.run_waves(pages, wave_budget=1)
        lists = [e.catalog.load(s)["tables"] for s in e.catalog._snapshots()]
        return e, waves, lists

    folds, waves, lists = run("folds")
    assert waves > 2 * crawl.FOLD_WAVES
    assert max(len(t["wave_out"]) for t in lists) == crawl.FOLD_WAVES
    assert len({p for t in lists for p in t["wave_out_compacted"]}) >= 2

    monkeypatch.setattr(crawl, "FOLD_WAVES", 10**9)
    plain, plain_waves, plain_lists = run("plain")
    assert plain_waves == waves
    assert max(len(t["wave_out"]) for t in plain_lists) == waves
    assert _visits(folds) == _visits(plain)
    assert _state_digests(folds) == _state_digests(plain)
