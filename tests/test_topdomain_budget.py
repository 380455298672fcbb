"""Top-domain-grouped waves: per-top-domain token budgets on the virtual
clock (substack=1 permit → serial; default=2), with per-domain order and
seen-set identical to domain-grouped execution."""

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.plans.crawl import SparkCrawlEngine, _schedule_offsets
from marginaliasearch_spark.sources.synthetic_web import (
    normalize_pages_pdf,
    generate_web,
    spark_schemas,
    web_to_frames,
)

SEED = 42


def test_schedule_offsets_semantics():
    # permit=1: strictly serial with 1s cadence
    offs = _schedule_offsets([("a", 5000), ("b", 3000), ("c", 2000)], permits=1)
    assert offs["a"] == 0
    assert offs["b"] == 5000
    assert offs["c"] == 8000
    # permits=2: a,b start (b at cadence 1000), c waits for the first slot
    offs = _schedule_offsets([("a", 5000), ("b", 3000), ("c", 2000)], permits=2)
    assert offs["a"] == 0
    assert offs["b"] == 1000
    assert offs["c"] == 4000  # b's slot frees at 4000


def test_topdomain_grouping_equivalence(spark, tmp_path):
    web, _ = generate_web(seed=SEED, n_domains=12, mean_pages=10)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    def visits_of(engine):
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

    e1 = SparkCrawlEngine(spark, str(tmp_path / "dom"), seed=SEED, n_buckets=4)
    e1.init_run(domains, specs)
    e1.run_waves(pages, wave_budget=None, group_key="domain")

    e2 = SparkCrawlEngine(spark, str(tmp_path / "td"), seed=SEED, n_buckets=4)
    e2.init_run(domains, specs)
    e2.run_waves(pages, wave_budget=None, group_key="top_domain")

    assert visits_of(e1) == visits_of(e2)

    # seen-sets identical too
    def seen_of(engine):
        out = {}
        for r in engine.read_table("frontier").collect():
            if r["state"] in ("VISITED", "KNOWN", "REFUSED"):
                out.setdefault(r["domain"], {})[r["url_hash"]] = r["state"] == "VISITED"
        return out

    assert seen_of(e1) == seen_of(e2)

    # budget effect visible in the audit trail: fetch_log timestamps of the
    # second same-top-domain member are offset past the first's start
    log = e2.read_table("fetch_log").toPandas()
    by_domain_start = log.groupby("domain")["virtual_ms"].min()
    from marginaliasearch_spark.canon.domain import top_domain_of

    tops = {}
    for d, start in by_domain_start.items():
        tops.setdefault(top_domain_of(d), []).append(start)
    offset_groups = [v for v in tops.values() if len(v) > 1]
    if offset_groups:
        assert any(max(v) - min(v) >= 1000 for v in offset_groups)

def test_hundred_member_topdomain_budget_and_parallelism(spark, tmp_path):
    """A blogspot.com-scale top-domain (100 members, permits=8): the wave
    spreads members across per-domain tasks (no serial mega-group), and the
    offsets view reproduces the greedy permit schedule exactly —
    ≤8 concurrent members, ≥1 s grant cadence."""
    import pandas as pd

    from marginaliasearch_spark.operators.scheduling import TOP_DOMAIN_PERMITS

    n = 100
    rows, drows = [], []
    for i in range(n):
        d = f"m{i}.blogspot.com"
        drows.append({
            "domain": d, "top_domain": "blogspot.com", "proto": "https",
            "probe": "ok", "robots_txt": None, "site_kind": "blogspot",
            "crawl_depth": 50, "seed_urls": [], "sitemap_urls": [],
            "generator_meta": "", "has_lemmy_config": False,
        })
        rows.append({
            "domain": d, "path": "/", "param": None, "url": f"https://{d}/",
            "status": 200, "redirect_to": None, "content_type": "text/html",
            "image_id": None, "base_href": None,
            "links": [f"/p{i % 3}.html"], "feed_links": [], "body_marker": None,
            "etag": None, "last_modified": None, "body_text": None,
        })
        rows.append({
            "domain": d, "path": f"/p{i % 3}.html", "param": None,
            "url": f"https://{d}/p{i % 3}.html", "status": 200,
            "redirect_to": None, "content_type": "text/html", "image_id": None,
            "base_href": None, "links": [], "feed_links": [],
            "body_marker": None, "etag": None, "last_modified": None,
            "body_text": None,
        })
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(normalize_pages_pdf(pd.DataFrame(rows)), schema=ps)
    doms = spark.createDataFrame(pd.DataFrame(drows), schema=ds)
    eng = SparkCrawlEngine(spark, str(tmp_path / "big"), seed=SEED, n_buckets=8)
    eng.init_run(doms, doms.select("domain", "crawl_depth", "seed_urls"))
    eng.run_waves(pages, wave_budget=None, group_key="top_domain")

    # offsets view: one row per member
    off = eng.read_table("wave_offsets")
    assert off is not None, "budget mode schedules offsets"
    offs = {r["domain"]: r["offset_ms"] for r in off.collect()}
    assert len(offs) == n

    # exact budget semantics: recompute the greedy schedule from the
    # engine's own per-domain durations
    durs = {
        r["domain"]: int(r["crawl_time_ms"])
        for r in eng.crawl_meta().select("domain", "crawl_time_ms").collect()
    }
    expected = _schedule_offsets(sorted(durs.items()), TOP_DOMAIN_PERMITS["blogspot.com"])
    assert offs == expected

    # schedule validity: ≥1 s cadence between grants, ≤ permits concurrent
    starts = sorted(offs.values())
    assert all(b - a >= 1000 for a, b in zip(starts, starts[1:]))
    events = []
    for d, off in offs.items():
        events.append((off, 1))
        events.append((off + max(durs[d], 0), -1))
    events.sort()
    cur = peak = 0
    for _, delta in events:
        cur += delta
        peak = max(peak, cur)
    assert peak <= TOP_DOMAIN_PERMITS["blogspot.com"]

    # multi-task execution: the wave groups by DOMAIN, so the physical plan
    # has no top_domain mega-group; assert the fetch_log audit trail spans
    # the permit schedule (first member at 0, last far beyond one serial slot)
    log = eng.read_table("fetch_log").toPandas()
    dstart = log.groupby("domain")["virtual_ms"].min()
    assert dstart.min() >= 0
    assert (dstart > 10_000).any()  # later members genuinely queued behind permits

    # PHYSICAL permit enforcement: per wave, at most `permits` members of
    # the top-domain actually advanced (emitted a domain_state row) — the
    # semaphore bound holds in the fetch path, not only in the offsets
    # audit model (LocalDomainCoordinator.java:22-122)
    permits = TOP_DOMAIN_PERMITS["blogspot.com"]
    wave_paths = eng.catalog.paths("wave_out")
    assert len(wave_paths) >= (n + permits - 1) // permits
    advanced_total: set = set()
    for p in wave_paths:
        adv = {
            r["domain"]
            for r in spark.read.parquet(p)
            .filter(F.col("row_kind") == "domain_state")
            .select("domain")
            .collect()
        }
        assert len(adv) <= permits, f"{len(adv)} members ran in one wave ({p})"
        advanced_total |= adv
    assert advanced_total == set(offs)  # every member eventually ran exactly once each slot grant


def test_multiwave_budget_offsets_consistent(spark, tmp_path):
    """wave_budget + top_domain mode: the offsets are scheduled from
    CUMULATIVE durations (one offset per domain for the run), so the
    shifted audit trail stays monotonic per domain and the permit
    schedule holds across waves."""
    web, _ = generate_web(seed=SEED, n_domains=12, mean_pages=10)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    e = SparkCrawlEngine(spark, str(tmp_path / "mw"), seed=SEED, n_buckets=4)
    e.init_run(domains, specs)
    waves = e.run_waves(pages, wave_budget=4, group_key="top_domain")
    assert waves > 2  # genuinely multi-wave

    log = e.read_table("fetch_log").toPandas()
    # per-domain shifted trail is monotone in (wave, idx) order
    for d, grp in log.sort_values(["wave", "idx"]).groupby("domain"):
        v = grp["virtual_ms"].to_numpy()
        assert (v[1:] >= v[:-1]).all(), f"non-monotonic audit trail for {d}"

    # the final offsets equal the greedy schedule of TOTAL durations
    from marginaliasearch_spark.canon.domain import top_domain_of
    from marginaliasearch_spark.operators.scheduling import (
        DEFAULT_PERMITS,
        TOP_DOMAIN_PERMITS,
    )

    offs = {r["domain"]: r["offset_ms"] for r in e.read_table("wave_offsets").collect()}
    durs = {
        r["domain"]: int(r["crawl_time_ms"] or 0)
        for r in e.crawl_meta().select("domain", "crawl_time_ms").collect()
        if (r["crawl_time_ms"] or 0) > 0
    }
    by_top: dict = {}
    for d, dur in durs.items():
        by_top.setdefault(top_domain_of(d), []).append((d, dur))
    expected: dict = {}
    for top, items in by_top.items():
        permits = TOP_DOMAIN_PERMITS.get(top, DEFAULT_PERMITS)
        expected.update(_schedule_offsets(sorted(items), permits))
    assert offs == expected


def test_mixed_mode_offsets_follow_the_state(spark, tmp_path):
    """domain waves, then top_domain waves, then one domain wave: fetch_log
    applies no offsets until a top_domain wave has run; from then on, at
    every snapshot, it shifts each domain's trail by the greedy schedule of
    the cumulative durations at that snapshot.  After the closing domain
    wave that is the whole run's clocks, not the last budgeted wave's
    schedule, so the offsets move with the domains that wave advanced."""
    import os

    from marginaliasearch_spark.operators.scheduling import (
        DEFAULT_PERMITS,
        TOP_DOMAIN_PERMITS,
    )

    import pandas as pd

    # 3 members of a 2-permit top-domain and 2 of a 1-permit one, each a
    # 21-page site: many waves at wave_budget=3, so the budgeted waves
    # hold members back and the closing domain wave advances them all
    doms = ["a1.example.net", "a2.example.net", "a3.example.net",
            "s1.substack.com", "s2.substack.com"]
    rows, drows = [], []
    for d in doms:
        for path, links in [("/", [f"/p{k}.html" for k in range(20)])] + [
            (f"/p{k}.html", []) for k in range(20)
        ]:
            rows.append({
                "domain": d, "path": path, "param": None, "url": f"https://{d}{path}",
                "status": 200, "redirect_to": None, "content_type": "text/html",
                "image_id": None, "base_href": None, "links": links, "feed_links": [],
                "body_marker": None, "etag": None, "last_modified": None, "body_text": None,
            })
        drows.append({
            "domain": d, "top_domain": d.split(".", 1)[1], "proto": "https",
            "probe": "ok", "robots_txt": None, "site_kind": "default",
            "crawl_depth": 100, "seed_urls": [], "sitemap_urls": [],
            "generator_meta": "", "has_lemmy_config": False,
        })
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(normalize_pages_pdf(pd.DataFrame(rows)), schema=ps)
    domains = spark.createDataFrame(pd.DataFrame(drows), schema=ds)
    out = str(tmp_path / "mixed")
    e = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e.init_run(domains, domains.select("domain", "crawl_depth", "seed_urls"))

    def schedule():
        state = e.read_table("domain_state").select(
            "domain", "top_domain",
            F.get_json_object("state_json", "$.clock_ms").cast("long").alias("ms"),
        )
        by_top: dict = {}
        for r in state.collect():
            if (r["ms"] or 0) > 0:
                by_top.setdefault(r["top_domain"], []).append((r["domain"], r["ms"]))
        offs: dict = {}
        for top, items in by_top.items():
            permits = TOP_DOMAIN_PERMITS.get(top, DEFAULT_PERMITS)
            offs.update(_schedule_offsets(sorted(items), permits))
        return offs

    def check(budgeted):
        off = e.read_table("wave_offsets")
        if budgeted:
            offs = {r["domain"]: r["offset_ms"] for r in off.collect()}
            assert offs and offs == schedule()
        else:
            assert off is None
            offs = {}
        raw = (
            spark.read.option("basePath", os.path.join(out, "wave_out"))
            .parquet(*e.catalog.paths("wave_out"))
            .filter(F.col("row_kind") == "fetch_log")
        )
        key = lambda r: (r["domain"], r["wave"], r["idx"])  # noqa: E731
        want = {key(r): r["virtual_ms"] + offs.get(r["domain"], 0) for r in raw.collect()}
        got = {key(r): r["virtual_ms"] for r in e.read_table("fetch_log").collect()}
        assert got == want
        return offs

    def wave(group_key):
        assert e.run_waves(pages, wave_budget=3, max_waves=1, group_key=group_key) == 1

    for _ in range(2):
        wave("domain")
        check(budgeted=False)
    for _ in range(2):
        wave("top_domain")
        last_budgeted = check(budgeted=True)
    wave("domain")
    assert check(budgeted=True) != last_budgeted
