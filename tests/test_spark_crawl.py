"""The correctness gate: the distributed Spark crawl must reproduce the
single-threaded oracle exactly — per-domain crawl order, URL-seen set,
crawl_data rows — under the same seed, for both run-to-completion and
budgeted multi-wave execution, and across a kill/resume boundary."""

import json
import re

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.oracle import OracleCrawler
from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.sources.synthetic_web import (
    normalize_pages_pdf,
    generate_web,
    spark_schemas,
    web_to_frames,
)

SEED = 42
N_DOMAINS = 12


@pytest.fixture(scope="module")
def web():
    w, _ = generate_web(seed=SEED, n_domains=N_DOMAINS, mean_pages=12)
    return w


@pytest.fixture(scope="module")
def web_dfs(spark, web):
    pages_pdf, domains_pdf = web_to_frames(web)
    pages_schema, domains_schema = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=pages_schema)
    domains = spark.createDataFrame(domains_pdf, schema=domains_schema)
    specs = domains.select(
        "domain", "crawl_depth", F.col("seed_urls").alias("seed_urls")
    )
    return pages, domains, specs


@pytest.fixture(scope="module")
def golden(web):
    oracle = OracleCrawler(web, seed=SEED)
    return {d: oracle.crawl_domain(d) for d in sorted(web.domains)}


def _assert_matches_oracle(engine, golden):
    # visit order per domain (sort inside the aggregation — collect_list
    # order after orderBy is not a contract)
    visits = (
        engine.read_table("visits")
        .groupBy("domain")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("wave", "idx", "url"))),
                lambda s: s["url"],
            ).alias("urls")
        )
        .collect()
    )
    spark_visits = {r["domain"]: list(r["urls"]) for r in visits}
    for d, g in golden.items():
        got = spark_visits.get(d, [])
        assert got == g.visited_order, f"visit order mismatch for {d}"

    # URL-seen set (hash → visited flag) from the frontier table
    fr = engine.read_table("frontier").collect()
    spark_seen: dict = {}
    for r in fr:
        if r["state"] in ("VISITED", "KNOWN", "REFUSED"):
            spark_seen.setdefault(r["domain"], {})[r["url_hash"]] = r["state"] == "VISITED"
        elif r["state"] == "QUEUED":
            pass
    for d, g in golden.items():
        if g.result in ("crawled",):
            assert spark_seen.get(d, {}) == g.seen_hashes, f"seen-set mismatch for {d}"

    # crawl_data rows, ordered by (wave, idx) per domain
    cd = (
        engine.read_table("crawl_data")
        .groupBy("domain")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("wave", "idx", "url", "http_status", "image_id"))
                ),
                lambda s: F.struct(s["url"], s["http_status"], s["image_id"]),
            ).alias("rows")
        )
        .collect()
    )
    spark_cd = {
        r["domain"]: [(x[0], x[1], x[2]) for x in r["rows"]] for r in cd
    }
    for d, g in golden.items():
        want = [(x["url"], x["http_status"], x["image_id"]) for x in g.crawl_data]
        assert spark_cd.get(d, []) == want, f"crawl_data mismatch for {d}"

    # terminal phases
    ds = engine.read_table("domain_state").collect()
    phases = {r["domain"]: r["phase"] for r in ds}
    for d, g in golden.items():
        expect = {"crawled": "done"}.get(g.result, g.result)
        assert phases[d] == expect, f"phase mismatch for {d}"

    # virtual politeness clock
    for r in ds:
        d = r["domain"]
        st = json.loads(r["state_json"]) if r["state_json"] else {}
        if golden[d].result == "crawled":
            assert st.get("clock_ms") == golden[d].virtual_ms, f"clock mismatch for {d}"


def test_single_wave_run_matches_oracle(spark, web_dfs, golden, tmp_path_factory):
    pages, domains, specs = web_dfs
    out = str(tmp_path_factory.mktemp("crawl_single"))
    engine = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
    engine.init_run(domains, specs)
    waves = engine.run_waves(pages, wave_budget=None)
    assert waves <= 2  # setup+run in wave 1, wave 2 observes no actives
    _assert_matches_oracle(engine, golden)


def test_budgeted_waves_match_oracle(spark, web_dfs, golden, tmp_path_factory):
    pages, domains, specs = web_dfs
    out = str(tmp_path_factory.mktemp("crawl_waves"))
    engine = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
    engine.init_run(domains, specs)
    waves = engine.run_waves(pages, wave_budget=8)
    assert waves > 1
    _assert_matches_oracle(engine, golden)


def test_kill_and_resume(spark, web_dfs, golden, tmp_path_factory):
    pages, domains, specs = web_dfs
    out = str(tmp_path_factory.mktemp("crawl_resume"))
    engine = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
    engine.init_run(domains, specs)
    # run only 2 waves, then "crash"
    engine.run_waves(pages, wave_budget=4, max_waves=2)

    # new engine instance = restarted driver; resumes from last snapshot
    engine2 = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
    engine2.run_waves(pages, wave_budget=4)
    _assert_matches_oracle(engine2, golden)


def test_wave_jobs_carry_caller_job_group(spark, web_dfs, tmp_path_factory):
    """Every job of a wave belongs to the caller's job group, so
    cancelJobGroup and per-group job accounting cover the whole wave."""
    pages, domains, specs = web_dfs
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("wave-job-group-test", "two-wave crawl")
    try:
        out = str(tmp_path_factory.mktemp("crawl_job_group"))
        engine = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
        engine.init_run(domains, specs)
        assert engine.run_waves(pages, wave_budget=4, max_waves=2) == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("wave-job-group-test")
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped


def _first_exchanges_under_cogroup(plan: str) -> list[str]:
    """Arguments of the first Exchange on each side of the wave cogroup, in
    a formatted plan's Initial Plan tree."""
    tree = plan.split("+- == Initial Plan ==")[1].split("\n\n")[0].splitlines()
    nodes = []  # (depth, name, id)
    for line in tree[1:]:
        m = re.match(r"^([ :|+-]*)(\w[\w ]*?) \((\d+)\)", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2), m.group(3)))
    i = next(k for k, n in enumerate(nodes) if n[1] == "FlatMapCoGroupsInArrow")
    depth = nodes[i][0]
    firsts, seen_side = [], False
    for d, name, nid in nodes[i + 1:]:
        if d <= depth:
            break
        if d == depth + 3:  # a direct child starts a new side
            seen_side = False
        if name == "Exchange" and not seen_side:
            seen_side = True
            args = re.search(rf"\({nid}\) Exchange\n(?:.*\n)*?Arguments: (.*)", plan)
            firsts.append(args.group(1))
    return firsts


def test_wave_sets_its_own_width(spark, web_dfs, golden, tmp_path_factory):
    """At spark.sql.shuffle.partitions=200 the wave still runs at most
    defaultParallelism Python tasks: both cogroup sides are repartitioned
    on domain at the wave's own width, with no exchange between that
    repartition and the cogroup, and the crawl is unchanged."""
    pages, domains, specs = web_dfs
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = str(tmp_path_factory.mktemp("crawl_width"))
    engine = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
    engine.init_run(domains, specs)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    sc.setJobGroup("wave-width-test", "one wave at 200 shuffle partitions")
    try:
        assert engine.run_waves(pages, wave_budget=None) == 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tasks = [
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup("wave-width-test")
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    ]
    assert tasks and max(tasks) <= sc.defaultParallelism

    store = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        p
        for p in (store.apply(k).physicalPlanDescription() for k in range(store.size()))
        if "FlatMapCoGroupsInArrow" in p and out in p
    ]
    assert plans
    firsts = _first_exchanges_under_cogroup(plans[-1])
    assert len(firsts) == 2
    for args in firsts:
        assert "REPARTITION_BY_NUM" in args
        width = int(re.search(r"hashpartitioning\(domain#\d+, (\d+)\)", args).group(1))
        assert width <= sc.defaultParallelism
    _assert_matches_oracle(engine, golden)


def test_crawl_meta(spark, web_dfs, golden, tmp_path_factory):
    pages, domains, specs = web_dfs
    out = str(tmp_path_factory.mktemp("crawl_meta"))
    engine = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
    engine.init_run(domains, specs)
    engine.run_waves(pages, wave_budget=None)
    meta = {r["domain"]: r for r in engine.crawl_meta().collect()}
    for d, g in golden.items():
        if g.result == "crawled":
            assert meta[d]["visited_cnt"] == len(g.seen_hashes and
                [h for h, v in g.seen_hashes.items() if v])
            assert meta[d]["error_count"] == g.error_count


def test_refused_state_survives_compaction(spark, tmp_path):
    """REFUSED rows persist in the frontier after the domain terminates
    (lineage for the WARC-resync refused-re-probe, ref:
    CrawlerWarcResynchronizer.java:70-78)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
    from marginaliasearch_spark.sources.synthetic_web import spark_schemas

    d = "refuse.example.com"
    rows = [
        {
            "domain": d, "path": "/", "param": None, "url": f"https://{d}/",
            "status": 200, "redirect_to": None, "content_type": "text/html",
            "image_id": None, "base_href": None,
            "links": ["/private/x.html", "/ok.html"], "feed_links": [],
            "body_marker": None, "etag": None, "last_modified": None,
            "body_text": None,
        },
        {
            "domain": d, "path": "/ok.html", "param": None,
            "url": f"https://{d}/ok.html", "status": 200, "redirect_to": None,
            "content_type": "text/html", "image_id": None, "base_href": None,
            "links": [], "feed_links": [], "body_marker": None, "etag": None,
            "last_modified": None, "body_text": None,
        },
    ]
    drows = [{
        "domain": d, "top_domain": "example.com", "proto": "https",
        "probe": "ok", "robots_txt": "User-agent: *\nDisallow: /private/\n",
        "site_kind": "default", "crawl_depth": 100, "seed_urls": [],
        "sitemap_urls": [], "generator_meta": "", "has_lemmy_config": False,
    }]
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(normalize_pages_pdf(pd.DataFrame(rows)), schema=ps)
    doms = spark.createDataFrame(pd.DataFrame(drows), schema=ds)
    eng = SparkCrawlEngine(spark, str(tmp_path / "rf"), seed=42, n_buckets=4)
    eng.init_run(doms, doms.select("domain", "crawl_depth", "seed_urls"))
    eng.run_waves(pages, wave_budget=None)

    fr = eng.read_table("frontier")
    states = {r["state"] for r in fr.collect()}
    assert "REFUSED" in states  # /private/x.html refusal survives compaction
    assert fr.filter(F.col("state") == "QUEUED").count() == 0  # compacted


def test_refused_reprobe_candidates(spark, tmp_path):
    """REFUSED rows keep their url; the re-probe selector returns a
    deterministic hash-sampled subset of them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
    from marginaliasearch_spark.sources.synthetic_web import spark_schemas

    d = "reprobe.example.com"
    links = [f"/private/x{k}.html" for k in range(40)] + ["/ok.html"]
    rows = [
        {
            "domain": d, "path": "/", "param": None, "url": f"https://{d}/",
            "status": 200, "redirect_to": None, "content_type": "text/html",
            "image_id": None, "base_href": None, "links": links,
            "feed_links": [], "body_marker": None, "etag": None,
            "last_modified": None, "body_text": None,
        },
    ]
    drows = [{
        "domain": d, "top_domain": "example.com", "proto": "https",
        "probe": "ok", "robots_txt": "User-agent: *\nDisallow: /private/\n",
        "site_kind": "default", "crawl_depth": 100, "seed_urls": [],
        "sitemap_urls": [], "generator_meta": "", "has_lemmy_config": False,
    }]
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(normalize_pages_pdf(pd.DataFrame(rows)), schema=ps)
    doms = spark.createDataFrame(pd.DataFrame(drows), schema=ds)
    eng = SparkCrawlEngine(spark, str(tmp_path / "rp"), seed=42, n_buckets=4)
    eng.init_run(doms, doms.select("domain", "crawl_depth", "seed_urls"))
    eng.run_waves(pages, wave_budget=None)

    refused = eng.read_table("frontier").filter(F.col("state") == "REFUSED")
    n_refused = refused.count()
    assert n_refused == 40
    assert refused.filter(F.col("url").isNull()).count() == 0  # urls retained

    cand = eng.refused_reprobe_candidates(probe_fraction=0.1)
    got = sorted(r["url"] for r in cand.collect())
    assert 0 < len(got) < n_refused  # a strict, non-empty subset at n=40
    # deterministic: same selection on re-read
    again = sorted(r["url"] for r in eng.refused_reprobe_candidates(0.1).collect())
    assert got == again
    refused_urls = {r["url"] for r in refused.collect()}
    assert set(got) <= refused_urls


def test_one_wave_plan_is_small(spark, web_dfs, golden, tmp_path_factory, monkeypatch):
    """A wave plans from its snapshot: a one-wave run submits at most 4
    jobs (the runnable set's broadcast, the two cogroup sides' map stages,
    the UDF and write), its write plan holds exactly one broadcast
    exchange, and init_run + run_waves plan in at most 300 py4j round
    trips."""
    import threading

    import py4j.clientserver

    pages, domains, specs = web_dfs
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = str(tmp_path_factory.mktemp("crawl_plan"))
    engine = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
    round_trips = [0]
    send = py4j.clientserver.ClientServerConnection.send_command
    planner = threading.get_ident()

    def counted(self, command):
        # py4j's finalizer thread sends object-release commands on its
        # own, asynchronously: the plans are built by the calling thread
        round_trips[0] += threading.get_ident() == planner
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
    engine.init_run(domains, specs)
    sc.setJobGroup("one-wave-plan-test", "one wave")
    try:
        assert engine.run_waves(pages, wave_budget=None) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        monkeypatch.undo()
    assert round_trips[0] <= 300
    assert 0 < len(tracker.getJobIdsForGroup("one-wave-plan-test")) <= 4

    store = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        p
        for p in (store.apply(k).physicalPlanDescription() for k in range(store.size()))
        if "FlatMapCoGroupsInArrow" in p and out in p
    ]
    assert plans
    final = plans[-1].split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bBroadcastExchange \(\d+\)", final)) == 1
    _assert_matches_oracle(engine, golden)
