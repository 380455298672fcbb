"""Recrawl/revisit round-2 semantics (CrawlerRevisitor): replaying the
prior crawl with ETag retention, 404 memoization, adaptive skip sampling
(seeded), then BFS discovery — oracle vs Spark engine equivalence."""

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.oracle import OracleCrawler
from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.sources.synthetic_web import (
    generate_web,
    spark_schemas,
    web_to_frames,
)

SEED = 42


@pytest.fixture(scope="module")
def web():
    w, _ = generate_web(seed=SEED, n_domains=8, mean_pages=12)
    return w


@pytest.fixture(scope="module")
def round1(web):
    oracle = OracleCrawler(web, seed=SEED)
    return {d: oracle.crawl_domain(d) for d in sorted(web.domains)}


def test_oracle_recrawl_replays_prior(web, round1):
    oracle = OracleCrawler(web, seed=SEED)
    for d, r1 in round1.items():
        if r1.result != "crawled" or not r1.crawl_data:
            continue
        r2 = oracle.crawl_domain(d, prev_crawl=r1.crawl_data)
        assert r2.recrawl_size >= 0
        # prior URLs come back before BFS discovery; the seen set can only grow
        assert set(h for h, v in r1.seen_hashes.items() if v) <= set(
            h for h, v in r2.seen_hashes.items() if v
        ) or r2.recrawl_size == 0


def test_spark_recrawl_matches_oracle(spark, web, round1, tmp_path_factory):
    # every fifth prior record is stored without a content fingerprint (as
    # a bodiless document is), so the replay input carries null lsh64s
    prev = {
        d: [{**rec, "lsh64": None} if i % 5 == 0 else rec for i, rec in enumerate(r1.crawl_data)]
        for d, r1 in round1.items()
    }
    oracle = OracleCrawler(web, seed=SEED)
    golden = {d: oracle.crawl_domain(d, prev_crawl=(prev[d] or None)) for d in prev}

    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")

    prev_rows = []
    for d, recs in prev.items():
        for i, rec in enumerate(recs):
            prev_rows.append(
                (
                    d,
                    i,
                    rec["url"],
                    rec["http_status"],
                    rec["image_id"],
                    rec["etag"],
                    rec["last_modified"],
                    rec["lsh64"],
                )
            )
    # the replay input must hold a null lsh64 and one past float64's exact
    # range: losing either at the UDF boundary changes the replay's
    # RECRAWL_RETAINED_LSH decisions, which the fetch-log check below sees
    lsh = [r[7] for r in prev_rows]
    assert any(v is None for v in lsh)
    assert any(v is not None and abs(v) >= 2**53 for v in lsh)
    prev_df = spark.createDataFrame(
        prev_rows,
        "domain string, pos long, url string, http_status int, image_id string,"
        " etag string, last_modified string, lsh64 long",
    )

    out = str(tmp_path_factory.mktemp("recrawl"))
    engine = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=8)
    engine.init_run(domains, specs)
    engine.run_waves(pages, wave_budget=None, prev_crawl_df=prev_df)

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
        assert spark_visits.get(d, []) == g.visited_order, f"recrawl visit order {d}"

    log = engine.read_table("fetch_log").orderBy("domain", "wave", "idx").collect()
    spark_log: dict = {}
    for r in log:
        spark_log.setdefault(r["domain"], []).append((r["url"], r["action"]))
    for d, g in golden.items():
        want = [(r["url"], r["action"]) for r in g.fetch_log]
        assert spark_log.get(d, []) == want, f"recrawl fetch log {d}"

    fr = engine.read_table("frontier").collect()
    spark_seen: dict = {}
    for r in fr:
        if r["state"] in ("VISITED", "KNOWN", "REFUSED"):
            spark_seen.setdefault(r["domain"], {})[r["url_hash"]] = r["state"] == "VISITED"
    for d, g in golden.items():
        if g.result == "crawled":
            assert spark_seen.get(d, {}) == g.seen_hashes, f"recrawl seen-set {d}"


# ---------------------------------------------------------------------------
# Conditional-fetch / 304 semantics (CrawlerRetreiver.fetchContentWithReference
# + DocumentWithReference.isSame + ContentTags.paint), on a handcrafted web.
# ---------------------------------------------------------------------------

from marginaliasearch_spark.oracle.session import DomainCrawlSession, DomainInfo, _lsh64_signed
from marginaliasearch_spark.sources.synthetic_web import Page, SyntheticWeb

_RC_DOMAIN = "rc.example.org"
_BODY = "<html><body>" + "the quick brown fox jumps over the lazy dog " * 20 + "</body></html>"
_BODY_NEAR = _BODY.replace("lazy dog", "lazy cat", 1)
_BODY_DIFF = "<html><body>" + "entirely different text about submarines " * 20 + "</body></html>"


def _rc_page(path, status=200, etag=None, lm=None, body=None, links=()):
    return Page(
        url=f"https://{_RC_DOMAIN}{path}",
        domain=_RC_DOMAIN,
        path=path,
        param=None,
        status=status,
        etag=etag,
        last_modified=lm,
        body_text=body,
        links=list(links),
    )


def _rc_web():
    pages = {
        (_RC_DOMAIN, p.path, None): p
        for p in [
            _rc_page("/", body=_BODY),
            # A: etag unchanged → server 304 → Result304ReplacedWithReference
            _rc_page("/a.html", etag='"A1"', body=_BODY),
            # B: no etag, Last-Modified unchanged → If-Modified-Since → 304
            _rc_page("/b.html", lm="Mon, 01 Jan 2024 00:00:00 GMT", body=_BODY),
            # C: etag rotated, body near-identical → LSH hamming<4 → retained
            _rc_page("/c.html", etag='"C2"', body=_BODY_NEAR),
            # D: etag rotated, body rewritten → changed
            _rc_page("/d.html", etag='"D2"', body=_BODY_DIFF),
            # E: no validators at all, body identical → LSH retained
            _rc_page("/e.html", body=_BODY),
            # G: etag rotated but Last-Modified identical → header arm retains
            _rc_page("/g.html", etag='"G2"', lm="Tue, 02 Jan 2024 00:00:00 GMT", body=_BODY_DIFF),
        ]
    }
    spec = DomainInfo(
        domain=_RC_DOMAIN, proto="https", probe="ok", robots_txt=None,
        site_kind="default", crawl_depth=10_000, seed_urls=[],
    )
    return SyntheticWeb({_RC_DOMAIN: spec}, pages)


def _rc_prev():
    def rec(path, status=200, image_id="img-1", etag=None, lm=None, body=_BODY):
        return {
            "url": f"https://{_RC_DOMAIN}{path}",
            "http_status": status,
            "image_id": image_id,
            "etag": etag,
            "last_modified": lm,
            "lsh64": _lsh64_signed(body) if body else None,
        }

    return [
        rec("/a.html", etag='"A1"'),
        rec("/b.html", lm="Mon, 01 Jan 2024 00:00:00 GMT"),
        rec("/c.html", etag='"C1"'),
        rec("/d.html", etag='"D1"'),
        rec("/e.html"),
        rec("/f.html", status=404),  # 404 memo — never fetched again
        rec("/g.html", etag='"G1"', lm="Tue, 02 Jan 2024 00:00:00 GMT", body=_BODY_DIFF),
    ]


def test_conditional_fetch_304_and_lsh_arms():
    web = _rc_web()
    info = DomainInfo(domain=_RC_DOMAIN, proto="https", probe="ok",
                      robots_txt=None, crawl_depth=10_000)
    sess = DomainCrawlSession(info, web, seed=SEED)
    phase = sess.setup(prev_crawl=_rc_prev())
    assert phase == "active"

    actions = {}
    for rec in sess.new_fetch_log:
        actions.setdefault(rec["url"], []).append(rec["action"])

    u = lambda p: f"https://{_RC_DOMAIN}{p}"
    assert actions[u("/a.html")] == ["FETCH_304"]
    assert actions[u("/b.html")] == ["FETCH_304"]
    assert actions[u("/c.html")] == ["FETCH_RECRAWL", "RECRAWL_RETAINED_LSH"]
    assert actions[u("/d.html")] == ["FETCH_RECRAWL", "RECRAWL_CHANGED"]
    assert actions[u("/e.html")] == ["FETCH_RECRAWL", "RECRAWL_RETAINED_LSH"]
    assert actions[u("/f.html")] == ["RECRAWL_MEMO_404"]
    assert actions[u("/g.html")] == ["FETCH_RECRAWL", "RECRAWL_RETAINED_HEADER"]

    # 304-replaced docs are re-recorded into the new crawl data (the
    # reference writes the stored body back to the WARC)
    recorded = {r["url"] for r in sess.new_crawl_data}
    assert u("/a.html") in recorded and u("/b.html") in recorded
    # ...and the 404-memoized doc is not
    assert u("/f.html") not in recorded

    # visited set: every replayed doc incl. the 404 memo
    for p in ["/a.html", "/b.html", "/c.html", "/d.html", "/e.html", "/g.html"]:
        assert sess.frontier.is_visited(
            sess.frontier.correct_schema(
                __import__("marginaliasearch_spark.canon.url", fromlist=["parse_url"]).parse_url(u(p))
            )
        )


def test_body_budget_clips_before_fingerprinting(monkeypatch):
    """Per-request body budget (WarcRecorder.java:41-45): oversized bodies
    are clipped before the LSH fingerprint, so a stored clipped fingerprint
    still matches an unchanged oversized page on revisit."""
    import marginaliasearch_spark.oracle.session as sess_mod

    monkeypatch.setattr(sess_mod, "MAX_BODY_BYTES", 500)
    big = "<html><body>" + "alpha beta gamma delta " * 200 + "</body></html>"
    pages = {
        (_RC_DOMAIN, p.path, None): p
        for p in [
            _rc_page("/", body=_BODY),
            _rc_page("/big.html", body=big),  # no validators → LSH arm
        ]
    }
    spec = DomainInfo(
        domain=_RC_DOMAIN, proto="https", probe="ok", robots_txt=None,
        site_kind="default", crawl_depth=10_000, seed_urls=[],
    )
    web = SyntheticWeb({_RC_DOMAIN: spec}, pages)
    prev = [{
        "url": f"https://{_RC_DOMAIN}/big.html", "http_status": 200,
        "image_id": "img-1", "etag": None, "last_modified": None,
        "lsh64": sess_mod._lsh64_signed(big[:500]),  # stored under the cap
    }]
    info = DomainInfo(domain=_RC_DOMAIN, proto="https", probe="ok",
                      robots_txt=None, crawl_depth=10_000)
    s = DomainCrawlSession(info, web, seed=SEED)
    s.setup(prev_crawl=prev)
    actions = [r["action"] for r in s.new_fetch_log if r["url"].endswith("/big.html")]
    assert actions == ["FETCH_RECRAWL", "RECRAWL_RETAINED_LSH"]
