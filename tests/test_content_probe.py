"""Content-type HEAD probe (HttpFetcherImpl.probeContentType:332-400,
ContentTypeLogic.java:13-59) — arm coverage mirrors the reference's
HttpFetcherImplContentTypeProbeTest."""

import pandas as pd
import pyarrow as pa

from marginaliasearch_spark.canon.url import EdgeUrl
from marginaliasearch_spark.functions.contenttype import (
    is_allowable_content_type,
    is_url_like_binary,
)
from marginaliasearch_spark.oracle.session import DomainCrawlSession, DomainInfo
from marginaliasearch_spark.sources.synthetic_web import (
    SyntheticWeb,
    normalize_pages_pdf,
    pages_by_key,
)

NAME = "ctp.example.org"


def test_url_like_binary_patterns():
    # probable-good extensions short-circuit
    for p in ("/a.html", "/a.htm", "/x.php", "/n.txt", "/r.md", "/d.pdf",
              "/UPPER.HTML"):
        assert not is_url_like_binary(p), p
    # any other [a-z]+ extension looks binary
    for p in ("/a.ashx", "/b.qcss", "/c.bin", "/d.dat", "/e.jpeg"):
        assert is_url_like_binary(p), p
    # no extension / digits → not binary-like
    for p in ("/wiki/Page1", "/post/3", "/x.mp3?x", "/v2"):
        assert not is_url_like_binary(p), p


def test_allowable_content_types():
    assert is_allowable_content_type("text/html")
    assert is_allowable_content_type("application/pdf")
    assert is_allowable_content_type("application/rss+xml")
    assert not is_allowable_content_type("text/css")  # blocked outright
    assert not is_allowable_content_type("text/javascript")
    assert not is_allowable_content_type("application/octet-stream")
    assert not is_allowable_content_type("image/png")


def _session(rows):
    base = {
        "domain": NAME, "param": None, "status": 200, "redirect_to": None,
        "content_type": "text/html", "image_id": None, "base_href": None,
        "links": [], "feed_links": [], "body_marker": None, "etag": None,
        "last_modified": None, "body_text": None,
    }
    full = [{**base, **r, "url": f"https://{NAME}{r['path']}"} for r in rows]
    pages = pa.Table.from_pandas(
        normalize_pages_pdf(pd.DataFrame(full, dtype=object)), preserve_index=False
    )
    web = SyntheticWeb({NAME: DomainInfo(domain=NAME)}, pages_by_key(pages.to_pylist()))
    return DomainCrawlSession(DomainInfo(domain=NAME, crawl_depth=100), web)


def _u(path):
    return EdgeUrl.from_string(f"https://{NAME}{path}")


def test_probe_arms():
    s = _session([
        {"path": "/"},
        {"path": "/bin.ashx", "content_type": "text/html"},
        {"path": "/css.qcss", "content_type": "text/css"},
        {"path": "/h405.dat", "content_type": "text/html", "head_status": 405},
        {"path": "/re.abc", "status": 301,
         "redirect_to": f"https://{NAME}/t.html"},
    ])
    s.setup()
    s.drain()  # discard the setup-phase audit rows (probe walk, sniff, feed)
    # NoOp: good pattern / painted tags — no probe, no log, no delay
    assert s._content_type_probe(_u("/page.html")) is None
    assert s._content_type_probe(_u("/bin.ashx"), etag="x") is None
    assert not s.new_fetch_log
    # Ok: allowed content type → proceed
    assert s._content_type_probe(_u("/bin.ashx")) is None
    # BadContentType: blocked type → terminal, no GET
    kind, ct = s._content_type_probe(_u("/css.qcss"))
    assert (kind, ct) == ("bad_type", "text/css")
    # 405 → can't probe with HEAD, proceed with GET
    assert s._content_type_probe(_u("/h405.dat")) is None
    # Redirect → ResultRedirect carrying the location
    kind, loc = s._content_type_probe(_u("/re.abc"))
    assert kind == "redirect" and str(loc) == f"https://{NAME}/t.html"
    # HttpError: missing page → 404 HEAD
    kind, status = s._content_type_probe(_u("/gone.abc"))
    assert (kind, status) == ("http_error", 404)
    actions = [r["action"] for r in s.new_fetch_log]
    assert actions == [
        "PROBE_CT_OK", "FAILED_CONTENT_TYPE", "PROBE_CT_OK",
        "PROBE_CT_REDIRECT", "PROBE_CT_ERROR",
    ]


def test_probe_error_consumes_error_budget():
    # 21 seeded missing binary-looking URLs → error budget (20) aborts
    rows = [{"path": "/"}]
    s = _session(rows)
    s.info.seed_urls = [f"https://{NAME}/m{k}.abc" for k in range(25)]
    s.setup()
    s.run()
    assert s.error_count >= 20
    assert s.phase == "done"


def test_206_partial_content_recorded_like_200():
    """Range responses (206) are good statuses: recorded, links enqueued
    (HttpFetcherImplFetchTest.testRangeResponse; SlopCrawlDataRecord
    counts 200/206)."""
    s = _session([
        {"path": "/", "links": ["/part.html"]},
        {"path": "/part.html", "status": 206, "links": ["/next.html"],
         "image_id": "img-0"},
        {"path": "/next.html"},
    ])
    s.setup()
    s.run()
    visits = set(s.new_visits)
    assert f"https://{NAME}/part.html" in visits
    assert f"https://{NAME}/next.html" in visits  # links harvested from the 206
    recorded = {r["url"]: r["http_status"] for r in s.new_crawl_data}
    assert recorded[f"https://{NAME}/part.html"] == 206
