"""Domain-probe HEAD walk (DomainProber.java:36-67,
HttpFetcherImpl.probeDomain:236-323): redirect hops, GET retry,
https→http fallback, hop cap."""

import pandas as pd
import pyarrow as pa

from marginaliasearch_spark.canon.url import EdgeUrl
from marginaliasearch_spark.oracle.session import DomainCrawlSession, DomainInfo
from marginaliasearch_spark.sources.synthetic_web import (
    DomainPagesWeb,
    normalize_pages_pdf,
)

NAME = "pw.example.org"


def _web(rows, proto="https"):
    base = {
        "domain": NAME, "param": None, "status": 200, "redirect_to": None,
        "content_type": "text/html", "image_id": None, "base_href": None,
        "links": [], "feed_links": [], "body_marker": None, "etag": None,
        "last_modified": None, "body_text": None,
    }
    full = [{**base, **r, "url": f"{proto}://{NAME}{r['path']}"} for r in rows]
    pages = pa.Table.from_pandas(
        normalize_pages_pdf(pd.DataFrame(full)), preserve_index=False
    )
    return DomainPagesWeb(NAME, proto, pages)


def _session(web, proto="https"):
    info = DomainInfo(domain=NAME, proto=proto, crawl_depth=100)
    return DomainCrawlSession(info, web)


def _walk(s, proto="https"):
    return s._probe_walk(EdgeUrl(proto, s.edge_domain, None, "/", None))


def test_ok_direct():
    s = _session(_web([{"path": "/"}]))
    kind, url = s._probe_root()
    assert kind == "ok" and url.proto == "https"


def test_https_to_http_fallback():
    # http-only domain: the https walk sees a connection failure (-1) and
    # the prober retries the walk over http
    s = _session(_web([{"path": "/"}], proto="http"), proto="http")
    kind, url = s._probe_root()
    assert kind == "ok" and url.proto == "http"
    s.setup()
    assert s.frontier.supports_https is False


def test_cross_domain_redirect():
    s = _session(
        _web([{"path": "/", "status": 301,
               "redirect_to": "https://other.example.net/"}])
    )
    kind, dom = s._probe_root()
    assert (kind, dom) == ("redirect", "other.example.net")
    assert s.setup() == "redirect"


def test_internal_redirect_walk_ok():
    s = _session(
        _web([
            {"path": "/", "status": 301, "redirect_to": f"https://{NAME}/a"},
            {"path": "/a", "status": 302, "redirect_to": f"https://{NAME}/b"},
            {"path": "/b"},
        ])
    )
    kind, url = _walk(s)
    assert kind == "ok"
    assert url.path == "/"  # Ok carries the WALK-START url, not the target


def test_hop_cap_errors():
    # 4 fetch hops max: a 4-deep 301 chain never reaches the 200 leaf
    chain = [
        {"path": "/", "status": 301, "redirect_to": f"https://{NAME}/a"},
        {"path": "/a", "status": 301, "redirect_to": f"https://{NAME}/b"},
        {"path": "/b", "status": 301, "redirect_to": f"https://{NAME}/c"},
        {"path": "/c", "status": 301, "redirect_to": f"https://{NAME}/d"},
        {"path": "/d"},
    ]
    s = _session(_web(chain))
    assert _walk(s)[0] == "error"
    assert s.setup() == "error"
    # one hop shorter resolves
    chain2 = chain[:2] + [{"path": "/b"}]
    s2 = _session(_web(chain2))
    assert _walk(s2)[0] == "ok"


def test_head_405_get_retry():
    s = _session(_web([{"path": "/", "head_status": 405}]))
    kind, _ = _walk(s)
    assert kind == "ok"
    # the audit trail shows HEAD then GET
    probes = [r["action"] for r in s.new_fetch_log if r["action"].startswith("PROBE")]
    assert probes == ["PROBE_HEAD", "PROBE_GET"]


def test_persistent_500_errors_without_fallback_loop():
    s = _session(_web([{"path": "/", "status": 500}]))
    assert s.setup() == "error"
    # HEAD 500 then GET 500, once each, on the https walk
    probes = [
        (r["action"], r["status"])
        for r in s.new_fetch_log
        if r["action"].startswith("PROBE")
    ]
    assert probes[:2] == [("PROBE_HEAD", 500), ("PROBE_GET", 500)]
