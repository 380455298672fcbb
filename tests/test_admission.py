"""Admission-control tests: blocklist (UrlBlocklistTest cases), link filters,
robots parsing (DomainCrawlerRobotsTxtTest override case + RFC 9309),
Retry-After parsing (HttpFetcherImplRetryAfterTest cases)."""

from datetime import datetime, timedelta, timezone

import pytest

from marginaliasearch_spark.canon import EdgeUrl
from marginaliasearch_spark.functions.retry_after import (
    clamp_retry_delay_seconds,
    parse_retry_after_seconds,
)
from marginaliasearch_spark.functions.robots import RobotRules, parse_robots_txt
from marginaliasearch_spark.operators.blocklist import is_url_blocked
from marginaliasearch_spark.operators.linkfilter import (
    link_filter_allows,
    select_filter_kind,
)


# --- blocklist (UrlBlocklistTest.java:13-23) ------------------------------

@pytest.mark.parametrize(
    "url,blocked",
    [
        (
            "https://memex.marginalia.nu/ghc/ghc/blob/1b1067d14b656bbbfa7c47f156ec2700c9751549/compiler/main/UpdateCafInfos.hs",
            True,
        ),
        ("http://www.marginalia.nu/wp-content/uploads/test.jpg", True),
        ("http://yelenasimone.com/pdf/download-a-course-in-algebra.html", True),
        ("http://yelenasimone.com/nope/x-a-course-in-algebra.html", False),
        (
            "http://yelenasimone.com/_module/slide/pqPan/library/american-sour-beer-innovative-techniques-for-mixed-fermentations/",
            True,
        ),
        (
            "http://w-m-p.de/images/book/download-firstborn-starcraft-dark-templar-book-1.php",
            True,
        ),
        ("https://sqlite.org/src/info/6376abec766e9a0785178b1823b5a587e9f1ccbc", True),
        # bad top-domains + github depth + MDN mirror
        ("https://www.youtube.com/watch?v=123", True),
        ("https://t.co/abc", True),
        ("https://github.com/owner/repo", False),
        ("https://github.com/owner/repo/issues", True),
        ("https://example.com/mirror/developer.mozilla.org/en/docs", True),
        ("https://example.com/repo/.git/config", True),
        ("https://example.com/ordinary/page.html", False),
    ],
)
def test_url_blocklist(url, blocked):
    assert is_url_blocked(EdgeUrl.from_string(url)) == blocked


# --- link filters (LinkFilterSelector.java:15-86) --------------------------

def _u(path):
    return EdgeUrl.from_string("https://example.com" + path)


def test_link_filter_kinds():
    assert select_filter_kind("blogspot.com") == "blogspot"
    assert select_filter_kind("substack.com") == "substack"
    assert select_filter_kind("x.com", has_lemmy_config=True) == "lemmy"
    assert select_filter_kind("x.com", generator_meta="Discourse 2.8") == "discourse"
    assert select_filter_kind("x.com", generator_meta="MediaWiki 1.39") == "mediawiki"
    assert select_filter_kind("x.com") == "default"


def test_link_filter_predicates():
    assert not link_filter_allows("blogspot", _u("/feeds/posts"))
    assert link_filter_allows("blogspot", _u("/2020/01/post.html"))
    assert not link_filter_allows("substack", _u("/p/title/comments"))
    assert link_filter_allows("substack", _u("/p/title"))
    assert link_filter_allows("lemmy", _u("/post/123"))
    assert link_filter_allows("lemmy", _u("/c/rust"))
    assert not link_filter_allows("lemmy", _u("/c/rust@lemmy.ml"))
    assert not link_filter_allows("lemmy", _u("/u/someone"))
    assert link_filter_allows("discourse", _u("/t/topic/1"))
    assert link_filter_allows("discourse", _u("/latest"))
    assert not link_filter_allows("discourse", _u("/u/someone"))
    assert not link_filter_allows("mediawiki", _u("/index.php"))
    assert not link_filter_allows("mediawiki", _u("/wiki/Special:Random"))
    assert not link_filter_allows("mediawiki", _u("/wiki/Talk:Rust"))
    assert link_filter_allows("mediawiki", _u("/wiki/Rust"))
    assert link_filter_allows("default", _u("/anything"))


# --- robots (DomainCrawlerRobotsTxtTest.java:10-30 + RFC 9309) -------------

def test_robots_ua_override():
    content = (
        "User-agent: *\n"
        "Disallow: /\n"
        "\n"
        "User-agent: Googlebot\n"
        "User-agent: YandexBot\n"
        "User-agent: Twitterbot\n"
        "User-agent: special_archiver\n"
        "User-agent: archive.org_bot\n"
        "User-agent: search.marginalia.nu\n"
        "Disallow:\n"
    )
    rules = parse_robots_txt(content, "search.marginalia.nu")
    assert rules.is_allowed("http://www.brutman.com/test")
    # a UA not in the override block gets the * group
    other = parse_robots_txt(content, "randombot")
    assert not other.is_allowed("http://www.brutman.com/test")


def test_robots_basics():
    content = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/ok\n"
        "Crawl-delay: 2.5\n"
        "Sitemap: https://example.com/sitemap.xml\n"
    )
    rules = parse_robots_txt(content, "search.marginalia.nu")
    assert rules.is_allowed("https://example.com/")
    assert not rules.is_allowed("https://example.com/private/x")
    assert rules.is_allowed("https://example.com/private/ok.html")
    assert rules.crawl_delay_ms == 2500
    assert rules.sitemaps == ["https://example.com/sitemap.xml"]


def test_robots_wildcards():
    content = "User-agent: *\nDisallow: /*.php$\nDisallow: /tmp/*\n"
    rules = parse_robots_txt(content, "bot")
    assert not rules.is_allowed("https://example.com/page.php")
    assert rules.is_allowed("https://example.com/page.php?x=1")  # $ anchors
    assert not rules.is_allowed("https://example.com/tmp/file")
    assert rules.is_allowed("https://example.com/other")


def test_robots_none_is_allow_all():
    rules = parse_robots_txt(None, "bot")
    assert rules.is_allowed("https://example.com/anything")


def test_robots_roundtrip_dict():
    content = "User-agent: *\nDisallow: /a\nAllow: /a/b\nCrawl-delay: 1\n"
    rules = parse_robots_txt(content, "bot")
    rt = RobotRules.from_dict(rules.to_dict())
    for u in ("https://x.com/a", "https://x.com/a/b", "https://x.com/c"):
        assert rules.is_allowed(u) == rt.is_allowed(u)


# --- Retry-After (HttpFetcherImplRetryAfterTest.java:13-66) ----------------

def test_retry_after_numeric():
    assert parse_retry_after_seconds("5") == 5
    assert parse_retry_after_seconds("2.7") == 3
    assert parse_retry_after_seconds("0") == 0
    assert parse_retry_after_seconds(None) == -1
    assert parse_retry_after_seconds("not-a-date-or-number") == -1


def test_retry_after_http_date():
    now = datetime(2026, 8, 16, 12, 0, 0, tzinfo=timezone.utc)
    future = now + timedelta(seconds=30)
    header = future.strftime("%a, %d %b %Y %H:%M:%S GMT")
    assert parse_retry_after_seconds(header, now=now) == 30
    past = now - timedelta(seconds=10)
    header = past.strftime("%a, %d %b %Y %H:%M:%S GMT")
    assert parse_retry_after_seconds(header, now=now) == 0
    # numeric-offset variant
    assert parse_retry_after_seconds("Thu, 05 Mar 2026 23:25:46 +0000", now=now) == 0


def test_retry_clamp():
    assert clamp_retry_delay_seconds(0) == 1
    assert clamp_retry_delay_seconds(3) == 3
    assert clamp_retry_delay_seconds(600) == 5


def test_linkfilter_gate_oracle_truth():
    """The link_filter_kinds gate's DuckDB oracle reproduces the
    hand-derived visited set for each LinkFilterSelector arm — pins the
    fixture truth itself so a fixture edit can't silently shift the gate."""
    import duckdb

    from marginaliasearch_spark.sources.gate_web import linkfilter_oracle_sql

    rows = duckdb.sql(linkfilter_oracle_sql()).fetchall()
    by_dom: dict = {}
    for dom, url in rows:
        by_dom.setdefault(dom, set()).add(url.split(dom, 1)[1])
    assert by_dom["myblog.blogspot.com"] == {
        "/", "/2024/01/alpha.html", "/2024/02/beta.html",
        "/p/about.html", "/feedback.html",
    }
    assert by_dom["writer.substack.com"] == {
        "/", "/p/post1.html", "/p/post2.html", "/about.html",
        "/comments.html",
    }
    assert by_dom["lemmy.example.org"] == {
        "/", "/post/101", "/post/102", "/post/103", "/c/rust",
    }
    assert by_dom["forum.example.org"] == {
        "/", "/t/intro/1", "/t/intro/2", "/latest", "/c/bugs/latest",
        "/t/help/9",
    }
    assert by_dom["plain.example.org"] == {
        "/", "/feeds/x.html", "/p/a/comments", "/u/bob", "/anything.html",
    }


def test_gate_fixture_export_commit(tmp_path, monkeypatch):
    """The gate-fixture export helper: a repeat call reuses the committed
    dir without writing, a changed row lands in a new dir, a writer that
    loses the commit race to a complete export discards its tmp dir
    quietly, and a target that exists without the marker is an error."""
    import os
    import tempfile

    import pandas as pd

    from marginaliasearch_spark.sources import gate_web

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    p = gate_web._export("t", tab=rows)["tab"]
    d = os.path.dirname(p)
    assert pd.read_parquet(p).to_dict("records") == rows

    def no_write(*a, **k):
        raise AssertionError("a complete export was written again")

    with monkeypatch.context() as m:
        m.setattr(tempfile, "mkdtemp", no_write)
        assert gate_web._export("t", tab=rows)["tab"] == p

    changed = gate_web._export("t", tab=[rows[0], {"k": 2, "v": "c"}])["tab"]
    assert os.path.dirname(changed) != d

    loser = tempfile.mkdtemp(prefix="msx_t_tmp_")
    pd.DataFrame(rows).to_parquet(os.path.join(loser, "tab.parquet"))
    gate_web._commit_export_dir(loser, d, os.path.join(d, "_COMPLETE"))
    assert not os.path.exists(loser)
    assert pd.read_parquet(p).to_dict("records") == rows

    os.remove(os.path.join(d, "_COMPLETE"))
    with pytest.raises(OSError):
        gate_web._export("t", tab=rows)
    assert not [n for n in os.listdir(tmp_path) if n.startswith("msx_t_tmp_")]


def test_robots_gate_vectors():
    """Every planted robots-gate verdict holds through the parser — the
    same check the driver gate makes, pinned in-suite so a parser change
    can't silently drift the fixture."""
    from marginaliasearch_spark.functions.robots import parse_robots_txt
    from marginaliasearch_spark.sources.gate_web import generate_robots_fixture

    for r in generate_robots_fixture():
        rules = parse_robots_txt(r["robots_txt"], r["user_agent"])
        assert rules.is_allowed(r["url"]) == r["exp_allowed"], r
