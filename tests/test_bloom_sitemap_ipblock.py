"""Sitemap walker caps, IP/Geo domain blocklist."""

from marginaliasearch_spark.functions.sitemap import parse_sitemap_xml, walk_sitemaps
from marginaliasearch_spark.operators.ipblocklist import (
    cidr_to_range,
    filter_blocked_by_cidr,
    ip_to_int,
    is_domain_blocked,
)


def test_sitemap_parse_kinds():
    urlset = """<?xml version="1.0"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url><loc>https://a.com/1</loc></url>
      <url><loc>https://a.com/2</loc></url>
    </urlset>"""
    kind, urls = parse_sitemap_xml(urlset)
    assert kind == "urlset" and urls == ["https://a.com/1", "https://a.com/2"]

    index = """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <sitemap><loc>https://a.com/s1.xml</loc></sitemap>
    </sitemapindex>"""
    kind, urls = parse_sitemap_xml(index)
    assert kind == "sitemapindex" and urls == ["https://a.com/s1.xml"]

    rss = "<rss><channel><item><link>https://a.com/p</link></item></channel></rss>"
    assert parse_sitemap_xml(rss) == ("rss", ["https://a.com/p"])

    atom = '<feed xmlns="http://www.w3.org/2005/Atom"><entry><link href="https://a.com/e"/></entry></feed>'
    assert parse_sitemap_xml(atom) == ("atom", ["https://a.com/e"])

    assert parse_sitemap_xml("not xml <<<")[0] == "error"
    assert parse_sitemap_xml("<unknown/>")[0] == "error"


def test_sitemap_walk_caps_and_cycles():
    # cyclic index: s0 → s1 → s0 …, each with a few URLs
    def fetch(url):
        n = int(url[-5])
        nxt = (n + 1) % 3
        return f"""<sitemapindex>
           <sitemap><loc>https://a.com/s{nxt}.xml</loc></sitemap>
        </sitemapindex>""" if n != 2 else """<urlset>
           <url><loc>https://a.com/x1</loc></url>
           <url><loc>https://a.com/x1</loc></url>
           <url><loc>https://a.com/x2</loc></url>
        </urlset>"""

    urls = walk_sitemaps("https://a.com/s0.xml", fetch)
    assert urls == ["https://a.com/x1", "https://a.com/x2"]  # deduped, no cycle

    # fetch cap
    def endless(url):
        i = abs(hash(url)) % 10**6
        return f"<sitemapindex><sitemap><loc>https://a.com/n{i}.xml</loc></sitemap></sitemapindex>"

    calls = []

    def counting(url):
        calls.append(url)
        return endless(url)

    walk_sitemaps("https://a.com/n0.xml", counting)
    # ++fetchedSitemaps < 10 is a pre-increment check: 9 fetches, never 10
    # (HttpFetcherImpl.java:506)
    assert len(calls) == 9

    # URL cap is checked only between fetches: one urlset may overshoot
    # (ret.size() < 20_000 at loop top), but the next sitemap is not fetched
    big = "<urlset>" + "".join(
        f"<url><loc>https://a.com/u{i}</loc></url>" for i in range(100)
    ) + "</urlset>"
    fetched = []

    def fetch_big(u):
        fetched.append(u)
        if u.endswith("idx.xml"):
            return ("<sitemapindex>"
                    "<sitemap><loc>https://a.com/p1.xml</loc></sitemap>"
                    "<sitemap><loc>https://a.com/p2.xml</loc></sitemap>"
                    "</sitemapindex>")
        return big

    urls = walk_sitemaps("https://a.com/idx.xml", fetch_big, max_urls=50)
    assert len(urls) == 100  # one urlset overshoots the 50 cap
    assert fetched == ["https://a.com/idx.xml", "https://a.com/p2.xml"]  # addFirst: p2 before p1; cap stops p1


def test_sitemap_walk_addfirst_order_and_domain_filter():
    # index lists r1, r2, r3 → addFirst ⇒ fetch order r3, r2, r1
    pages = {
        "https://a.com/idx.xml": ("<sitemapindex>"
                                  "<sitemap><loc>https://a.com/r1.xml</loc></sitemap>"
                                  "<sitemap><loc>https://b.com/off.xml</loc></sitemap>"
                                  "<sitemap><loc>https://a.com/r2.xml</loc></sitemap>"
                                  "<sitemap><loc>https://a.com/r3.xml</loc></sitemap>"
                                  "</sitemapindex>"),
        "https://a.com/r1.xml": "<urlset><url><loc>https://a.com/p1</loc></url>"
                                "<url><loc>https://b.com/px</loc></url></urlset>",
        "https://a.com/r2.xml": "<urlset><url><loc>https://a.com/p2</loc></url></urlset>",
        "https://a.com/r3.xml": "<urlset><url><loc>https://a.com/p3</loc></url></urlset>",
    }
    calls = []

    def fetch(u):
        calls.append(u)
        return pages.get(u)

    urls = walk_sitemaps(
        "https://a.com/idx.xml", fetch,
        same_domain=lambda u: u.startswith("https://a.com/"),
    )
    # off-domain ref never fetched (no budget spent); page URL filtered
    assert calls == [
        "https://a.com/idx.xml",
        "https://a.com/r3.xml",
        "https://a.com/r2.xml",
        "https://a.com/r1.xml",
    ]
    assert urls == ["https://a.com/p3", "https://a.com/p2", "https://a.com/p1"]


def test_ip_geo_blocklist():
    assert is_domain_blocked("example.cn", "")
    assert is_domain_blocked("farm12345.example.com", "farm12345")
    assert not is_domain_blocked("example.com", "")
    # geo graylist: bare/www only
    assert not is_domain_blocked("example.ru", "", country="RU")
    assert not is_domain_blocked("www.example.ru", "www", country="RU")
    assert is_domain_blocked("blog.example.ru", "blog", country="RU")
    # cidr
    ranges = [cidr_to_range("10.0.0.0/8")]
    assert is_domain_blocked("x.com", "", ip="10.1.2.3", cidr_ranges=ranges)
    assert not is_domain_blocked("x.com", "", ip="11.1.2.3", cidr_ranges=ranges)
    assert ip_to_int("1.2.3.4") == (1 << 24) + (2 << 16) + (3 << 8) + 4
    assert ip_to_int("999.2.3.4") is None


def test_cidr_filter_df(spark):
    cidr = spark.createDataFrame(
        [cidr_to_range("10.0.0.0/8"), cidr_to_range("192.168.0.0/16")],
        "range_lo long, range_hi long",
    )
    doms = spark.createDataFrame(
        [("a.com", ip_to_int("10.1.1.1")), ("b.com", ip_to_int("8.8.8.8"))],
        "domain string, ip_int long",
    )
    kept = [r["domain"] for r in filter_blocked_by_cidr(doms, cidr).collect()]
    assert kept == ["b.com"]
