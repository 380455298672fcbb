"""URL canonicalization tests.

Case matrix derived from the reference's unit tests (expected values quoted
from the cited Java tests; the implementations are independent ports):
- EdgeUrlTest.java (fragment drop, urlencode repair, param whitelist, IDN)
- EdgeDomainTest.java semantics (sub/top split, gov TLDs, IPs)
- LinkParserTest.java (relative resolution, renormalization, base href)
- DomainCrawlFrontierTest.java (trailing-slash identity)
- QueryParams.java whitelist matrix
"""

import pytest

from marginaliasearch_spark.canon import (
    EdgeDomain,
    EdgeUrl,
    parse_url,
    query_params_sanitizer,
)
from marginaliasearch_spark.canon.linkparser import (
    get_base_link,
    parse_link,
    parse_link_from_anchor,
    parse_meta_redirect,
)


# --- EdgeDomain ---------------------------------------------------------

@pytest.mark.parametrize(
    "host,sub,top",
    [
        ("www.marginalia.nu", "www", "marginalia.nu"),
        ("marginalia.nu", "", "marginalia.nu"),
        ("MEMEX.MARGINALIA.NU", "memex", "marginalia.nu"),
        ("marginalia.nu.", "", "marginalia.nu"),
        ("www.foo.co.uk", "www", "foo.co.uk"),
        ("foo.co.uk", "", "foo.co.uk"),
        ("a.b.c.foo.ac.jp", "a.b.c", "foo.ac.jp"),
        ("192.168.1.100", "", "192.168.1.100"),
        ("localhost", "", "localhost"),
        ("search.old.marginalia.nu", "search.old", "marginalia.nu"),
    ],
)
def test_edge_domain_split(host, sub, top):
    d = EdgeDomain(host)
    assert d.sub_domain == sub
    assert d.top_domain == top


# --- query params (QueryParams.java + EdgeUrlTest.testParms) -------------

def test_query_param_whitelist():
    assert query_params_sanitizer("/", "id=123") == "id=123"
    assert query_params_sanitizer("/", "t=123") == "t=123"
    assert query_params_sanitizer("/", "v=123") == "v=123"
    assert query_params_sanitizer("/", "m=123") is None
    assert query_params_sanitizer("/", "follow=123") is None
    assert query_params_sanitizer("/showthread.php", "id=1&count=5&tracking=123") == "id=1"
    assert query_params_sanitizer("/showthread.php", "p=5") is None
    assert query_params_sanitizer("/viewtopic.php", "f=3") is None
    assert query_params_sanitizer("/other.php", "p=5") == "p=5"
    assert query_params_sanitizer("/x.cgi", "anything=yes") == "anything=yes"
    assert query_params_sanitizer("/posting.php", "id=1") is None
    assert query_params_sanitizer("/index.php", "showtopic=3") == "showtopic=3"
    assert query_params_sanitizer("/StoryView.py", "project=mac&story=x") == "project=mac&story=x"
    # sorting
    assert query_params_sanitizer("/", "t=5&id=1&tracking=123") == "id=1&t=5"


# --- EdgeUrl parse + toString (EdgeUrlTest.java) --------------------------

@pytest.mark.parametrize(
    "raw,expected",
    [
        ("https://www.example.com/", "https://www.example.com/"),
        ("https://www.example.com/#heredoc", "https://www.example.com/"),
        ("https://www.example.com/trailingslash/", "https://www.example.com/trailingslash/"),
        ("https://www.example.com/%-sign", "https://www.example.com/%25-sign"),
        ('https://www.example.com//%-sign/"-sign', "https://www.example.com/%25-sign/%22-sign"),
        ("https://www.example.com/%22-sign", "https://www.example.com/%22-sign"),
        ('https://www.example.com/\n "huh"', "https://www.example.com/%0A%20%22huh%22"),
        ("https://en.wikipedia.org/wiki/Sámi", "https://en.wikipedia.org/wiki/S%C3%A1mi"),
        (
            "https://www.prijatelji-zivotinja.hr/index.en.php?id=2301k",
            "https://www.prijatelji-zivotinja.hr/index.en.php?id=2301k",
        ),
        ("http://lord.re/actors/françois-cluzet/", "http://lord.re/actors/fran%C3%A7ois-cluzet/"),
        ("https://search.marginalia.nu/?id=123", "https://search.marginalia.nu/?id=123"),
        (
            "https://memex.marginalia.nu/showthread.php?id=1&count=5&tracking=123",
            "https://memex.marginalia.nu/showthread.php?id=1",
        ),
        (
            "https://memex.marginalia.nu/shöwthrëad.php?id=1&t=5&tracking=123",
            "https://memex.marginalia.nu/sh%C3%B6wthr%C3%ABad.php?id=1&t=5",
        ),
        (
            "https://memex.marginalia.nu/shöwthrëad.php?trëaking=123&id=1&t=5&",
            "https://memex.marginalia.nu/sh%C3%B6wthr%C3%ABad.php?id=1&t=5",
        ),
        # default port elision
        ("https://www.example.com:443/x", "https://www.example.com/x"),
        ("http://www.example.com:80/x", "http://www.example.com/x"),
        ("http://www.example.com:8080/x", "http://www.example.com:8080/x"),
        # IDN
        ("https://マリウス.com/", "https://xn--gckvb8fzb.com/"),
        ("https://xn--gckvb8fzb.com/", "https://xn--gckvb8fzb.com/"),
    ],
)
def test_parse_tostring(raw, expected):
    assert str(EdgeUrl.from_string(raw)) == expected


def test_fragment_equality():
    assert EdgeUrl.from_string("https://memex.marginalia.nu/") == EdgeUrl.from_string(
        "https://memex.marginalia.nu/#here"
    )
    assert EdgeUrl.from_string("https://memex.marginalia.nu/") == EdgeUrl.from_string(
        "https://memex.marginalia.nu#here"
    )


def test_trailing_slash_identity():
    # DomainCrawlFrontierTest: https://example.com ≡ https://example.com/
    assert EdgeUrl.from_string("https://example.com") == EdgeUrl.from_string(
        "https://example.com/"
    )


def test_query_before_slash_quirk():
    u = EdgeUrl.from_string("https://search.marginalia.nu?/")
    assert u.path == "/"
    assert u.param is None


def test_equality_ignores_proto_and_port():
    a = EdgeUrl.from_string("http://example.com/x")
    b = EdgeUrl.from_string("https://example.com/x")
    c = EdgeUrl.from_string("https://example.com:8443/x")
    assert a == b == c
    assert hash(a) == hash(b) == hash(c)


def test_parse_url_failures():
    assert parse_url(None) is None
    assert parse_url("no-scheme-here") is None


def test_canonicalize_udf_nulls_and_64_bit_hash(spark):
    """The Spark canonicalize kernel: a null and an unparseable URL give
    null struct fields and a null url_hash; parsed URLs keep all 64 hash
    bits (|h| >= 2^53 does not round through a double)."""
    from pyspark.sql import functions as F

    from marginaliasearch_spark.canon.murmur import hash_url_parts_batch
    from marginaliasearch_spark.functions.udfs import canonicalize

    urls = [f"https://www.example{i}.com/a/page{i}.html?id={i}" for i in range(6)]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate([None, "no-scheme-here"] + urls)],
        "i int, u string",
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonicalize(F.col("u")).alias("c")).collect()
    }
    for i in (0, 1):
        assert got[i].asDict() == dict.fromkeys(got[i].asDict())
    parsed = [parse_url(u) for u in urls]
    want = hash_url_parts_batch(
        [u.domain.address for u in parsed], [u.path for u in parsed], [u.param for u in parsed]
    ).tolist()
    hashes = [got[i + 2]["url_hash"] for i in range(len(urls))]
    assert hashes == want
    assert any(abs(h) >= 1 << 53 for h in hashes)
    assert [got[i + 2]["url_canon"] for i in range(len(urls))] == [str(u) for u in parsed]


# --- LinkParser (LinkParserTest.java) -------------------------------------

def _pl(href, rel_base):
    base = EdgeUrl.from_string("http://www.marginalia.nu/" + rel_base)
    url = parse_link_from_anchor(base, href)
    return str(url) if url else None


def test_link_renormalization():
    assert _pl("http://www.marginalia.nu/../test", "/") == "http://www.marginalia.nu/test"


def test_link_anchor_dropped():
    assert _pl("#test", "/") is None


def test_link_relative():
    assert _pl("//search.marginalia.nu", "/") == "http://search.marginalia.nu/"
    assert _pl("../test", "/") == "http://www.marginalia.nu/test"
    assert _pl("test", "/") == "http://www.marginalia.nu/test"
    assert _pl("test", "/foo/index.html") == "http://www.marginalia.nu/foo/test"
    assert _pl("../test", "/foo/index.html") == "http://www.marginalia.nu/test"
    assert _pl("/test", "/foo/index.html") == "http://www.marginalia.nu/test"


def test_link_gates():
    assert _pl("mailto:foo@example.com", "/") is None
    assert _pl("javascript:void(0)", "/") is None
    assert _pl("x" * 129, "/") is None
    assert _pl("/whitepaper.pdf", "/") is None
    assert _pl("/archive.tar.gz", "/") is None


def test_base_link():
    doc = EdgeUrl.from_string("https://www.marginalia.nu/test/foo.bar")
    assert get_base_link(["/base"], doc) == EdgeUrl.from_string("https://www.marginalia.nu/base")
    assert get_base_link(["https://memex.marginalia.nu/base"], doc) == EdgeUrl.from_string(
        "https://memex.marginalia.nu/base"
    )
    assert get_base_link(["base"], doc) == EdgeUrl.from_string(
        "https://www.marginalia.nu/test/base"
    )
    root = EdgeUrl.from_string("https://memex.marginalia.nu/")
    assert get_base_link([""], root) == root


def test_meta_redirect():
    base = EdgeUrl.from_string("http://www.marginalia.nu/")
    assert parse_meta_redirect(base, "10; url=http://www.marginalia.nu/new") == EdgeUrl.from_string(
        "http://www.marginalia.nu/new"
    )
    assert parse_meta_redirect(base, "not a redirect") is None


def test_space_repair_in_relative_link():
    base = EdgeUrl.from_string("http://www.marginalia.nu/dir/page.html")
    url = parse_link(base, "my page.html")
    assert url is not None
    assert str(url) == "http://www.marginalia.nu/dir/my%20page.html"


def test_uri_normalize_matches_compiled_java():
    """java.net.URI.normalize() parity, incl. the trailing-slash rule for
    consumed '.'/'..' final segments ('/a/b/..' → '/a/', not '/a') —
    golden vectors generated from compiled Java."""
    from marginaliasearch_spark.canon.url import uri_normalize_path

    n = 0
    for line in open("tests/golden/uri_normalize.tsv"):
        src, want = line.rstrip("\n").split("\t")
        assert uri_normalize_path(src) == want, src
        n += 1
    assert n >= 30


def test_parse_link_differential_vs_compiled_reference():
    """Differential over 582 messy (base, href) pairs (282 handcrafted
    + 300 seeded-fuzz incl. unicode/space/&=-in-path segments): the OUTPUT of the
    reference's own compiled LinkParser.parseLink + EdgeUrl pipeline
    (tests/golden/linkparse_diff.tsv; BasicURLNormalizer stubbed to
    identity, inputs restricted to pre-normalized hosts) vs our
    parse_link.  One documented difference class is allowed: for scheme
    hrefs (mailto:/javascript:/tel:/file:) the reference's STRING-form
    parseLink constructs a parse-error-host EdgeUrl (its scheme filter
    lives only in the Element form), where we return None — downstream
    both are dropped identically (same-domain gate / proto gate)."""
    from marginaliasearch_spark.canon.linkparser import parse_link
    from marginaliasearch_spark.canon.url import parse_url

    def unesc(s):
        return s.replace("\\t", "\t").replace("\\n", "\n")

    n = checked = 0
    for line in open("tests/golden/linkparse_diff.tsv"):
        base_s, href_e, want = line.rstrip("\n").split("\t", 2)
        href, want = unesc(href_e), unesc(want)
        base = parse_url(base_s)
        u = parse_link(base, href)
        got = (
            "NONE"
            if u is None
            else f"{u}|{u.path}|{u.param if u.param is not None else '<null>'}"
        )
        n += 1
        if "parse-error.invalid.example.com" in want and got == "NONE":
            continue  # documented scheme-href difference (see docstring)
        if want.startswith("ERR:"):
            assert got in ("NONE",) or got.startswith("ERR:"), (base_s, href, got, want)
            continue
        assert got == want, (base_s, href, got, want)
        checked += 1
    assert n == 582 and checked >= 520


def test_queryparams_differential_vs_compiled_reference():
    """queryParamsSanitizer parity vs the reference's COMPILED QueryParams
    (whitelist, .php-path extras, sorting, null-on-empty) — golden output
    in tests/golden/queryparams_diff.tsv."""
    from marginaliasearch_spark.canon.queryparams import query_params_sanitizer

    n = 0
    for line in open("tests/golden/queryparams_diff.tsv"):
        path, query, want = line.rstrip("\n").split("\t")
        got = query_params_sanitizer(path, query or None)
        assert ("<null>" if got is None else got) == want, (path, query)
        n += 1
    assert n >= 25


def test_edgedomain_differential_vs_compiled_reference():
    """EdgeDomain sub/top split parity vs the reference's COMPILED class
    (ccTLD second-levels, deep subdomains, trailing dots, IPs, uppercase) —
    golden output in tests/golden/edgedomain_diff.tsv."""
    from marginaliasearch_spark.canon.domain import EdgeDomain

    n = 0
    for line in open("tests/golden/edgedomain_diff.tsv"):
        host, sub, top = line.rstrip("\n").split("\t")
        d = EdgeDomain(host)
        assert (d.sub_domain, d.top_domain) == (sub, top), host
        n += 1
    assert n >= 20
