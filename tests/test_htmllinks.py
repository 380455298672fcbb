"""Real-HTML link extraction (functions/htmllinks.py) vs the COMPILED
reference LinkParser + enqueue loop (DomainCrawlFrontier.java:214-237).

Layered parity: tests/golden/htmllinks_diff.tsv was produced by compiling
the reference's full LinkParser.java (jsoup replaced by a minimal
Element/Document stub fed the same element stream) and replaying
enqueueLinksFromDocument over the fixture corpus — the element→links
pipeline is therefore differentially pinned; the HTML→element-stream
tokenizer layer is pinned by the hand-derived HTML5 vectors below
(jsoup itself is not installable in this image)."""

import os

import pytest

from marginaliasearch_spark.functions.htmllinks import (
    extract_link_elements,
    extract_links,
    with_html_links,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "html")
GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "htmllinks_diff.tsv")

DOC_URLS = {
    "basic.html": "https://www.site.example.com/dir/index.html",
    "basehref.html": "https://orig.example.com/old/place.html",
    "baserel.html": "https://host.example.com/a/b/c.html",
    "metarefresh.html": "https://meta.example.com/start.html",
    "frames.html": "https://frames.example.com/fs/main.html",
    "relnextprev.html": "https://blog.example.com/page/2",
    "entities.html": "https://ent.example.com/base/doc.html",
    "malformed.html": "https://mal.example.com/m/x.html",
    "fuzz.html": "https://fuzz.example.com/base/other.html",
    "advbase.html": "https://docbase.example.com/dir/page.html",
    "advbase2.html": "https://docbase2.example.com/d/p.html",
    "advattrs.html": "https://attrs.example.com/a/b.html",
    "advrawtext.html": "https://raw.example.com/r/doc.html",
}


def _unesc(s):
    return s.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")


def _golden():
    out = {name: [] for name in DOC_URLS}
    with open(GOLDEN, encoding="utf-8") as fh:
        for line in fh:
            name, seq, url = line.rstrip("\n").split("\t", 2)
            assert seq != "ERR", f"reference harness errored on {name}: {url}"
            if seq == "EMPTY":
                continue
            out[name].append(_unesc(url))
    return out


@pytest.mark.parametrize("name", sorted(DOC_URLS))
def test_matches_compiled_reference(name):
    html = open(os.path.join(FIXTURES, name), encoding="utf-8").read()
    got = extract_links(html, DOC_URLS[name])
    assert got == _golden()[name]


def test_tokenizer_spec_vectors():
    """HTML→element-stream layer: entity decoding, first-wins duplicate
    attributes, bare attributes as "", case folding, raw-text script
    content, comments skipped, self-closing and unclosed tags."""
    els = extract_link_elements(
        '<A HREF="/x?a=1&amp;b=2" Rel="NOFOLLOW">t</A>'
        '<a href="/first.html" href="/second.html">dup</a>'
        '<a href>bare</a>'
        '<base href="/b/"/>'
        "<script>var a='<a href=\"/ignore.html\">';</script>"
        '<!-- <a href="/comment.html"> -->'
        '<frame src="/f.html">'
        '<a href="/unclosed.html">tail'
    )
    assert els == [
        ("a", {"href": "/x?a=1&b=2", "rel": "NOFOLLOW"}),
        ("a", {"href": "/first.html"}),
        ("a", {"href": ""}),
        ("base", {"href": "/b/"}),
        ("frame", {"src": "/f.html"}),
        ("a", {"href": "/unclosed.html"}),
    ]


def test_enqueue_order_groups():
    """Selector-group ordering matches the reference loop: all <a> first,
    then frames, meta-refresh, iframes, link rel=next/prev."""
    html = (
        '<link rel="next" href="/n.html">'
        '<meta http-equiv="refresh" content="1; url=/m.html">'
        '<iframe src="/i.html"></iframe>'
        '<frame src="/f.html">'
        '<a href="/a.html">x</a>'
    )
    got = extract_links(html, "https://o.example.com/")
    assert got == [
        "https://o.example.com/a.html",
        "https://o.example.com/f.html",
        "https://o.example.com/m.html",
        "https://o.example.com/i.html",
        "https://o.example.com/n.html",
    ]


def test_spark_kernel(spark):
    """with_html_links: Arrow-batched extraction over string and binary
    columns, one narrow projection — no shuffle in the plan."""
    html = open(os.path.join(FIXTURES, "basic.html"), encoding="utf-8").read()
    df = spark.createDataFrame(
        [("https://www.site.example.com/dir/index.html", html, html.encode())],
        "url string, body_html string, body_bytes binary",
    )
    s = with_html_links(df, "body_html", "url").select("links").collect()[0]["links"]
    b = with_html_links(df, "body_bytes", "url").select("links").collect()[0]["links"]
    assert s == b == _golden()["basic.html"]
    # a null body (either column type) gives no links, not a null array
    nulls = spark.createDataFrame(
        [("https://www.site.example.com/", None, None)],
        "url string, body_html string, body_bytes binary",
    )
    for col in ("body_html", "body_bytes"):
        assert with_html_links(nulls, col, "url").collect()[0]["links"] == []
    plan = (
        with_html_links(df, "body_html", "url")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_link_edges_from_html(spark):
    """Corpus-bridge body-bytes path: HTML bodies → exploded (src, dst)
    edges matching the per-document kernel output."""
    from marginaliasearch_spark.plans.corpus_pipeline import link_edges_from_html

    html = open(os.path.join(FIXTURES, "relnextprev.html"), encoding="utf-8").read()
    df = spark.createDataFrame(
        [("https://blog.example.com/page/2", html)],
        "url string, body_html string",
    )
    edges = sorted(
        (r["src"], r["dst"]) for r in link_edges_from_html(df).collect()
    )
    assert edges == sorted(
        ("https://blog.example.com/page/2", u)
        for u in _golden()["relnextprev.html"]
    )
