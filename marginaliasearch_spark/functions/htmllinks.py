"""Real-HTML link extraction: HTML bytes → candidate crawl URLs.

The reference extracts links from fetched bodies with jsoup
(DomainCrawlFrontier.enqueueLinksFromDocument — ref: code/processes/
crawling-process/java/nu/marginalia/crawl/retreival/
DomainCrawlFrontier.java:214-237): resolve ``<base href>`` first
(LinkParser.getBaseLink:238-254), then enqueue — in this order —
``<a>`` links (gated: LinkParser.parseLink(Element):37-47), ``<frame>``
sources (parseFrame:92-100, ungated), ``meta[http-equiv=refresh]``
redirect targets (parseMetaRedirect:103-113), ``<iframe>`` sources, and
``<link rel=next|prev>`` links (DomainCrawlFrontier.java:229-236).

This module supplies the HTML layer over the already-ported element
pipeline (canon/linkparser.py, verified by compiled-reference
differential): a stdlib ``html.parser`` tokenizer collects the element
stream in document order, and ``extract_links`` drives the reference's
selector loop over it.  jsoup itself is not available in this image
(no jar, no network), so parity is verified in two layers: the element
stream → links pipeline differentially against the COMPILED reference
LinkParser + the enqueue loop over the same element streams
(tests/golden/htmllinks_diff.tsv; the compile-in-place harness is
committed at tools/htmllinks_harness/ and regenerates the golden with
--write), and the HTML → element stream layer against hand-derived
HTML5-tokenizer vectors (tests/test_htmllinks.py).
Tokenizer-level jsoup behaviors mirrored: entity-decoded attribute
values, first-wins duplicate attributes, case-insensitive tag/attr
names, raw-text script/style content, skipped comments, and the
trimmed case-insensitive ``[http-equiv=refresh]`` value match.

Spark surface: ``with_html_links`` — an Arrow UDF (``arrow_udf``, no
per-row Python boundary crossing; the parse itself is per-document by
nature, like every HTML parser), body bytes stay executor-local.
"""

from html.parser import HTMLParser
from typing import Optional

from ..canon.linkparser import (
    get_base_link,
    parse_link,
    parse_link_from_anchor,
    parse_meta_redirect,
)
from ..canon.url import EdgeUrl

_TAGS_OF_INTEREST = frozenset({"base", "a", "frame", "iframe", "meta", "link"})


class _LinkElementCollector(HTMLParser):
    """Collects (tag, attrs) for link-bearing elements in document order.

    Attribute names arrive lowercased from html.parser; duplicate names
    keep the FIRST occurrence (jsoup's Attributes behavior); bare
    attributes (``<a href>``) become empty strings (jsoup ``attr()``
    returns "" for valueless attributes)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.elements: list[tuple[str, dict]] = []
        # RCDATA containers: tags inside <title>/<textarea> are TEXT in
        # HTML5 (and jsoup), never elements — script/style are already
        # CDATA via html.parser's CDATA_CONTENT_ELEMENTS
        self._rcdata: Optional[str] = None

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._rcdata is not None:
            return
        if tag in ("title", "textarea"):
            self._rcdata = tag
            return
        if tag not in _TAGS_OF_INTEREST:
            return
        first: dict = {}
        for name, value in attrs:
            if name not in first:
                first[name] = value if value is not None else ""
        self.elements.append((tag, first))

    def handle_endtag(self, tag: str) -> None:
        if tag == self._rcdata:
            self._rcdata = None

    # self-closing tags (<base/>, <frame/>) route through handle_starttag
    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in ("title", "textarea"):
            return  # void RCDATA start never collects and never opens
        self.handle_starttag(tag, attrs)


def extract_link_elements(html: str) -> list[tuple[str, dict]]:
    """HTML text → ordered (tag, attrs) stream for base/a/frame/iframe/
    meta/link elements.  Malformed HTML is tolerated the way a stream
    tokenizer tolerates it (unclosed tags, mis-nesting); a document that
    breaks the parser outright yields the elements seen so far."""
    c = _LinkElementCollector()
    try:
        c.feed(html)
        c.close()
    except Exception:
        pass
    return c.elements


def _is_meta_refresh(attrs: dict) -> bool:
    # jsoup [http-equiv=refresh]: attribute value matched trimmed and
    # case-insensitively (org.jsoup.select.Evaluator.AttributeWithValue)
    return attrs.get("http-equiv", "").strip().lower() == "refresh"


def extract_links(html: str, document_url: str) -> list[str]:
    """The reference's enqueueLinksFromDocument over real HTML: candidate
    URLs in enqueue order (duplicates preserved — the frontier's seen-set
    dedups downstream, exactly as in the reference)."""
    try:
        doc_url = EdgeUrl.from_string(document_url)
    except Exception:
        return []
    els = extract_link_elements(html)

    base_hrefs = [a.get("href", "") for t, a in els if t == "base"]
    base = get_base_link(base_hrefs, doc_url)

    out: list[str] = []

    def _add(url: Optional[EdgeUrl]) -> None:
        if url is not None:
            out.append(str(url))

    for t, a in els:
        if t == "a":
            _add(parse_link_from_anchor(base, a.get("href", ""), a.get("rel", "")))
    for t, a in els:
        if t == "frame":
            _add(parse_link(base, a.get("src", "")))
    for t, a in els:
        if t == "meta" and _is_meta_refresh(a):
            _add(parse_meta_redirect(base, a.get("content", "")))
    for t, a in els:
        if t == "iframe":
            _add(parse_link(base, a.get("src", "")))
    for t, a in els:
        if t == "link":
            rel = a.get("rel", "")
            if rel.lower() in ("next", "prev"):
                _add(parse_link_from_anchor(base, a.get("href", ""), rel))
    return out


def with_html_links(df, html_col: str = "body_html", url_col: str = "url",
                    out_col: str = "links"):
    """DataFrame + ``out_col: array<string>`` of extracted candidate URLs.

    Arrow UDF; accepts a string or binary HTML column (bytes decode as
    UTF-8 with replacement — charset sniffing beyond UTF-8 is the caller's
    concern, matching the WARC-recorded charset).  A null body or URL
    gives ``[]``."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.arrow_udf(T.ArrayType(T.StringType()))
    def _links(html: pa.Array, urls: pa.Array) -> pa.Array:
        res = []
        for h, u in zip(html.to_pylist(), urls.to_pylist()):
            if h is None or u is None:
                res.append([])
                continue
            if isinstance(h, bytes):
                h = h.decode("utf-8", "replace")
            res.append(extract_links(h, u))
        return pa.array(res, pa.list_(pa.string()))

    return df.withColumn(out_col, _links(F.col(html_col), F.col(url_col)))


__all__ = [
    "extract_link_elements",
    "extract_links",
    "with_html_links",
]
