"""Deterministic synthetic web — the hermetic test/bench harness.

Modeled on the reference's mock-fetcher test architecture (an in-memory
URL→document map driving the full crawl loop; ref: code/processes/
crawling-process/test/nu/marginalia/crawling/retreival/
CrawlerMockFetcherTest.java:38-178), extended with per-domain robots,
probe results, redirects, sitemaps, feeds, error statuses and messy hrefs
per FIXTURES.md §2.

Everything derives from ``(seed, domain_index)`` via numpy PCG64, so any
slice of the web is reproducible without materializing the rest — the same
generator scales from 10-domain unit fixtures to the 10^10-URL bench ladder.

The "document body" payload of every 200 page is an image+caption pair
(FK into the corpus table), per the graft's input_hint.

Fetch semantics implemented by ``SyntheticWeb.fetch``:
- lookup ignores proto (EdgeUrl identity), but fetching with the wrong
  proto for the domain simulates a connection failure (status -1);
- status -1 → network exception; 429 → rate-limit exception (slow-down);
- 301/302 carry a Location; 404/500 carry no body.
"""

from __future__ import annotations

from dataclasses import MISSING, dataclass, field, fields
from functools import lru_cache
from typing import Optional

import numpy as np

from ..canon.domain import top_domain_of
from ..canon.url import EdgeUrl, parse_url

HTML = "text/html"
ICON = "image/x-icon"


@dataclass
class Page:
    url: str  # canonical URL string (domain's preferred proto)
    domain: str
    path: str
    param: Optional[str]
    status: int  # 200|301|404|429|500|-1
    redirect_to: Optional[str] = None
    content_type: str = HTML
    image_id: Optional[str] = None
    base_href: Optional[str] = None
    links: list[str] = field(default_factory=list)
    feed_links: list[str] = field(default_factory=list)
    body_marker: Optional[str] = None  # first bytes, for feed validation
    etag: Optional[str] = None
    last_modified: Optional[str] = None
    body_text: Optional[str] = None  # synthetic HTML body (LSH content arm)
    # transient-failure model for the in-client retry ladder
    # (HttpFetcherImpl.java:657-706): the first ``transient_count``
    # attempts of every fetch of this page answer ``transient_status``
    # (429/500/503, with ``retry_after`` as the Retry-After header);
    # later attempts serve the real page.  0 = always healthy.
    transient_status: int = 0
    transient_count: int = 0
    retry_after: Optional[str] = None
    # status served to the probe's HEAD request when nonzero (models
    # HEAD-misbehaving servers — the probe walk's GET-retry arm,
    # HttpFetcherImpl.java:292-300); 0 = same as GET
    head_status: int = 0
    # <link rel="icon" href=...> on the page (the sniff overrides the
    # default /favicon.ico with it — CrawlerRetreiver.java:333-339)
    icon_href: Optional[str] = None
    # Set-Cookie header served with this page's response; feeds the
    # per-domain cookie jar (DomainCookies.java) whose non-emptiness is
    # the has_cookies marker on every subsequent stored record
    set_cookie: Optional[str] = None
    # X-Robots-Tag response header(s); multiple headers joined with "||"
    # (SlopCrawlDataRecord.java:165-259 output-stage algebra)
    x_robots: Optional[str] = None


@dataclass
class DomainInfo:
    """Static per-domain facts the crawl session needs: a row of the
    domains table without ``top_domain``.  The field order is the key
    order of the ``info_json`` that ``SparkCrawlEngine.init_run`` stores."""

    domain: str
    proto: str = "https"  # preferred proto ("https"/"http")
    probe: str = "ok"  # "ok" | "redirect:<domain>" | "error"
    robots_txt: Optional[str] = None
    site_kind: str = "default"
    generator_meta: str = ""
    has_lemmy_config: bool = False
    sitemap_urls: list = field(default_factory=list)
    crawl_depth: int = 1000
    seed_urls: list = field(default_factory=list)


@lru_cache(maxsize=None)
def _field_names(cls) -> tuple[tuple[str, bool], ...]:
    """(name, has no default) per field of the dataclass ``cls``."""
    return tuple(
        (f.name, f.default is MISSING and f.default_factory is MISSING) for f in fields(cls)
    )


def from_row(cls, row: dict, **defaults):
    """The ``Page`` or ``DomainInfo`` of one table row (a dict; other keys
    are ignored).  A field the row lacks or holds as null takes
    ``defaults[name]`` if given, else the field's own default; a field
    with no default is passed as it is."""
    kw = {}
    for name, required in _field_names(cls):
        v = row.get(name)
        if v is None:
            v = defaults.get(name)
        if v is not None or required:
            kw[name] = v
    return cls(**kw)


def pages_by_key(rows) -> dict:
    """(domain, path, param) → ``Page`` for rows of the pages table, the
    page map a ``SyntheticWeb`` serves."""
    pages = {}
    for row in rows:
        page = from_row(Page, row)
        pages[(page.domain, page.path, page.param)] = page
    return pages


def conditional_304(page: Page, etag: Optional[str], last_modified: Optional[str]) -> bool:
    """Server-side conditional-GET decision: 304 iff the painted tag matches
    the resource's current validator.  Mirrors ContentTags.paint semantics
    (ref: ContentTags.java:20-31 — If-None-Match from the ETag, else
    If-Modified-Since from Last-Modified, never both)."""
    if page.status != 200:
        return False
    if etag is not None:
        return page.etag is not None and page.etag == etag
    if last_modified is not None:
        return page.last_modified is not None and page.last_modified == last_modified
    return False


def _apply_transient(page: Page, url: EdgeUrl, attempt: int) -> Page:
    """First ``transient_count`` attempts of a transient page answer the
    transient status with no body (a 429/5xx response carries nothing the
    crawler stores), preserving the Retry-After header."""
    if page.transient_status and attempt <= page.transient_count:
        return Page(
            str(url),
            url.domain.address,
            url.path,
            url.param,
            page.transient_status,
            retry_after=page.retry_after,
        )
    return page


class SyntheticWeb:
    def __init__(self, domains: dict[str, DomainInfo], pages: dict):
        self.domains = domains
        self._pages = pages  # (domain_address, path, param) → Page

    def page_at(self, url: EdgeUrl) -> Optional[Page]:
        return self._pages.get((url.domain.address, url.path, url.param))

    def fetch(self, url: EdgeUrl) -> Page:
        """Returns a Page; synthesizes 404 / -1 rows for misses and
        wrong-proto fetches (wrong proto = connection failure)."""
        info = self.domains.get(url.domain.address)
        if info is None or url.proto != info.proto:
            return Page(str(url), url.domain.address, url.path, url.param, -1)
        page = self.page_at(url)
        if page is None:
            return Page(str(url), url.domain.address, url.path, url.param, 404)
        return page

    def fetch_attempt(self, url: EdgeUrl, attempt: int = 1) -> Page:
        """Attempt-aware fetch: the first ``transient_count`` attempts of a
        transient page answer the transient status (body-less, carrying
        Retry-After); the retry ladder in the session drives ``attempt``."""
        return _apply_transient(self.fetch(url), url, attempt)

    def fetch_conditional(
        self,
        url: EdgeUrl,
        etag: Optional[str] = None,
        last_modified: Optional[str] = None,
        attempt: int = 1,
    ) -> tuple[Page, bool]:
        """(page, got_304) — conditional GET with reference tags."""
        page = self.fetch_attempt(url, attempt)
        return page, conditional_304(page, etag, last_modified)

    def all_pages(self) -> list[Page]:
        return list(self._pages.values())


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------

_KIND_CYCLE = (
    "default", "blogspot", "mediawiki", "default", "substack",
    "discourse", "default", "lemmy", "default", "default",
)

_TLDS = (".com", ".org", ".net", ".co.uk", ".ac.jp")
_SUBS = ("www.", "", "blog.")

_BODY_WORDS = (
    "archive", "barnacle", "cobalt", "derive", "estuary", "filament",
    "gantry", "harbor", "isotope", "juniper", "kestrel", "lattice",
    "meridian", "nocturne", "obsidian", "palisade", "quarry", "rivulet",
    "sextant", "timber", "umbra", "vellum", "warble", "xylem", "yonder",
    "zephyr", "anchor", "bellows", "cinder", "dovetail",
)

ROBOTS_VARIANTS = 6


def _dnum(i: int) -> str:
    """Domain-name-safe index: never emits a 4+-digit run (the reference's
    IpBlockList numeric rule blocks such hostnames at spec load)."""
    return str(i) if i < 1000 else f"{i // 1000}x{i % 1000}"


def _domain_name(i: int, kind: str) -> str:
    n = _dnum(i)
    if kind == "blogspot":
        return f"u{n}.blogspot.com"
    if kind == "substack":
        return f"s{n}.substack.com"
    if kind == "lemmy":
        return f"lemmy{n}.example.org"
    if kind == "mediawiki":
        return f"wiki{n}.example.org"
    if kind == "discourse":
        return f"forum{n}.example.net"
    return f"{_SUBS[i % 3]}site{n}{_TLDS[i % 5]}"


def _paths_for(kind: str, n: int, rng: np.random.Generator) -> list[tuple[str, Optional[str]]]:
    """Generate (path, param) tuples; index 0 is always the root."""
    out: list[tuple[str, Optional[str]]] = [("/", None)]
    k = 0
    while len(out) < n:
        k += 1
        r = rng.random()
        if kind == "mediawiki":
            if r < 0.6:
                out.append((f"/wiki/Page{k}", None))
            elif r < 0.75:
                out.append((f"/wiki/Talk:Page{k}", None))  # filtered by link filter
            elif r < 0.9:
                out.append(("/index.php", f"title=Page{k}"))  # .php filtered
            else:
                out.append((f"/wiki/Special:WhatLinksHere{k}", None))
        elif kind == "discourse":
            if r < 0.6:
                out.append((f"/t/topic-{k}/{k}", None))
            elif r < 0.8:
                out.append((f"/u/user{k}", None))  # filtered
            else:
                out.append(("/latest", f"page={k}" if k % 3 == 0 else None))
        elif kind == "lemmy":
            if r < 0.5:
                out.append((f"/post/{k}", None))
            elif r < 0.75:
                out.append((f"/c/community{k % 5}", None))
            else:
                out.append((f"/u/user{k}", None))  # filtered
        elif kind == "blogspot":
            if r < 0.75:
                out.append((f"/20{10 + k % 15:02d}/{1 + k % 12:02d}/post-{k}.html", None))
            else:
                out.append((f"/feeds/posts/{k}", None))  # filtered
        elif kind == "substack":
            if r < 0.7:
                out.append((f"/p/essay-{k}", None))
            else:
                out.append((f"/p/essay-{k}/comments", None))  # filtered
        else:
            if r < 0.35:
                out.append((f"/posts/post-{k}.html", None))
            elif r < 0.55:
                out.append((f"/cat/c{k % 7}/", None))
            elif r < 0.7:
                out.append(("/item.php", f"id={k}"))
            elif r < 0.8:
                out.append((f"/private/doc{k}.html", None))  # robots-disallow target
            elif r < 0.9:
                out.append((f"/about/team{k % 3}", None))
            else:
                out.append((f"/files/page with space {k}.html", None))
    return out[:n]


def _robots_for(i: int, kind: str, rng: np.random.Generator, sitemap_url: Optional[str]) -> Optional[str]:
    v = i % ROBOTS_VARIANTS
    lines: list[str] = []
    if v == 0:
        return None  # 404 robots → ALLOW_ALL
    if v == 1:
        lines = ["User-agent: *", "Disallow:"]
    elif v == 2:
        lines = ["User-agent: *", "Disallow: /private/", "Crawl-delay: 2"]
    elif v == 3:
        # blanket disallow with our-UA override (DomainCrawlerRobotsTxtTest)
        lines = [
            "User-agent: *",
            "Disallow: /",
            "",
            "User-agent: GoogleBot",
            "User-agent: search.marginalia.nu",
            "Disallow:",
            "Disallow: /private/",
        ]
    elif v == 4:
        lines = ["User-agent: *", "Disallow: /*.php$", "Crawl-delay: 0.5"]
    elif v == 5:
        lines = ["User-agent: *", "Disallow: /private/", "Disallow: /files/"]
    if sitemap_url:
        lines.append(f"Sitemap: {sitemap_url}")
        if i % 4 == 2:  # cross-domain sitemap directive must be ignored
            lines.append("Sitemap: https://evil.example.com/sitemap.xml")
    return "\n".join(lines) + "\n"


def _messy_hrefs(
    targets: list[str], rng: np.random.Generator, domain: str, proto: str
) -> list[str]:
    """Wrap canonical target paths in messy href shapes + add noise links."""
    hrefs: list[str] = []
    for t in targets:
        style = rng.integers(0, 6)
        if style == 0:
            hrefs.append(t)  # absolute path
        elif style == 1:
            hrefs.append(f"{proto}://{domain}{t}")  # absolute URL
        elif style == 2:
            hrefs.append(f"//{domain}{t}")  # scheme-relative
        elif style == 3:
            hrefs.append(t.lstrip("/"))  # relative to root page
        elif style == 4:
            hrefs.append(t + "#section-2")  # anchor to strip
        else:
            hrefs.append("../" + t.lstrip("/"))  # climbing relative
    # noise links that must all be rejected or deduped
    noise_pool = [
        "#top",
        "mailto:owner@" + domain,
        "javascript:void(0)",
        "tel:+15551234567",
        "/downloads/archive.zip",
        "/paper.pdf",
        "/repo/.git/config",
        "/hash/" + "0123456789abcdef" * 3,
        "https://www.youtube.com/watch?v=xyz",
        "https://t.co/short",
        "/x/" + "a" * 130,
        "/lists/announce/2020",
    ]
    picks = rng.choice(len(noise_pool), size=min(4, len(noise_pool)), replace=False)
    hrefs.extend(noise_pool[p] for p in picks)
    if targets:
        hrefs.append(targets[0])  # duplicate link — dedup case
        if "?" not in targets[0]:
            hrefs.append(targets[0] + "?tracking=drop&id=7")  # param sanitize case
    order = rng.permutation(len(hrefs))
    return [hrefs[o] for o in order]


def generate_web(
    seed: int = 42,
    n_domains: int = 12,
    mean_pages: int = 30,
    heavy_domain_pages: int = 0,
) -> tuple[SyntheticWeb, int]:
    """Build the web; returns (web, n_images_needed).

    ``heavy_domain_pages`` > 0 makes domain 0 that large (skew testing).
    """
    domains: dict[str, DomainInfo] = {}
    pages: dict = {}
    img_counter = 0

    for i in range(n_domains):
        rng = np.random.default_rng([seed, 1000 + i])
        kind = _KIND_CYCLE[i % len(_KIND_CYCLE)]
        name = _domain_name(i, kind)
        proto = "https" if (i % 5 != 3) else "http"  # every 5th domain http-only

        if i % 11 == 7:
            probe = f"redirect:www.site{i + 1}.com"
        elif i % 11 == 10:
            probe = "error"
        else:
            probe = "ok"

        if heavy_domain_pages and i == 0:
            n_pages = heavy_domain_pages
        else:
            # zipf-ish sizes, min 4
            n_pages = max(4, int(mean_pages * (1.0 + rng.pareto(1.5))))
            n_pages = min(n_pages, mean_pages * 20)

        path_list = _paths_for(kind, n_pages, rng)
        canonical = [f"{proto}://{name}{p}" + (f"?{q}" if q else "") for p, q in path_list]

        # sitemap: some domains expose extra orphan pages through it
        sitemap_url = None
        sitemap_urls: list[str] = []
        nested_sitemap = i % 8 == 2  # some domains use a sitemapindex root
        if i % 4 == 2 and n_pages > 6:
            sitemap_url = f"{proto}://{name}/sitemap.xml"
            orphan_paths = [(f"/orphan/sm{k}.html", None) for k in range(3)]
            path_list.extend(orphan_paths)
            canonical.extend(f"{proto}://{name}{p}" for p, _ in orphan_paths)
            picks = rng.choice(len(canonical), size=min(8, len(canonical)), replace=False)
            sitemap_urls = [canonical[p] for p in picks]
            sitemap_urls.append(f"https://evil.example.com/page")  # same-domain filter case

        robots = _robots_for(i, kind, rng, sitemap_url)

        depth = int(rng.choice([10, 25, 100, 1000]))
        seed_urls: list[str] = []
        if i % 3 == 0 and len(canonical) > 2:
            seed_urls = [canonical[1]]
        if i % 6 == 0 and len(canonical) > 3:
            seed_urls.append(canonical[2].replace("https://", "http://", 1))

        domains[name] = DomainInfo(
            domain=name,
            proto=proto,
            probe=probe,
            robots_txt=robots,
            site_kind=kind,
            crawl_depth=depth,
            seed_urls=seed_urls,
            sitemap_urls=sitemap_urls,
            generator_meta=(
                "MediaWiki 1.39.1" if kind == "mediawiki"
                else "Discourse 2.8" if kind == "discourse" else ""
            ),
            has_lemmy_config=(kind == "lemmy"),
        )

        # per-page records
        for idx, (path, param) in enumerate(path_list):
            prng = np.random.default_rng([seed, 1000 + i, idx])
            r = prng.random()
            status = 200
            redirect_to = None
            transient_status = 0
            transient_count = 0
            retry_after = None
            if idx == 0:
                # the probe classification is DISCOVERED by the walk
                # (DomainProber.java:36-67), so the root page serves the
                # behavior the spec's probe fact describes: a redirect
                # probe is a cross-domain 301 root, an error probe is a
                # root that 500s under HEAD and GET alike
                if probe.startswith("redirect:"):
                    status = 301
                    redirect_to = f"https://{probe.split(':', 1)[1]}/"
                elif probe == "error":
                    status = 500
            if idx > 0:  # healthy roots stay 200 so sniffing has content
                if r < 0.04:
                    status = 404
                elif r < 0.07:
                    status = 301
                    tgt = canonical[int(prng.integers(0, len(canonical)))]
                    if prng.random() < 0.15:
                        tgt = "https://elsewhere.example.com/x"  # cross-domain redirect
                    redirect_to = tgt
                elif r < 0.09:
                    status = 500
                elif r < 0.10:
                    status = 429
                elif r < 0.11:
                    status = -1
                elif r < 0.125:
                    # flaky rate-limiter: ≤3 transient 429s then OK — the
                    # in-client retry ladder must recover these
                    transient_status = 429
                    transient_count = 1 + int(prng.integers(0, 3))
                    retry_after = [None, "3", "0", "120", "soon(tm)"][
                        int(prng.integers(0, 5))
                    ]
                elif r < 0.135:
                    # flaky backend: ≤2 transient 5xx then OK
                    transient_status = 503 if prng.random() < 0.5 else 500
                    transient_count = 1 + int(prng.integers(0, 2))
                elif r < 0.14:
                    # obstinate rate-limiter: still 429 after every retry —
                    # the ladder exhausts and the page lands in the error
                    # budget exactly like a hard 429
                    transient_status = 429
                    transient_count = 99
                    retry_after = "2"

            links: list[str] = []
            image_id = None
            if status == 200:
                n_links = int(prng.integers(3, 9))
                picks = prng.integers(0, len(path_list), size=n_links)
                targets = []
                for p in picks:
                    tp, tq = path_list[int(p)]
                    targets.append(tp + (f"?{tq}" if tq else ""))
                links = _messy_hrefs(targets, prng, name, proto)
                image_id = f"img-{img_counter:010d}"
                img_counter += 1

            feed_links = []
            body_marker = None
            if path == "/" and i % 3 == 1:
                feed_links = ["/feed.rss"]
            if path == "/":
                pass
            etag = f'W/"{i}-{idx}"' if prng.random() < 0.5 else None
            last_modified = (
                "Mon, 01 Jan 2024 00:00:00 GMT" if prng.random() < 0.5 else None
            )
            # ~10% of pages set a session cookie (Path attribute dropped by
            # the jar parse, like the reference's first-;-part rule).
            # Derived from a CRC, NOT prng — planting cookies must not
            # shift the shared RNG stream (the web, and therefore the
            # bench visited set, stays identical across rounds)
            import zlib as _zlib

            set_cookie = (
                f"sid={i}-{idx}; Path=/"
                if _zlib.crc32(f"ck|{name}|{path}|{param}".encode()) % 10 == 0
                else None
            )
            body_text = None
            if status == 200:
                # deterministic pseudo-HTML body — the LSH content-compare
                # arm of the revisit logic needs real (near-)identical text
                wpicks = prng.integers(0, len(_BODY_WORDS), size=int(40 + prng.integers(0, 80)))
                body_text = (
                    f"<html><head><title>{path}</title></head><body>"
                    f"<h1>{name}{path}</h1><p>"
                    + " ".join(_BODY_WORDS[int(w)] for w in wpicks)
                    + "</p></body></html>"
                )

            page = Page(
                url=canonical[idx] if idx < len(canonical) else f"{proto}://{name}{path}",
                domain=name,
                path=path,
                param=param,
                status=status,
                redirect_to=redirect_to,
                content_type=HTML,
                image_id=image_id,
                links=links,
                feed_links=feed_links,
                body_marker=body_marker,
                etag=etag,
                last_modified=last_modified,
                body_text=body_text,
                transient_status=transient_status,
                transient_count=transient_count,
                retry_after=retry_after,
                set_cookie=set_cookie,
            )
            pages[(name, path, param)] = page

        # probe-walk arms on healthy domains:
        # - every 13th: internal-redirect root (root 301 → /home.html; the
        #   walk hops same-domain and returns Ok, then the sniff's
        #   ResultRedirect arm addFirst()s the target —
        #   CrawlerRetreiver.java:305-311)
        # - every 17th: HEAD-misbehaving root (405 to HEAD, 200 to GET —
        #   the walk's try-GET arm, HttpFetcherImpl.java:292-300)
        if probe == "ok" and i % 13 == 4:
            root = pages[(name, "/", None)]
            pages[(name, "/home.html", None)] = Page(
                url=f"{proto}://{name}/home.html", domain=name,
                path="/home.html", param=None, status=200,
                content_type=root.content_type, image_id=root.image_id,
                links=root.links, feed_links=root.feed_links,
                body_marker=root.body_marker, etag=root.etag,
                last_modified=root.last_modified, body_text=root.body_text,
            )
            pages[(name, "/", None)] = Page(
                url=root.url, domain=name, path="/", param=None,
                status=301, redirect_to=f"{proto}://{name}/home.html",
            )
        if probe == "ok" and i % 17 == 6:
            pages[(name, "/", None)].head_status = 405
        if probe == "ok" and i % 14 == 3:
            # custom favicon declared via <link rel=icon> on the root
            root = pages[(name, "/", None)]
            if root.status == 200:
                root.icon_href = "/assets/icon.png"
                pages[(name, "/assets/icon.png", None)] = Page(
                    url=f"{proto}://{name}/assets/icon.png", domain=name,
                    path="/assets/icon.png", param=None,
                    status=200, content_type="image/png",
                )

        # favicon + feed endpoint extras
        if i % 2 == 0:
            pages[(name, "/favicon.ico", None)] = Page(
                url=f"{proto}://{name}/favicon.ico",
                domain=name, path="/favicon.ico", param=None,
                status=200, content_type=ICON,
            )
        if i % 3 == 1:
            # the declared feed link must actually resolve (feed_links on
            # the root points at /feed.rss)
            pages[(name, "/feed.rss", None)] = Page(
                url=f"{proto}://{name}/feed.rss",
                domain=name, path="/feed.rss", param=None,
                status=200, content_type="application/rss+xml",
                body_marker="<rss version=\"2.0\">",
            )
        if i % 3 == 2:
            pages[(name, "/rss.xml", None)] = Page(
                url=f"{proto}://{name}/rss.xml",
                domain=name, path="/rss.xml", param=None,
                status=200, content_type="application/rss+xml",
                body_marker="<rss version=\"2.0\">",
            )
        if sitemap_url:
            # serve real sitemap XML; the crawler walks it through the
            # urlset/sitemapindex parser (functions/sitemap.py)
            def _urlset(urls):
                body = "".join(f"<url><loc>{u}</loc></url>" for u in urls)
                return f'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">{body}</urlset>'

            if nested_sitemap:
                half = len(sitemap_urls) // 2
                subs = [
                    (f"/sitemap-a.xml", sitemap_urls[:half]),
                    (f"/sitemap-b.xml", sitemap_urls[half:]),
                ]
                index_body = "".join(
                    f"<sitemap><loc>{proto}://{name}{p}</loc></sitemap>" for p, _ in subs
                )
                pages[(name, "/sitemap.xml", None)] = Page(
                    url=sitemap_url, domain=name, path="/sitemap.xml", param=None,
                    status=200, content_type="application/xml",
                    body_marker=f'<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">{index_body}</sitemapindex>',
                )
                for p, urls in subs:
                    pages[(name, p, None)] = Page(
                        url=f"{proto}://{name}{p}", domain=name, path=p, param=None,
                        status=200, content_type="application/xml",
                        body_marker=_urlset(urls),
                    )
            else:
                pages[(name, "/sitemap.xml", None)] = Page(
                    url=sitemap_url, domain=name, path="/sitemap.xml", param=None,
                    status=200, content_type="application/xml",
                    body_marker=_urlset(sitemap_urls),
                )

    return SyntheticWeb(domains, pages), img_counter


def web_to_frames(web: SyntheticWeb):
    """(pages_df, domains_df) as pandas — the parquet/Spark representation,
    with the ``spark_schemas`` columns in their order (createDataFrame maps
    pandas columns by position; ``url`` is Page's first field but the
    schema's fourth).  Columns are read with getattr: ``dataclasses.asdict``
    deep-copies every record."""
    import pandas as pd

    ps, ds = spark_schemas()
    pages = web.all_pages()
    domains = list(web.domains.values())
    top = [top_domain_of(d.domain) for d in domains]
    return (
        pd.DataFrame({c: [getattr(p, c) for p in pages] for c in ps.names}),
        pd.DataFrame(
            {c: top if c == "top_domain" else [getattr(d, c) for d in domains] for c in ds.names}
        ),
    )


def normalize_pages_pdf(pdf):
    """Fill schema columns a hand-built fixture omitted with the ``Page``
    field's scalar default and put columns in schema order
    (createDataFrame maps by position)."""
    for f in fields(Page):
        if f.name not in pdf.columns and f.default is not MISSING:
            pdf[f.name] = f.default
    return pdf[spark_schemas()[0].names]


def spark_schemas():
    """Explicit StructTypes for the web tables (schema inference would fail
    on all-null columns; the engine declares schemas, never infers —
    matching the reference's fixed-schema discipline, SURVEY §1.1)."""
    from pyspark.sql import types as T

    pages = T.StructType(
        [
            T.StructField("domain", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("param", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("redirect_to", T.StringType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("image_id", T.StringType()),
            T.StructField("base_href", T.StringType()),
            T.StructField("links", T.ArrayType(T.StringType())),
            T.StructField("feed_links", T.ArrayType(T.StringType())),
            T.StructField("body_marker", T.StringType()),
            T.StructField("etag", T.StringType()),
            T.StructField("last_modified", T.StringType()),
            T.StructField("body_text", T.StringType()),
            T.StructField("transient_status", T.IntegerType()),
            T.StructField("transient_count", T.IntegerType()),
            T.StructField("retry_after", T.StringType()),
            T.StructField("head_status", T.IntegerType()),
            T.StructField("icon_href", T.StringType()),
            T.StructField("set_cookie", T.StringType()),
            T.StructField("x_robots", T.StringType()),
        ]
    )
    domains = T.StructType(
        [
            T.StructField("domain", T.StringType()),
            T.StructField("top_domain", T.StringType()),
            T.StructField("proto", T.StringType()),
            T.StructField("probe", T.StringType()),
            T.StructField("robots_txt", T.StringType()),
            T.StructField("site_kind", T.StringType()),
            T.StructField("crawl_depth", T.IntegerType()),
            T.StructField("seed_urls", T.ArrayType(T.StringType())),
            T.StructField("sitemap_urls", T.ArrayType(T.StringType())),
            T.StructField("generator_meta", T.StringType()),
            T.StructField("has_lemmy_config", T.BooleanType()),
        ]
    )
    return pages, domains


@lru_cache(maxsize=1 << 16)
def fetch_time_ms(url: str) -> int:
    """Deterministic simulated fetch duration for the virtual clock.
    Cached — the session consults it 2-3× per fetched URL."""
    from ..canon.murmur import hash_nearly_ascii

    return 50 + (hash_nearly_ascii(url) % 300)
