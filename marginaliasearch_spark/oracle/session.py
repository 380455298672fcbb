"""DomainCrawlSession — the per-domain sequential crawl state machine.

This is the single implementation of the reference's per-domain crawl
semantics (CrawlerRetreiver + DomainCrawlFrontier + CrawlDelayTimer +
CrawlerRevisitor; citations in oracle/crawler.py and oracle/frontier.py).
It is used in two places:

- the single-threaded oracle (run to completion, golden model);
- the Spark wave UDF (budgeted ``run(max_fetches)`` per wave, with queue +
  seen-set persisted as frontier-table rows and the residual scalar state
  as a ``domain_state`` row between waves).

The reference itself runs one sequential loop per domain on a thread pool
(CrawlerMain.java:147-150) — the sequential inner loop is the *semantics*,
Spark provides the distribution.  Wave boundaries are checkpoint points:
a session serialized at any fetch boundary and rehydrated resumes exactly.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Optional, Protocol

import numpy as np

# determinism pin for HTTP-date Retry-After values (the reference computes
# the delay relative to wall-clock now — HttpFetcherImpl.java:719-725; the
# virtual clock substitutes a fixed epoch so runs are reproducible)
_RETRY_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

from ..canon.domain import EdgeDomain
from ..canon.linkparser import get_base_link, parse_link, parse_link_from_anchor
from ..canon.url import EdgeUrl, parse_url
from ..functions.robots import RobotRules, parse_robots_txt
from ..operators.blocklist import is_url_blocked
from ..operators.linkfilter import select_filter_kind
from ..sources.synthetic_web import DomainInfo, Page, fetch_time_ms
from .frontier import DomainFrontier

MAX_ERRORS = 20
USER_AGENT = "search.marginalia.nu"
DEFAULT_DELAY_MIN_MS = 1000
DEFAULT_DELAY_MAX_MS = 2500

# Slop record timestamps (SlopCrawlDataRecord.java:50 — epoch millis of
# the fetch) ride the session's virtual clock over the same fixed epoch
# as Retry-After, so stored records are bit-reproducible across runs
_RECORD_EPOCH_MS = int(_RETRY_EPOCH.timestamp() * 1000)


def synth_ip(domain: str) -> str:
    """Deterministic resolver analogue for the simulated web: the Slop
    ``ip`` column (SlopCrawlDataRecord.java:47) records the address the
    client connected to; the simulation derives one stable RFC-1918
    address per domain from the canonical url hash kernel."""
    from ..canon.murmur import hash_nearly_ascii

    h = hash_nearly_ascii(domain)
    return f"10.{(h >> 16) & 255}.{(h >> 8) & 255}.{h & 255}"


def _header_block(page: Page, tags: list) -> str:
    """Reconstructed raw response-header block — the Slop ``header``
    string column (SlopCrawlDataRecord.java:54 stores the wire headers; a
    simulated response reconstructs them from its typed fields, one
    ``Name: value`` line each, in a canonical order)."""
    lines = [f"Content-Type: {page.content_type}"]
    if page.etag:
        lines.append(f"ETag: {page.etag}")
    if page.last_modified:
        lines.append(f"Last-Modified: {page.last_modified}")
    for t in tags:
        lines.append(f"X-Robots-Tag: {t}")
    if page.set_cookie:
        lines.append(f"Set-Cookie: {page.set_cookie}")
    return "\n".join(lines)
# per-request budgets (WarcRecorder.java:41-45): bodies stream-truncated at
# 32 MB, a single fetch capped at 30 s.  The synthetic fetch honors both:
# bodies are clipped before recording/fingerprinting, and fetch_time_ms is
# bounded ≪ the time budget by construction.
MAX_BODY_BYTES = 32 * 1024 * 1024
MAX_FETCH_TIME_MS = 30_000

LIKELY_FEED_ENDPOINTS = [
    "rss.xml", "atom.xml", "feed.xml", "index.xml", "feed",
    "rss", "atom", "feeds", "blog/feed", "blog/rss",
]

# frontier-row states
QUEUED = "QUEUED"
KNOWN = "KNOWN"
VISITED = "VISITED"
REFUSED = "REFUSED"


def _lsh64_signed(body: str) -> int:
    """EasyLSH content fingerprint as a signed 64-bit int (LongType-safe;
    0 reserved as the storage 'absent' sentinel — canon/easylsh.py)."""
    from ..canon.easylsh import content_hash_signed

    return content_hash_signed(body)


class WebLike(Protocol):
    """What a session fetches from: ``SyntheticWeb`` in memory (the whole
    generated web in the oracle, one domain's cogrouped pages in a Spark
    wave) or ``HttpWeb`` over real sockets (sources/httpweb.py)."""

    def fetch(self, url: EdgeUrl) -> Page: ...
    def fetch_attempt(self, url: EdgeUrl, attempt: int = 1) -> Page: ...
    def fetch_conditional(
        self,
        url: EdgeUrl,
        etag: Optional[str] = None,
        last_modified: Optional[str] = None,
        attempt: int = 1,
    ) -> tuple[Page, bool]: ...
    def page_at(self, url: EdgeUrl) -> Optional[Page]: ...


class Timer:
    """CrawlDelayTimer on a virtual clock, zero jitter (determinism pin)."""

    def __init__(self, crawl_delay_ms: int, clock_ms: int = 0, slow_down: bool = False):
        self.delay_ms = crawl_delay_ms if crawl_delay_ms > 0 else DEFAULT_DELAY_MIN_MS
        self.explicit = crawl_delay_ms > 0
        self.slow_down = slow_down
        self.clock_ms = clock_ms

    def sleep(self, ms: int) -> None:
        self.clock_ms += ms

    def wait_fetch_delay(self, spent_ms: int = 0) -> None:
        if self.explicit:
            if spent_ms <= self.delay_ms:
                self.sleep(min(self.delay_ms - spent_ms, 5000))
        else:
            sleep_time = min(max(spent_ms * 2, DEFAULT_DELAY_MIN_MS), DEFAULT_DELAY_MAX_MS)
            if spent_ms <= sleep_time:
                self.sleep(sleep_time - spent_ms)
        if self.slow_down:
            self.sleep(DEFAULT_DELAY_MIN_MS)


class DomainCrawlSession:
    """Phases: pending → (blocked|redirect|error | active) → done."""

    def __init__(
        self,
        info: DomainInfo,
        web: WebLike,
        seed: int = 42,
        body_cap_bytes: int = MAX_BODY_BYTES,
    ):
        self.info = info
        self.web = web
        self.seed = seed
        # per-request body budget (WarcRecorder.java:41-45 hardcodes 32 MB;
        # parameterized here so the clip boundary is gate-testable at
        # fixture scale — the default IS the reference constant)
        self.body_cap_bytes = body_cap_bytes
        self.edge_domain = EdgeDomain(info.domain)

        self.phase = "pending"
        self.frontier = DomainFrontier(self.edge_domain, [], info.crawl_depth)
        self.rules = RobotRules()
        self.timer = Timer(0)
        self.error_count = 0
        self.crawler_additions = 0
        self.recrawl_size = 0
        # RecrawlMetadata counters (CrawlerRevisitor.RecrawlMetadata)
        self.recrawl_recrawled = 0
        self.recrawl_retained = 0
        self.recrawl_skipped = 0
        self.feed_url: Optional[str] = None  # discovered feed (DomainStateDb)
        self.favicon_url: Optional[str] = None  # stored icon (saveIcon analogue)
        self.favicon_content_type: Optional[str] = None
        # per-domain cookie jar (DomainCookies.java; one per CrawlerRetreiver)
        from ..functions.cookies import DomainCookies

        self.cookies = DomainCookies()

        # per-wave output buffers (drained by the caller)
        self.new_crawl_data: list[dict] = []
        self.new_fetch_log: list[dict] = []
        self.new_visits: list[str] = []
        self.new_edges: list[tuple[str, str]] = []  # (src_url, dst_url) link graph

    # ------------------------------------------------------------------
    # wave 0: probe + robots + sniff + recrawl + sitemaps
    # ------------------------------------------------------------------

    def setup(
        self,
        prev_crawl: Optional[list[dict]] = None,
        atag_urls: Optional[list[str]] = None,
    ) -> str:
        assert self.phase == "pending"
        info = self.info

        # seed URLs enqueue (frontier ctor semantics: default supports_https=True)
        for url_str in info.seed_urls:
            url = parse_url(url_str)
            if url is not None:
                self.frontier.add_to_queue(url)
        fst = self.frontier.peek()
        if fst is not None:
            self.frontier.add_first(fst.with_path_and_param("/", None))

        kind, payload = self._probe_root()
        if kind == "error":
            self.phase = "error"
            return self.phase
        if kind == "redirect":
            self.phase = "redirect"
            return self.phase

        probed = payload.with_path_and_param("/", None)
        self.frontier.supports_https = probed.proto == "https"

        self.rules = parse_robots_txt(info.robots_txt, USER_AGENT)
        # the walk's probe time stays on the clock (the timer only learns
        # its crawl delay here, it doesn't reset)
        self.timer = Timer(self.rules.crawl_delay_ms, clock_ms=self.timer.clock_ms)
        self.timer.sleep(1000)  # post-probe politeness sleep

        if not self.rules.is_allowed(str(probed)):
            self._log(str(probed), "REFUSED_ROBOTS")
            self.frontier.mark_refused(probed)
            self.phase = "blocked"
            return self.phase
        self.timer.wait_fetch_delay(0)

        self._sniff_root(probed)

        if prev_crawl:
            self.recrawl_size, rc_errors = self._recrawl(prev_crawl)
            self.error_count += rc_errors
            if self.recrawl_size > 0:
                self.frontier.increase_depth(1.5, 2500)

        # anchor-tags side input: external links pointing at this domain
        # (ref: CrawlerMain.java:675; CrawlerRetreiver.java:195-196)
        if atag_urls:
            urls = []
            for u in atag_urls:
                pu = parse_url(u)
                if pu is not None:
                    urls.append(pu)
            self.frontier.add_all(urls)

        self._enqueue_sitemaps(probed)

        self.phase = "active"
        return self.phase

    # ------------------------------------------------------------------
    # domain probe (HEAD walk)
    # ------------------------------------------------------------------

    def _probe_root(self) -> tuple[str, object]:
        """Probe https://domain/ first, falling back to http when the
        https walk errors (DomainProber.java:36-67; the retriever always
        starts from an https root — CrawlerRetreiver.java:276-279).
        Returns ("ok", EdgeUrl) | ("redirect", domain) | ("error", why)."""
        res = self._probe_walk(EdgeUrl("https", self.edge_domain, None, "/", None))
        if res[0] == "error":
            res = self._probe_walk(EdgeUrl("http", self.edge_domain, None, "/", None))
        return res

    def _probe_walk(self, start: EdgeUrl) -> tuple[str, object]:
        """One probe walk (HttpFetcherImpl.probeDomain, :236-323): up to 4
        HEAD hops; 200/206 → Ok(START url); same-domain 3xx → keep walking
        (1 s between hops); cross-domain 3xx → Redirect; connection
        failure → Error (the exception arm — no GET retry); any other
        status once → retry the START url with GET, twice → Error.  Each
        request rides the in-client retry ladder, exactly like the
        reference's shared HTTP client."""
        urls = [start]
        redirects = 0
        try_get = False
        while urls:
            redirects += 1
            if redirects >= 5:
                break
            top = urls.pop(0)
            page, _, _ = self._client_fetch(top, use_jar=False)
            status = page.status
            if not try_get and page.head_status:
                status = page.head_status
            self._log(str(top), "PROBE_GET" if try_get else "PROBE_HEAD", status)
            if status in (200, 206):
                return ("ok", start)
            if status in (301, 302, 307):
                loc = parse_link(top, page.redirect_to) if page.redirect_to else None
                if loc is None:
                    return ("error", "bad location header on redirect")
                if loc.domain == top.domain:
                    urls.append(loc)
                else:
                    return ("redirect", loc.domain.address)
            elif status == -1:
                return ("error", "connection failure during probe")
            else:
                if not try_get:
                    try_get = True
                    urls.append(start)
                else:
                    return ("error", f"status {status}, tried HEAD and GET")
            self.timer.sleep(1000)  # pre-robots pacing between hops
        return ("error", "failed to resolve domain root")

    # ------------------------------------------------------------------
    # BFS waves
    # ------------------------------------------------------------------

    def run(self, max_fetches: Optional[int] = None) -> str:
        """Run the BFS loop for up to ``max_fetches`` fetch attempts."""
        assert self.phase == "active"
        fetches = 0
        frontier = self.frontier
        while (
            not frontier.is_empty()
            and not frontier.is_crawl_depth_reached()
            and self.error_count < MAX_ERRORS
        ):
            if max_fetches is not None and fetches >= max_fetches:
                return self.phase  # still active — wave budget exhausted

            top = frontier.take_next()

            if not self.rules.is_allowed(str(top)):
                self._log(str(top), "REFUSED_ROBOTS")
                frontier.mark_refused(top)
                continue
            if not frontier.filter_link(top):
                continue
            if is_url_blocked(top):
                continue
            if top.proto not in ("http", "https"):
                continue
            if len(str(top)) > 255:
                continue
            if not frontier.add_visited(top):
                continue

            fetches += 1
            probe = self._content_type_probe(top)
            if probe is not None:
                kind, payload = probe
                self.new_visits.append(str(top))
                self.timer.wait_fetch_delay(0)  # post-fetchContent wait
                if kind == "redirect":
                    if payload.domain == self.edge_domain:
                        frontier.add_first(payload)
                elif kind == "http_error":
                    self.error_count += 1
                continue
            page = self._fetch(top)
            spent = fetch_time_ms(str(top))
            self._log(str(top), "FETCH", page.status)
            self.new_visits.append(str(top))
            self.timer.wait_fetch_delay(spent)

            if page.status in (200, 206):
                # 206 Partial Content is a good status like 200 (Range
                # responses — HttpFetcherImplFetchTest.testRangeResponse;
                # SlopCrawlDataRecord counts 200/206 as stored statuses)
                self.crawler_additions += 1
                if page.content_type == "text/html":
                    self._enqueue_links(top, page)
                    frontier.add_visited(top)
                self._record(page, top)
            elif page.status in (301, 302, 307) and page.redirect_to:
                loc = parse_link(top, page.redirect_to)
                if loc is not None and loc.domain == self.edge_domain:
                    frontier.add_first(loc)
            elif page.status in (429, -1):
                if page.status == 429:
                    self.timer.slow_down = True
                    self.timer.sleep(1000)
                self.error_count += 1

        self.phase = "done"
        return self.phase

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------

    def _log(self, url: str, action: str, status: int = 0) -> None:
        self.new_fetch_log.append(
            {"url": url, "action": action, "status": status, "virtual_ms": self.timer.clock_ms}
        )

    def _retry_interval_ms(self, status: int, retry_after: Optional[str]) -> int:
        """HttpFetcherImpl.getRetryInterval (ref: HttpFetcherImpl.java:
        682-706): 503 → 5 s; 429 → Retry-After clamped [1, 10] s when
        parseable and positive, else 2 s; everything else 2 s."""
        from ..functions.retry_after import parse_retry_after_seconds

        if status == 503:
            return 5000
        if status == 429:
            secs = parse_retry_after_seconds(retry_after, now=_RETRY_EPOCH)
            if secs > 0:
                return max(1, min(secs, 10)) * 1000
        return 2000

    def _client_fetch(
        self,
        url: EdgeUrl,
        etag: Optional[str] = None,
        last_modified: Optional[str] = None,
        use_jar: bool = True,
    ) -> tuple[Page, bool, int]:
        """The HTTP client's in-client retry ladder (ref:
        HttpFetcherImpl.retryRequest, HttpFetcherImpl.java:657-678):
        429 retried ≤3×, 500/503 retried ≤2×, connection failures (-1,
        the timeout/SSL/UnknownHost arms) never retried.  Each attempt
        costs its fetch time on the virtual clock; each retry waits the
        Retry-After-derived interval.  Returns (page, got_304, n_retries);
        retries are audit-logged as FETCH_RETRY actions."""
        attempt = 1
        while True:
            page, got304 = self.web.fetch_conditional(
                url, etag, last_modified, attempt=attempt
            )
            self.timer.sleep(fetch_time_ms(str(url)))
            s = page.status
            retry = (s == 429 and attempt <= 3) or (s in (500, 503) and attempt <= 2)
            if not retry:
                # the jar updates on every response the domain's fetcher
                # sees (WarcRecorder.java:114, probeContentType
                # HttpFetcherImpl.java:349) — BEFORE any record is
                # written; the domain-root probe walk does not carry the
                # jar (probeDomain uses a bare client)
                if use_jar and page.set_cookie:
                    self.cookies.update_from_set_cookie([page.set_cookie])
                return page, got304, attempt - 1
            self._log(str(url), "FETCH_RETRY", s)
            self.timer.sleep(self._retry_interval_ms(s, page.retry_after))
            attempt += 1

    def _fetch(self, url: EdgeUrl) -> Page:
        page, _, _ = self._client_fetch(url)
        return page

    def _content_type_probe(
        self,
        url: EdgeUrl,
        etag: Optional[str] = None,
        last_modified: Optional[str] = None,
    ):
        """HEAD-before-GET content-type probe for binary-looking URLs
        (HttpFetcherImpl.probeContentType:332-400 + the fetchContent arm
        handling :408-446).  Skipped when content tags are painted or the
        URL doesn't look binary (the NoOp arm, which pays no delay).

        Returns None when the GET should proceed (NoOp / allowed type /
        405-can't-probe), else a terminal (kind, payload):
        ("bad_type", content_type) — flagged, no GET, no error;
        ("redirect", EdgeUrl)      — ResultRedirect, no GET;
        ("http_error", status)     — ResultException, error budget.
        Probed arms pay the probe's finally-wait on the virtual clock."""
        from ..functions.contenttype import (
            is_allowable_content_type,
            is_url_like_binary,
        )

        if etag is not None or last_modified is not None:
            return None
        if not is_url_like_binary(url.path):
            return None
        page, _, _ = self._client_fetch(url)  # the HEAD rides the retry ladder
        status = page.head_status if page.head_status else page.status
        if status in (301, 302, 307):
            loc = parse_link(url, page.redirect_to) if page.redirect_to else None
            out = ("http_error", status) if loc is None else ("redirect", loc)
        elif status == 405:
            out = None  # can't probe with HEAD — proceed with the GET
        elif status < 200 or status > 300:
            out = ("http_error", status)
        else:
            ct = page.content_type
            if ct is None:
                out = ("http_error", status)  # missing Content-Type header
            elif not is_allowable_content_type(ct):
                out = ("bad_type", ct)
            else:
                out = None
        if out is None:
            self._log(str(url), "PROBE_CT_OK", status)
        elif out[0] == "bad_type":
            self._log(str(url), "FAILED_CONTENT_TYPE", status)
        elif out[0] == "redirect":
            self._log(str(url), "PROBE_CT_REDIRECT", status)
        else:
            self._log(str(url), "PROBE_CT_ERROR", out[1])
        self.timer.wait_fetch_delay(0)  # probeContentType's finally-wait
        return out

    def _record(self, page: Page, url: EdgeUrl) -> None:
        # output-stage gate: only whitelisted content types are stored
        # (robots.txt / X-Robots-Tag handled by should_store_response;
        # ref: SlopCrawlDataRecord.java:165-259).  The page still counts
        # as visited — the gate is at-rest only.
        from ..functions.xrobots import should_store_response

        tags = page.x_robots.split("||") if page.x_robots else []
        if not should_store_response(url.path, page.content_type, tags, USER_AGENT):
            return
        rec = {
            "domain": self.info.domain,
            "url": str(url),
            "http_status": page.status,
            "content_type": page.content_type,
            "image_id": page.image_id,
            "etag": page.etag,
            "last_modified": page.last_modified,
            # Slop at-rest parity (SlopCrawlDataRecord.java:35-54): the
            # resolved server ip, the record's epoch-millis timestamp
            # (virtual clock over the fixed epoch — reproducibility pin),
            # the request duration, and the raw response header block
            # (reconstructed from the simulated response; a live client
            # stores the wire bytes here)
            "ip": synth_ip(self.info.domain),
            "timestamp": _RECORD_EPOCH_MS + self.timer.clock_ms,
            "request_time_ms": fetch_time_ms(str(url)),
            "header": _header_block(page, tags),
            # the Slop `cookies` byte column / X-Has-Cookies WARC marker
            # (SlopCrawlDataRecord.java:48; WarcRecorder.java:140-141) —
            # jar state AFTER this response updated it
            "has_cookies": 1 if self.cookies.has_cookies() else 0,
            # 8-byte content fingerprint stored in lieu of the body — the
            # next recrawl's LSH "is content same" arm reads it back.
            # Bodies past the 32 MB budget are clipped first, exactly like
            # the reference's streaming truncation (WarcRecorder.java:41-45).
            "lsh64": (
                _lsh64_signed(page.body_text[: self.body_cap_bytes])
                if page.body_text is not None
                else None
            ),
        }
        self.new_crawl_data.append(rec)

    def _enqueue_links(self, base_url: EdgeUrl, page: Page) -> None:
        base = get_base_link([page.base_href] if page.base_href else [], base_url)
        src = str(base_url)
        for href in page.links:
            url = parse_link_from_anchor(base, href)
            if url is not None:
                # materialize the link graph (SURVEY §1.1: the reference
                # keeps it only inside the frontier; we emit edges —
                # including cross-domain ones, which the frontier drops)
                self.new_edges.append((src, str(url)))
                self.frontier.add_to_queue(url)

    def _sniff_root(self, probed: EdgeUrl) -> None:
        root_url = probed.with_path_and_param("/", None)
        page = self._fetch(root_url)
        self._log(str(root_url), "FETCH_SNIFF", page.status)
        self.timer.wait_fetch_delay(0)

        if page.status in (301, 302, 307) and page.redirect_to:
            loc = parse_link(root_url, page.redirect_to)
            if loc is not None and loc.domain == self.edge_domain:
                self.frontier.add_first(loc)
        elif page.status == 200 and page.content_type == "text/html":
            self.frontier.link_filter_kind = select_filter_kind(
                self.edge_domain.top_domain,
                self.info.generator_meta,
                self.info.has_lemmy_config,
            )
            self._enqueue_links(root_url, page)
            self._record(page, root_url)

            self.feed_url = self._discover_feed(root_url, page)
            # favicon: default /favicon.ico, overridden by the root doc's
            # <link rel="icon"> when same-domain (CrawlerRetreiver.java:
            # 333-339); a 200 fetch persists the favicon record in the
            # domain summary (DomainStateDb.saveIcon analogue)
            favicon_url = root_url.with_path_and_param("/favicon.ico", None)
            if page.icon_href:
                cand = parse_link(root_url, page.icon_href)
                if cand is not None and cand.domain == self.edge_domain:
                    favicon_url = cand
            if self.rules.is_allowed(str(favicon_url)):
                fav = self._fetch(favicon_url)
                self._log(str(favicon_url), "FETCH_FAVICON", fav.status)
                if fav.status == 200:
                    self.favicon_url = str(favicon_url)
                    self.favicon_content_type = fav.content_type
            self.timer.wait_fetch_delay(0)
        self.frontier.add_visited(root_url)
        self.new_visits.append(str(root_url))

    def _discover_feed(self, root_url: EdgeUrl, page: Page) -> Optional[str]:
        for href in page.feed_links:
            url = parse_link(root_url, href)
            if url is not None and url.domain == root_url.domain:
                return str(url)
        for endpoint in LIKELY_FEED_ENDPOINTS:
            # the reference builds the guess with a SLASHLESS path and then
            # round-trips it through toString()+parse() in validateFeedUrl
            # (CrawlerRetreiver.java:424-441), which roots it at '/rss.xml';
            # fetching the unrooted EdgeUrl directly would miss every page
            url = parse_url(str(root_url.with_path_and_param(endpoint, None)))
            if url is None or not self.rules.is_allowed(str(url)):
                continue
            p = self._fetch(url)
            self._log(str(url), "FETCH_FEEDGUESS", p.status)
            self.timer.wait_fetch_delay(0)
            if p.status == 200 and p.body_marker:
                head = p.body_marker[:128].lower()
                if "<atom" in head or "<rss" in head:
                    return str(url)
        return None

    def _enqueue_sitemaps(self, probed: EdgeUrl) -> None:
        """Walk robots-declared sitemaps (same-domain only) through the
        urlset/sitemapindex/rss/atom parser with the reference's caps and
        traversal order — 9-fetch pre-increment budget, addFirst/LIFO for
        nested index refs, enqueue-time dedup, same-domain filter on refs
        AND page URLs (HttpFetcherImpl.java:489-542;
        CrawlerRetreiver.java:199-207)."""
        from ..functions.sitemap import walk_sitemaps

        info = self.info

        def on_domain(u: str) -> bool:
            pu = parse_url(u)
            return pu is not None and pu.domain == self.edge_domain

        def fetch_xml(u: str):
            pu = parse_url(u)
            if pu is None:
                return None
            page = self.web.page_at(pu.with_proto(info.proto))
            # the reference GETs every queued sitemap and waits the fetch
            # delay whether or not it parses — an error still costs budget
            # and politeness time (fetchSingleSitemap + waitFetchDelay)
            self.timer.sleep(fetch_time_ms(str(pu)))
            if page is None:
                self._log(str(pu), "FETCH_SITEMAP", 404)
                return None
            self._log(str(pu), "FETCH_SITEMAP", page.status)
            return page.body_marker

        for sm in self.rules.sitemaps:
            sm_url = parse_url(sm)
            if sm_url is not None and sm_url.domain == self.edge_domain:
                urls = []
                for u in walk_sitemaps(
                    str(sm_url.with_proto(info.proto)), fetch_xml, same_domain=on_domain
                ):
                    pu = parse_url(u)
                    if pu is not None:
                        urls.append(pu)
                self.frontier.add_all(urls)

    def _recrawl(self, prev_crawl: list[dict]) -> tuple[int, int]:
        """CrawlerRevisitor.recrawl with a seeded RNG (determinism pin).

        Conditional-fetch semantics (CrawlerRetreiver.fetchContentWithReference:
        468-530; DocumentWithReference.java:24-65): the stored doc's validators
        are painted onto the request (ETag preferred — ContentTags.java:20-31);
        a 304 answer is Result304ReplacedWithReference — the stored body is
        re-recorded, its links harvested, and the doc counts as retained.  On
        a full 200 answer, "same" means an identical non-blank ETag or
        Last-Modified header, else the EasyLSH content fingerprint within
        hamming<4 (CrawlDataReference.isContentBodySame).  Instead of shipping
        stored bodies to executors, the prior crawl carries the 8-byte
        ``lsh64`` fingerprint computed at record time — same decision, 8 bytes
        of state per document."""
        rng = np.random.default_rng([self.seed, 555])
        frontier = self.frontier
        recrawled = retained = errors = skipped = size = 0

        strategy = (
            "SUMMARY"
            if self.edge_domain.top_domain in ("substack.com", "blogspot.com", "wordpress.com")
            else "FULL"
        )
        if strategy == "SUMMARY" and rng.random() > 0.9:
            strategy = "FULL"

        for doc in prev_crawl:
            if errors > 20:
                break
            url = parse_url(doc["url"])
            if url is None:
                continue
            if doc["http_status"] == 404:
                frontier.add_visited(url)
                self._log(str(url), "RECRAWL_MEMO_404", 404)
                continue
            if doc["http_status"] not in (200, 206):
                continue
            if not doc.get("image_id"):
                continue
            if not frontier.has_correct_schema(url):
                continue
            if not frontier.filter_link(url):
                continue
            if not frontier.add_visited(url):
                continue
            if not self.rules.is_allowed(str(url)):
                self._log(str(url), "REFUSED_ROBOTS")
                frontier.mark_refused(url)
                continue
            size += 1

            if strategy == "SUMMARY" and recrawled >= 5 and retained > 0.8 * recrawled:
                skip_prob = 1.0
            else:
                skip_prob = (retained / recrawled) if recrawled else 0.0
                if skipped + recrawled > 10_000:
                    skip_prob = min(max(skip_prob, 0.75), 0.99)
                elif skipped + recrawled > 1000:
                    skip_prob = min(max(skip_prob, 0.5), 0.75)
                elif recrawled > 25:
                    skip_prob = min(max(skip_prob, 0.0), 0.50)
                else:
                    skip_prob = 0.0

            if rng.random() < skip_prob:
                page = self.web.page_at(url)
                if page is not None and page.links:
                    self._enqueue_links(url, page)
                self.new_visits.append(str(url))
                self._log(str(url), "REFERENCE_COPY", doc["http_status"])
                skipped += 1
            else:
                # conditional GET with the stored validators painted on,
                # through the same in-client retry ladder as fresh fetches.
                # Tag-less binary-looking docs get the content-type HEAD
                # probe first (painted tags skip it — the NoOp arm)
                tag_etag = doc.get("etag")
                tag_lm = doc.get("last_modified")
                probe = self._content_type_probe(url, tag_etag, tag_lm)
                if probe is not None:
                    kind, payload = probe
                    self.new_visits.append(str(url))
                    self.timer.wait_fetch_delay(0)
                    if kind == "redirect" and payload.domain == self.edge_domain:
                        frontier.add_first(payload)
                    elif kind == "http_error":
                        errors += 1
                    recrawled += 1
                    continue
                page, got304, _ = self._client_fetch(url, tag_etag, tag_lm)
                spent = fetch_time_ms(str(url))

                if got304:
                    # Result304ReplacedWithReference: stored body re-recorded,
                    # links harvested from it, retained
                    self._log(str(url), "FETCH_304", 304)
                    self.new_visits.append(str(url))
                    self.timer.wait_fetch_delay(spent)
                    if page.content_type == "text/html":
                        # 304 ⇒ unchanged ⇒ the live page IS the stored body
                        self._enqueue_links(url, page)
                        frontier.add_visited(url)
                        self._record(page, url)
                    retained += 1
                    recrawled += 1
                    continue

                self._log(str(url), "FETCH_RECRAWL", page.status)
                self.new_visits.append(str(url))
                self.timer.wait_fetch_delay(spent)

                is_same = False
                outcome = "RECRAWL_CHANGED"
                if page.status == 200:
                    if (
                        page.last_modified
                        and doc.get("last_modified")
                        and page.last_modified == doc.get("last_modified")
                    ) or (page.etag and doc.get("etag") and page.etag == doc.get("etag")):
                        is_same = True
                        outcome = "RECRAWL_RETAINED_HEADER"
                    elif doc.get("lsh64") is not None and page.body_text is not None:
                        from ..canon.easylsh import content_hash, is_hash_same

                        if is_hash_same(
                            int(doc["lsh64"]),
                            content_hash(page.body_text[: self.body_cap_bytes]),
                        ):
                            is_same = True
                            outcome = "RECRAWL_RETAINED_LSH"
                if page.status == 200 and page.content_type == "text/html":
                    self._enqueue_links(url, page)
                    frontier.add_visited(url)
                    self._record(page, url)
                self._log(str(url), outcome, page.status)
                if is_same:
                    retained += 1
                elif page.status in (429, -1):
                    errors += 1
                recrawled += 1
        self.recrawl_recrawled = recrawled
        self.recrawl_retained = retained
        self.recrawl_skipped = skipped
        return size, errors

    # ------------------------------------------------------------------
    # wave-boundary (de)serialization
    # ------------------------------------------------------------------

    def drain(self) -> tuple[list[dict], list[dict], list[str]]:
        out = (self.new_crawl_data, self.new_fetch_log, self.new_visits)
        self.new_crawl_data = []
        self.new_fetch_log = []
        self.new_visits = []
        return out

    def drain_edges(self) -> list[tuple[str, str]]:
        out = self.new_edges
        self.new_edges = []
        return out

    def frontier_rows(self) -> list[dict]:
        """Serialize queue + seen-set as frontier-table rows.

        Queue membership and seen-state are orthogonal (the root URL is
        enqueued by the ctor and marked VISITED by the sniff while still
        queued), so QUEUED rows carry order only and every hash gets a
        KNOWN/VISITED row.
        """
        rows = []
        for seq, url_str in enumerate(self.frontier.queue):
            url = EdgeUrl.from_string(url_str)
            rows.append(
                {
                    "domain": self.info.domain,
                    "url_hash": self.frontier.hash_url(url),
                    "url": url_str,
                    "seq": seq,
                    "state": QUEUED,
                }
            )
        refused = self.frontier.refused
        for h, vis in self.frontier.visited.items():
            state = VISITED if vis else (REFUSED if h in refused else KNOWN)
            rows.append(
                {
                    "domain": self.info.domain,
                    "url_hash": h,
                    # REFUSED rows retain the url — the next cycle's 10%
                    # re-probe needs it (CrawlerWarcResynchronizer.java:70-78)
                    "url": refused.get(h) if state == REFUSED else None,
                    "seq": -1,
                    "state": state,
                }
            )
        # refused hashes outside the seen-set (blocked root before any
        # enqueue) still get a lineage row
        for h, u in refused.items():
            if h in self.frontier.visited:
                continue
            rows.append(
                {
                    "domain": self.info.domain,
                    "url_hash": h,
                    "url": u,
                    "seq": -1,
                    "state": REFUSED,
                }
            )
        return rows

    def state_json(self) -> str:
        return json.dumps(
            {
                "phase": self.phase,
                "supports_https": self.frontier.supports_https,
                "link_filter_kind": self.frontier.link_filter_kind,
                "depth": self.frontier.depth,
                "visited_cnt": self.frontier.visited_cnt,
                "error_count": self.error_count,
                "crawler_additions": self.crawler_additions,
                "recrawl_size": self.recrawl_size,
                "recrawl_recrawled": self.recrawl_recrawled,
                "recrawl_retained": self.recrawl_retained,
                "recrawl_skipped": self.recrawl_skipped,
                "feed_url": self.feed_url,
                "favicon_url": self.favicon_url,
                "favicon_content_type": self.favicon_content_type,
                "clock_ms": self.timer.clock_ms,
                "slow_down": self.timer.slow_down,
                "crawl_delay_ms": self.rules.crawl_delay_ms,
                "robots": self.rules.to_dict(),
                "cookies": self.cookies.cookies,
            }
        )

    @classmethod
    def rehydrate(
        cls,
        info: DomainInfo,
        web: WebLike,
        state_json: str,
        frontier_rows: list[dict],
        seed: int = 42,
        body_cap_bytes: int = MAX_BODY_BYTES,
    ) -> "DomainCrawlSession":
        st = json.loads(state_json)
        sess = cls(info, web, seed=seed, body_cap_bytes=body_cap_bytes)
        sess.phase = st["phase"]
        f = sess.frontier
        f.supports_https = st["supports_https"]
        f.link_filter_kind = st["link_filter_kind"]
        f.depth = st["depth"]
        sess.error_count = st["error_count"]
        sess.crawler_additions = st["crawler_additions"]
        sess.recrawl_size = st["recrawl_size"]
        sess.recrawl_recrawled = st.get("recrawl_recrawled", 0)
        sess.recrawl_retained = st.get("recrawl_retained", 0)
        sess.recrawl_skipped = st.get("recrawl_skipped", 0)
        sess.feed_url = st.get("feed_url")
        sess.favicon_url = st.get("favicon_url")
        sess.favicon_content_type = st.get("favicon_content_type")
        sess.rules = RobotRules.from_dict(st["robots"])
        sess.timer = Timer(st["crawl_delay_ms"], clock_ms=st["clock_ms"], slow_down=st["slow_down"])
        from ..functions.cookies import DomainCookies

        sess.cookies = DomainCookies(st.get("cookies") or {})

        queued = sorted(
            (r for r in frontier_rows if r["state"] == QUEUED), key=lambda r: r["seq"]
        )
        for r in queued:
            f.queue.append(r["url"])
        for r in frontier_rows:
            if r["state"] == KNOWN:
                f.visited[int(r["url_hash"])] = False
            elif r["state"] == VISITED:
                f.visited[int(r["url_hash"])] = True
            elif r["state"] == REFUSED:
                f.refused[int(r["url_hash"])] = r.get("url")
                f.visited.setdefault(int(r["url_hash"]), False)
        f.visited_cnt = st["visited_cnt"]
        return sess
