"""Single-threaded oracle crawler — thin wrapper over DomainCrawlSession.

Runs each domain's session to completion (setup → run(∞)), exactly like the
reference's one-thread-per-domain CrawlTask (ref: code/processes/
crawling-process/java/nu/marginalia/crawl/CrawlerMain.java:630-739), and
collects the golden crawl order / seen set / crawl data used to assert the
Spark pipeline's equivalence.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional

from ..sources.synthetic_web import SyntheticWeb
from .session import DomainCrawlSession, DomainInfo


@dataclass
class DomainCrawlResult:
    domain: str
    result: str  # crawled | blocked | redirect | error
    visited_order: list[str] = field(default_factory=list)
    seen_hashes: dict = field(default_factory=dict)  # url_hash → visited bool
    crawl_data: list[dict] = field(default_factory=list)
    fetch_log: list[dict] = field(default_factory=list)
    virtual_ms: int = 0
    error_count: int = 0
    crawler_additions: int = 0
    recrawl_size: int = 0


def info_from_web(web: SyntheticWeb, domain: str) -> DomainInfo:
    """A copy of the web's facts for ``domain`` (the caller may override
    its depth and seeds); a domain the web lacks probes as an error."""
    info = web.domains.get(domain)
    if info is None:
        return DomainInfo(domain=domain, probe="error")
    return replace(info)


class OracleCrawler:
    def __init__(self, web: SyntheticWeb, seed: int = 42):
        self.web = web
        self.seed = seed

    def crawl_domain(
        self,
        domain: str,
        crawl_depth: Optional[int] = None,
        seed_urls: Optional[list[str]] = None,
        prev_crawl: Optional[list[dict]] = None,
    ) -> DomainCrawlResult:
        info = info_from_web(self.web, domain)
        if crawl_depth is not None:
            info.crawl_depth = crawl_depth
        if seed_urls is not None:
            info.seed_urls = seed_urls

        sess = DomainCrawlSession(info, self.web, seed=self.seed)
        phase = sess.setup(prev_crawl=prev_crawl)
        if phase == "active":
            phase = sess.run(max_fetches=None)

        crawl_data, fetch_log, visits = sess.drain()
        result_name = {"done": "crawled"}.get(phase, phase)
        return DomainCrawlResult(
            domain=domain,
            result=result_name,
            visited_order=visits,
            seen_hashes=dict(sess.frontier.visited),
            crawl_data=crawl_data,
            fetch_log=fetch_log,
            virtual_ms=sess.timer.clock_ms,
            error_count=sess.error_count,
            crawler_additions=sess.crawler_additions,
            recrawl_size=sess.recrawl_size,
        )
