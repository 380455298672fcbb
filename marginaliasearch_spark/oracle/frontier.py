"""Per-domain crawl frontier: FIFO queue + hash seen-set.

Reimplements DomainCrawlFrontier (ref: code/processes/crawling-process/java/
nu/marginalia/crawl/retreival/DomainCrawlFrontier.java:22-239): first-wins
addKnown, addVisited upsert, enqueue gate order (same-domain → blocklist →
mailing-list → link filter → size cap → schema correction → visited check →
known check), depth growth, and the queue's addFirst priority inserts.
"""

from __future__ import annotations

from collections import deque
from functools import lru_cache
from typing import Optional

from ..canon.domain import EdgeDomain
from ..canon.murmur import hash_url_parts
from ..canon.url import EdgeUrl, parse_url


@lru_cache(maxsize=1 << 16)
def _parse_canonical(s: str) -> EdgeUrl:
    """Queue entries are canonical strings; popping re-parses them (the
    reference does `new EdgeUrl(queue.removeFirst())`).  The parse is pure,
    so caching it preserves bit-exact semantics while removing the
    double-parse from the hot loop."""
    return EdgeUrl.from_string(s)
from ..operators.blocklist import is_mailing_list_link, is_url_blocked
from ..operators.linkfilter import link_filter_allows

IS_KNOWN = False
IS_VISITED = True


class DomainFrontier:
    def __init__(self, domain: EdgeDomain, urls: list[str], depth: int):
        self.domain = domain
        self.depth = depth
        self.queue: deque[str] = deque()
        self.visited: dict[int, bool] = {}
        # hash → url refused by robots at fetch time — persisted distinctly
        # (state REFUSED, with the url retained) so refusal lineage survives
        # frontier compaction and can feed the next cycle's 10% re-probe
        # (CrawlerWarcResynchronizer.java:70-78)
        self.refused: dict[int, str] = {}
        self.visited_cnt = 0
        self.supports_https = True
        self.link_filter_kind = "default"
        self.block_mailing_lists = False

        for url_str in urls:
            url = parse_url(url_str)
            if url is not None:
                self.add_to_queue(url)

    # -- hash / membership --------------------------------------------------

    def hash_url(self, url: EdgeUrl) -> int:
        return hash_url_parts(url.domain.address, url.path, url.param)

    def add_visited(self, url: EdgeUrl) -> bool:
        h = self.hash_url(url)
        prev = self.visited.get(h)
        self.visited[h] = IS_VISITED
        if prev is not IS_VISITED:
            self.visited_cnt += 1
            return True
        return False

    def add_known(self, url: EdgeUrl) -> bool:
        h = self.hash_url(url)
        if h not in self.visited:
            self.visited[h] = IS_KNOWN
            return True
        return False

    def mark_refused(self, url: EdgeUrl) -> None:
        self.refused[self.hash_url(url)] = str(url)

    def is_visited(self, url: EdgeUrl) -> bool:
        return self.visited.get(self.hash_url(url)) is IS_VISITED

    # -- queue --------------------------------------------------------------

    def add_first(self, url: EdgeUrl) -> None:
        if self.add_known(url):
            self.queue.appendleft(str(url))

    def take_next(self) -> EdgeUrl:
        return _parse_canonical(self.queue.popleft())

    def peek(self) -> Optional[EdgeUrl]:
        if not self.queue:
            return None
        return _parse_canonical(self.queue[0])

    def is_empty(self) -> bool:
        return not self.queue

    def is_crawl_depth_reached(self) -> bool:
        return self.visited_cnt >= self.depth

    def increase_depth(self, factor: float, max_abs: int) -> None:
        base = max(self.visited_cnt, self.depth)
        self.depth = min(base + max_abs, int(base * factor))

    # -- enqueue gates (addToQueue order is load-bearing) --------------------

    def correct_schema(self, url: EdgeUrl) -> EdgeUrl:
        if url.proto == "http" and self.supports_https:
            return url.with_proto("https")
        if url.proto == "https" and not self.supports_https:
            return url.with_proto("http")
        return url

    def has_correct_schema(self, url: EdgeUrl) -> bool:
        return url.proto == ("https" if self.supports_https else "http")

    def filter_link(self, url: EdgeUrl) -> bool:
        return link_filter_allows(self.link_filter_kind, url)

    def add_to_queue(self, url: EdgeUrl) -> None:
        if url.domain != self.domain:
            return
        if is_url_blocked(url):
            return
        if is_mailing_list_link(url, self.block_mailing_lists):
            return
        if not self.filter_link(url):
            return
        if len(self.queue) + self.visited_cnt >= self.depth + 10_000:
            return
        url = self.correct_schema(url)
        if self.is_visited(url):
            return
        if self.add_known(url):
            self.queue.append(str(url))

    def add_all(self, urls) -> None:
        for u in urls:
            self.add_to_queue(u)
