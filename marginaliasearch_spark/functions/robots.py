"""robots.txt parsing + evaluation.

The reference delegates to crawler-commons ``SimpleRobotRulesParser`` (a
public library, pinned v1.5) and falls back to ALLOW_ALL when the fetch or
parse fails (ref: code/processes/crawling-process/java/nu/marginalia/crawl/
fetcher/HttpFetcherImpl.java:626-655).  This is an independent RFC 9309
implementation covering the behaviors the reference relies on:

- user-agent group selection: groups whose agent value contains our UA
  identifier as an exact case-folded token (RFC 9309 §2.2.1; crawler-commons
  switched from substring to exact token matching in 1.4, crawler-commons#390)
  win over the ``*`` group; multiple consecutive ``User-agent`` lines share
  one rule group (the reference's DomainCrawlerRobotsTxtTest exercises
  exactly this override pattern);
- empty ``Disallow:`` = allow-all for that group;
- longest-prefix-match wins, Allow wins length ties; ``*``/``$`` wildcards;
- ``Crawl-delay`` (seconds, float ok) → milliseconds;
- ``Sitemap:`` directives collected globally.

Known simplification: when several distinct groups name the same UA, the
FIRST matching group wins (RFC 9309 §2.2.1 says duplicated-UA groups are
combined); real-world robots files rarely duplicate a UA token, and no
reference test exercises it.

Rules serialize to/from a compact dict so they can live in a Spark
``domain_state`` table column and be evaluated inside Arrow UDFs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

ALLOW_ALL = "ALLOW_ALL"
ALLOW_NONE = "ALLOW_NONE"
ALLOW_SOME = "ALLOW_SOME"


@dataclass
class RobotRules:
    mode: str = ALLOW_ALL
    # list of (is_allow, pattern) in source order
    rules: list[tuple[bool, str]] = field(default_factory=list)
    crawl_delay_ms: int = 0  # 0 = unset (reference maps unset/<=0 to default)
    sitemaps: list[str] = field(default_factory=list)

    def is_allowed(self, url: str) -> bool:
        if self.mode == ALLOW_ALL:
            return True
        if self.mode == ALLOW_NONE:
            return False
        path = _url_path_query(url)
        best_len = -1
        best_allow = True
        for is_allow, pattern in self.rules:
            if _rule_matches(pattern, path):
                plen = len(pattern)
                if plen > best_len or (plen == best_len and is_allow and not best_allow):
                    best_len = plen
                    best_allow = is_allow
        return best_allow if best_len >= 0 else True

    def to_dict(self) -> dict:
        return {
            "mode": self.mode,
            "rules": [[a, p] for a, p in self.rules],
            "crawl_delay_ms": self.crawl_delay_ms,
            "sitemaps": self.sitemaps,
        }

    @classmethod
    def from_dict(cls, d: Optional[dict]) -> "RobotRules":
        if not d:
            return cls(mode=ALLOW_ALL)
        return cls(
            mode=d.get("mode", ALLOW_ALL),
            rules=[(bool(a), p) for a, p in d.get("rules", [])],
            crawl_delay_ms=int(d.get("crawl_delay_ms", 0)),
            sitemaps=list(d.get("sitemaps", [])),
        )


def _url_path_query(url: str) -> str:
    m = re.match(r"[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*", url)
    if m:
        rest = url[m.end() :]
    else:
        rest = url
    frag = rest.find("#")
    if frag >= 0:
        rest = rest[:frag]
    return rest or "/"


def _rule_matches(pattern: str, path: str) -> bool:
    if "*" not in pattern and not pattern.endswith("$"):
        return path.startswith(pattern)
    regex = ""
    pat = pattern
    anchored = pat.endswith("$")
    if anchored:
        pat = pat[:-1]
    for part in pat.split("*"):
        if regex:
            regex += ".*"
        regex += re.escape(part)
    regex = "^" + regex + ("$" if anchored else "")
    return re.match(regex, path) is not None


def parse_robots_txt(content: Optional[str], user_agent: str) -> RobotRules:
    """Parse robots.txt for the given UA identifier; None content → ALLOW_ALL."""
    if content is None:
        return RobotRules(mode=ALLOW_ALL)

    ua = user_agent.lower()

    # group state
    groups: list[dict] = []  # {"agents": [...], "rules": [...], "delay": ms}
    current: Optional[dict] = None
    collecting_agents = False
    sitemaps: list[str] = []

    for raw_line in content.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line:
            continue
        if ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()

        if key == "user-agent":
            if current is None or not collecting_agents:
                current = {"agents": [], "rules": [], "delay": 0}
                groups.append(current)
            current["agents"].append(value.lower())
            collecting_agents = True
        elif key in ("disallow", "allow"):
            if current is None:
                continue  # rules before any UA line are ignored
            collecting_agents = False
            if key == "disallow" and value == "":
                # empty disallow = explicit allow-all marker
                current["rules"].append((True, ""))
            elif value:
                current["rules"].append((key == "allow", value))
        elif key == "crawl-delay":
            if current is not None:
                collecting_agents = False
                try:
                    current["delay"] = int(float(value) * 1000)
                except ValueError:
                    pass
        elif key == "sitemap":
            if value:
                sitemaps.append(value)

    # select the matching group: specific UA match beats '*'.  Matching is
    # EXACT case-insensitive product-token equality (RFC 9309 §2.2.1) —
    # crawler-commons changed from substring to exact token matching in
    # 1.4 (crawler-commons#390) and the reference pins 1.5; a robots
    # User-agent line may carry several whitespace-separated names.
    chosen = None
    for g in groups:
        for agent in g["agents"]:
            if agent and agent != "*" and ua in agent.split():
                chosen = g
                break
        if chosen:
            break
    if chosen is None:
        for g in groups:
            if "*" in g["agents"]:
                chosen = g
                break

    if chosen is None:
        return RobotRules(mode=ALLOW_ALL, sitemaps=sitemaps)

    rules = [(a, p) for a, p in chosen["rules"] if p != ""]
    has_allow_all_marker = any(p == "" for a, p in chosen["rules"])

    if not rules:
        mode = ALLOW_ALL
    else:
        mode = ALLOW_SOME
    rr = RobotRules(
        mode=mode,
        rules=rules,
        crawl_delay_ms=chosen["delay"],
        sitemaps=sitemaps,
    )
    # "Disallow: /" with nothing else → effectively ALLOW_NONE, but prefix
    # matching handles it; keep ALLOW_SOME for fidelity.
    _ = has_allow_all_marker
    return rr
