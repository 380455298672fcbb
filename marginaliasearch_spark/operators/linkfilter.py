"""Site-type link filters ("cherry-picking" for forum/wiki software).

Reimplements LinkFilterSelector (ref: code/processes/crawling-process/java/
nu/marginalia/crawl/logic/LinkFilterSelector.java:15-86).  The filter kind is
selected once per domain from the root document (generator meta tag /
lemmyConfig script / blogspot/substack top-domain) and stored in the
``domain_state`` table; evaluation is a pure predicate on the URL path.

Kinds: default, blogspot, substack, lemmy, discourse, mediawiki.
"""

from __future__ import annotations

from ..canon.url import EdgeUrl

KINDS = ("default", "blogspot", "substack", "lemmy", "discourse", "mediawiki")


def select_filter_kind(
    top_domain: str,
    generator_meta: str = "",
    has_lemmy_config: bool = False,
) -> str:
    """Choose the filter kind for a domain from root-document signals.

    ``generator_meta`` is the content of ``<meta name=generator>``;
    ``has_lemmy_config`` whether any head script mentions window.lemmyConfig.
    Order matches the reference: blogspot/substack by top-domain first, then
    lemmy, discourse, mediawiki sniffing.
    """
    if top_domain.lower() == "blogspot.com":
        return "blogspot"
    if top_domain.lower() == "substack.com":
        return "substack"
    if has_lemmy_config:
        return "lemmy"
    gen = (generator_meta or "").lower()
    if "discourse" in gen:
        return "discourse"
    if "mediawiki" in gen:
        return "mediawiki"
    return "default"


def link_filter_allows(kind: str, url: EdgeUrl) -> bool:
    path = url.path
    if kind == "blogspot":
        return not path.startswith("/feeds")
    if kind == "substack":
        return not path.endswith("/comments")
    if kind == "lemmy":
        return path.startswith("/post/") or (path.startswith("/c/") and "@" not in path)
    if kind == "discourse":
        return path.startswith("/t/") or "/latest" in path
    if kind == "mediawiki":
        return not (path.endswith(".php") or "Special:" in path or "Talk:" in path)
    return True
