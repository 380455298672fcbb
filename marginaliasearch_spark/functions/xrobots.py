"""X-Robots-Tag evaluation + output-stage content-type acceptance.

Reimplements the reference's crawl-data output filtering
(ref: code/processes/crawling-process/model/java/nu/marginalia/slop/
SlopCrawlDataRecord.java:165-259):

- robots.txt bodies are never stored;
- X-Robots-Tag UA-specific algebra: a UA-scoped ``all`` permits
  unconditionally; a UA-scoped ``noindex``/``none`` forbids; otherwise a
  general (unscoped) ``noindex``/``none`` forbids;
- content-type whitelist {xhtml, html, markdown, pdf, x-icon, plain}
  with the application/octet-stream .md/.pdf rescues.

In the image graft the accepted content types additionally include the
image payload types.  Exposed as plain functions (batch-applied inside
Arrow UDFs over the header column).
"""

from __future__ import annotations

from typing import Iterable, Optional

ACCEPTED_CONTENT_TYPES = (
    "application/xhtml",
    "text/html",
    "text/markdown",
    "text/x-markdown",
    "application/pdf",
    "image/x-icon",
    "text/plain",
    # image-graft payload types
    "image/png",
    "image/jpeg",
    "image/webp",
)


def is_x_robots_tags_permitted(tags: Iterable[str], user_agent: str) -> bool:
    permitted_general = True
    permitted_ua = False
    forbidden_ua = False

    for header in tags:
        if ":" in header:
            parts = header.split(":", 1)
            if len(parts) < 2:
                continue
            if parts[0].strip() != user_agent:
                continue
            if "noindex" in parts[1]:
                forbidden_ua = True
            elif "none" in parts[1]:
                forbidden_ua = True
            elif "all" in parts[1]:
                permitted_ua = True
        else:
            if "noindex" in header:
                permitted_general = False
            if "none" in header:
                permitted_general = False

    if permitted_ua:
        return True
    if forbidden_ua:
        return False
    return permitted_general


def is_content_type_accepted(content_type: Optional[str], path: str = "") -> bool:
    ct = (content_type or "text/plain").lower()
    base = ct.split(";", 1)[0].strip()
    if any(base.startswith(a) for a in ACCEPTED_CONTENT_TYPES):
        return True
    if base == "application/octet-stream" and (path.endswith(".md") or path.endswith(".pdf")):
        return True
    return False


def should_store_response(
    path: str, content_type: Optional[str], x_robots_tags: Iterable[str], user_agent: str
) -> bool:
    """The full output-stage gate: robots.txt out, X-Robots-Tag honored,
    content-type whitelisted."""
    if path == "/robots.txt":
        return False
    if not is_x_robots_tags_permitted(x_robots_tags, user_agent):
        return False
    return is_content_type_accepted(content_type, path)
