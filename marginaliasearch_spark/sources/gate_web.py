"""Gate web — an independently-checkable crawl fixture.

The flagship `crawl_visited_set` gate needs an oracle that does NOT share
code with the engine (the Python oracle crawler reuses DomainCrawlSession,
so it proves distribution, not semantics).  This module generates a
deterministic synthetic web whose admission facts are *ground truth by
construction* — the generator itself decides which robots variant, noise
link, redirect target and seed it plants — and exports those facts as
parquet so a DuckDB recursive-CTE reachability closure can derive the
expected visited set with zero engine code.

Fixture design constraints that make the visited set SQL-expressible
(each is the subject of its own dedicated gate/test elsewhere):

- crawl_depth (10_000) exceeds every domain's page count, so the depth
  budget never truncates the BFS → visited = admitted reachable closure
  (budget semantics: `depth_growth`/`spec_growth` gates + frontier tests);
- no 429/-1 pages → the error budget (MAX_ERRORS=20) never aborts a
  domain (budget semantics: `error_budget` gate);
- hrefs use only SQL-resolvable shapes (absolute path, same-domain
  absolute URL, #fragment suffix) — messy relative resolution is covered
  by the LinkParserTest vectors in tests/test_canon.py;
- no query params → no sanitizer in SQL (covered by `url_canonicalize`).

What the closure DOES exercise end-to-end, engine vs independent SQL:
robots gating (4 variants incl. the UA-override parse), blocklist drops,
binary-suffix/scheme href rejection, same-domain confinement, first-wins
dedup, seed injection + forced root, same-domain 301 re-entry,
cross-domain redirect drops, per-site-type link filters (mediawiki), and
excluded domains (probe error / probe redirect / robots full block).

Reference model: the hermetic mock-fetcher test architecture
(crawling-process/test/.../CrawlerMockFetcherTest.java:38-178).
"""

from __future__ import annotations

import os
import tempfile

import numpy as np

GATE_SEED = 7
N_DOMAINS = 12  # 10=internal-redirect root, 11=HEAD-405 root (probe walk arms)


def _export(tag: str, **tables) -> dict[str, str]:
    """Write each table (a list of row dicts) as one parquet file and return
    {table: parquet path}.  The dir name carries a fingerprint of the row
    lists (not of DataFrames: pandas truncates their repr), so a fixture
    edit can never reuse a stale export; the content is deterministic, so
    concurrent writers produce identical files and race only on the
    commit."""
    import hashlib

    import pandas as pd

    h = hashlib.sha256(repr(tables).encode()).hexdigest()[:12]
    target = os.path.join(tempfile.gettempdir(), f"msx_{tag}_{h}")
    marker = os.path.join(target, "_COMPLETE")
    if not os.path.exists(marker):
        tmp = tempfile.mkdtemp(prefix=f"msx_{tag}_tmp_")
        for name, rows in tables.items():
            pd.DataFrame(rows).to_parquet(os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write("ok\n")
        _commit_export_dir(tmp, target, marker)
    return {name: os.path.join(target, f"{name}.parquet") for name in tables}


def _commit_export_dir(tmp: str, target: str, marker: str) -> None:
    """Atomic-rename commit with lost-race tolerance: the loser of a
    concurrent export race discards its tmp dir (identical content); any
    other rename failure re-raises."""
    try:
        os.rename(tmp, target)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):  # not a lost race — a real failure
            raise


_EXCLUDED = frozenset({5, 6, 7})  # probe-error, probe-redirect, robots-blocked

# every noise href is inadmissible, each through a different gate
_NOISE = [
    "mailto:owner@example.org",        # scheme
    "javascript:void(0)",              # scheme
    "#top",                            # bare anchor
    "/files/archive.zip",              # binary suffix
    "/docs/paper.pdf",                 # binary suffix
    "/repo/.git/config",               # UrlBlocklist .git/ rule
    "https://offsite.example.net/page",  # cross-domain
]


def _name(i: int) -> str:
    return f"gate{i}.example.org"


def _robots(i: int):
    """(robots_txt, rob_private, rob_php) — text plus its ground-truth facts."""
    if i == 7:
        return "User-agent: *\nDisallow: /\n", False, False
    v = i % 4
    if v == 0:
        return None, False, False
    if v == 1:
        return "User-agent: *\nDisallow: /private/\n", True, False
    if v == 2:
        # blanket disallow with our-UA override (DomainCrawlerRobotsTxtTest)
        txt = (
            "User-agent: *\nDisallow: /\n\n"
            "User-agent: GoogleBot\nUser-agent: search.marginalia.nu\n"
            "Disallow:\nDisallow: /private/\n"
        )
        return txt, True, False
    return "User-agent: *\nDisallow: /*.php$\n", False, True


def _paths(i: int) -> list[str]:
    paths = ["/"]
    paths += [f"/p{k}.html" for k in range(1, 13)]
    paths += [f"/item{k}.php" for k in range(1, 4)]
    paths += [f"/private/s{k}.html" for k in range(1, 4)]
    if i == 8:  # mediawiki domain: link-filter cases
        paths += [f"/wiki/Page{k}" for k in range(1, 7)]
        paths += ["/wiki/Talk:Page1", "/wiki/Special:Recent", "/index.php"]
    return paths


def generate_gate_web():
    """Returns (pages_rows, domains_rows, gw_domains, gw_links) where the
    first two are in the engine's synthetic-web frame schema and the last
    two are the ground-truth export for the SQL oracle."""
    pages_rows: list[dict] = []
    domains_rows: list[dict] = []
    gw_domains: list[dict] = []
    gw_links: list[dict] = []

    for i in range(N_DOMAINS):
        name = _name(i)
        robots_txt, rob_private, rob_php = _robots(i)
        probe = "ok"
        if i == 5:
            probe = "error"
        elif i == 6:
            probe = "redirect:www.elsewhere.example.com"

        seeds: list[str] = []
        if i % 3 == 0:
            seeds.append(f"https://{name}/p1.html")
        if i == 4:
            seeds.append(f"https://{name}/p99.html")  # 404 seed — still visited
        if i == 9:
            seeds.append(f"https://{name}/private/s1.html")  # robots-refused seed

        domains_rows.append(
            {
                "domain": name,
                "top_domain": "example.org",
                "proto": "https",
                "probe": probe,
                "robots_txt": robots_txt,
                "site_kind": "mediawiki" if i == 8 else "default",
                "crawl_depth": 10_000,
                "seed_urls": seeds,
                "sitemap_urls": [],
                "generator_meta": "MediaWiki 1.39.1" if i == 8 else "",
                "has_lemmy_config": False,
            }
        )
        gw_domains.append(
            {
                "domain": name,
                "excluded": i in _EXCLUDED,
                "rob_private": rob_private,
                "rob_php": rob_php,
                "is_mediawiki": i == 8,
                "seed_urls": seeds,
            }
        )

        paths = _paths(i)
        urls = [f"https://{name}{p}" for p in paths]
        for idx, path in enumerate(paths):
            rng = np.random.default_rng([GATE_SEED, i, idx])
            status, redirect_to = 200, None
            head_status = 0
            if idx == 0:
                # probe-walk classification arms (DomainProber.java:36-67,
                # HttpFetcherImpl.java:236-323): the engine must DISCOVER
                # these through the HEAD walk, not read a static fact
                if i == 5:  # error probe: 500 to HEAD and to the GET retry
                    status = 500
                elif i == 6:  # cross-domain redirect probe
                    status = 301
                    redirect_to = "https://www.elsewhere.example.com/"
                elif i == 10:  # same-domain redirect root: walk hops, Ok;
                    # the sniff's ResultRedirect arm then addFirst()s it
                    status = 301
                    redirect_to = urls[1]
                elif i == 11:  # HEAD-misbehaving root: 405 → GET retry → 200
                    head_status = 405
            if idx > 0 and not (i == 10 and idx == 1):
                # (domain 10's /p1.html is the planted redirect-root target
                # and must answer 200 so the probe walk terminates Ok)
                r = rng.random()
                if r < 0.08:
                    status = 404
                elif r < 0.14:
                    status = 301
                    if rng.random() < 0.2:
                        redirect_to = "https://elsewhere.example.com/x"
                    else:
                        redirect_to = urls[int(rng.integers(0, len(urls)))]
                elif r < 0.18:
                    status = 500

            links: list[str] = []
            if status == 200:
                n_links = int(rng.integers(3, 9))
                targets = [paths[int(t)] for t in rng.integers(0, len(paths), size=n_links)]
                for t in targets:
                    style = int(rng.integers(0, 3))
                    if style == 0:
                        links.append(t)
                    elif style == 1:
                        links.append(f"https://{name}{t}")
                    else:
                        links.append(t + "#s2")
                for pick in rng.choice(len(_NOISE), size=2, replace=False):
                    links.append(_NOISE[int(pick)])
                links.append(targets[0])  # duplicate — first-wins dedup case
                for href in links:
                    gw_links.append(
                        {"domain": name, "src_url": urls[idx], "href": href, "kind": "link"}
                    )
            elif status == 301:
                gw_links.append(
                    {
                        "domain": name,
                        "src_url": urls[idx],
                        "href": redirect_to,
                        "kind": "redirect",
                    }
                )

            pages_rows.append(
                {
                    "domain": name,
                    "path": path,
                    "param": None,
                    "url": urls[idx],
                    "status": status,
                    "redirect_to": redirect_to,
                    "content_type": "text/html",
                    "image_id": None,
                    "base_href": None,
                    "links": links,
                    "feed_links": [],
                    "body_marker": None,
                    "etag": None,
                    "last_modified": None,
                    "body_text": None,
                    "head_status": head_status,
                }
            )
    return pages_rows, domains_rows, gw_domains, gw_links


def oracle_sql() -> str:
    """The independent DuckDB oracle: recursive reachability closure over
    the ground-truth link facts with the admission gates mirrored as plain
    SQL predicates.  Shares no code with the engine."""
    _, _, gw_domains, gw_links = generate_gate_web()
    paths = _export("gate", gw_domains=gw_domains, gw_links=gw_links)
    dd, ll = paths["gw_domains"], paths["gw_links"]
    return f"""
        WITH RECURSIVE
        doms AS (
            SELECT domain, rob_private, rob_php, is_mediawiki, seed_urls
            FROM read_parquet('{dd}') WHERE NOT excluded),
        resolved AS (
            SELECT l.domain, l.src_url, d.rob_private, d.rob_php, d.is_mediawiki,
                   split_part(CASE
                       WHEN l.href LIKE 'https://' || l.domain || '/%'
                            THEN substr(l.href, length(l.domain) + 9)
                       WHEN l.href LIKE '/%' THEN l.href
                       ELSE NULL END, '#', 1) AS path
            FROM read_parquet('{ll}') l JOIN doms d USING (domain)),
        adm AS (
            SELECT domain, src_url, 'https://' || domain || path AS dst_url
            FROM resolved
            WHERE path IS NOT NULL AND length(path) > 0
              AND path NOT LIKE '%.zip' AND path NOT LIKE '%.pdf'
              AND path NOT LIKE '%.git/%'
              AND (NOT rob_private OR path NOT LIKE '/private/%')
              AND (NOT rob_php OR path NOT LIKE '%.php')
              AND (NOT is_mediawiki OR NOT (path LIKE '%.php'
                       OR path LIKE '%Special:%' OR path LIKE '%Talk:%'))),
        seedrows AS (
            SELECT domain, unnest(seed_urls) AS url,
                   rob_private, rob_php, is_mediawiki
            FROM doms),
        starts AS (
            SELECT domain, 'https://' || domain || '/' AS url FROM doms
            UNION ALL
            SELECT domain, url FROM (
                SELECT domain, url,
                       substr(url, length(domain) + 9) AS path,
                       rob_private, rob_php, is_mediawiki
                FROM seedrows) s
            WHERE (NOT rob_private OR path NOT LIKE '/private/%')
              AND (NOT rob_php OR path NOT LIKE '%.php')
              AND (NOT is_mediawiki OR NOT (path LIKE '%.php'
                       OR path LIKE '%Special:%' OR path LIKE '%Talk:%'))
              AND path NOT LIKE '%.git/%'),
        visited (domain, url) AS (
            SELECT domain, url FROM starts
            UNION
            SELECT a.domain, a.dst_url
            FROM visited v JOIN adm a ON v.domain = a.domain AND v.url = a.src_url)
        SELECT domain, url FROM visited
    """


# ---------------------------------------------------------------------------
# Recrawl-retention gate fixture: round-2 web + stored round-1 docs with a
# PLANTED outcome per document (the generator decides what changed), so the
# oracle is a plain scan of planted truth while the engine must rediscover
# each outcome through the conditional-fetch machinery (304 / header-equal /
# EasyLSH / changed / 404 memo — DocumentWithReference.java:24-65,
# CrawlerRetreiver.java:468-530).  ≤25 docs per domain keeps the revisit
# sampler's skip probability pinned at 0 (CrawlerRevisitor.java:120-135),
# making the outcome set fully deterministic.
# ---------------------------------------------------------------------------

RC_N_DOMAINS = 6
RC_DOCS_PER_DOMAIN = 20  # < 25 → skip_prob stays 0 → deterministic
# lsh_retry: the round-2 page answers two transient 429s before the 200
# (the conditional GET rides the in-client retry ladder), then the EasyLSH
# arm retains it — planted truth carries the retry count
_RC_OUTCOMES = ("304", "304", "header", "lsh", "changed", "memo404", "lsh_retry")

_RC_BODY = (
    "<html><body>"
    + "granite harbor lantern meadow orchard pennant quarry russet timber " * 12
    + "</body></html>"
)
_RC_BODY_NEAR = _RC_BODY.replace("orchard", "orchid", 1)
_RC_BODY_DIFF = (
    "<html><body>"
    + "velvet wharf yarrow zenith abacus bramble cornice dormer eaves " * 12
    + "</body></html>"
)


def generate_recrawl_fixture():
    """Returns (pages_rows, domains_rows, prev_rows, expected_rows).

    pages_rows/domains_rows: the ROUND-2 web in the engine's frame schema.
    prev_rows: the stored round-1 crawl (domain, pos, url, http_status,
    image_id, etag, last_modified, lsh64).
    expected_rows: planted truth (domain, url, outcome).
    """
    from ..canon.easylsh import content_hash_signed as lsh_signed

    pages_rows, domains_rows, prev_rows, expected_rows = [], [], [], []
    for i in range(RC_N_DOMAINS):
        name = f"rw{i}.example.org"
        domains_rows.append(
            {
                "domain": name,
                "top_domain": "example.org",
                "proto": "https",
                "probe": "ok",
                "robots_txt": None,
                "site_kind": "default",
                "crawl_depth": 10_000,
                "seed_urls": [],
                "sitemap_urls": [],
                "generator_meta": "",
                "has_lemmy_config": False,
            }
        )

        def page(path, status=200, etag=None, lm=None, body=None,
                 t_status=0, t_count=0, ra=None):
            pages_rows.append(
                {
                    "domain": name, "path": path, "param": None,
                    "url": f"https://{name}{path}", "status": status,
                    "redirect_to": None, "content_type": "text/html",
                    "image_id": "img-0" if status == 200 else None,
                    "base_href": None, "links": [], "feed_links": [],
                    "body_marker": None, "etag": etag, "last_modified": lm,
                    "body_text": body,
                    "transient_status": t_status, "transient_count": t_count,
                    "retry_after": ra,
                }
            )

        page("/", body=_RC_BODY)
        for j in range(RC_DOCS_PER_DOMAIN):
            outcome = _RC_OUTCOMES[(i + j) % len(_RC_OUTCOMES)]
            path = f"/doc{j}.html"
            url = f"https://{name}{path}"
            lm = f"Mon, 0{1 + j % 9} Jan 2024 00:00:00 GMT"
            prev = {
                "domain": name, "pos": j, "url": url, "http_status": 200,
                "image_id": "img-0", "etag": None, "last_modified": None,
                "lsh64": lsh_signed(_RC_BODY),
            }
            if outcome == "304":
                # validators unchanged → server answers 304
                if j % 2 == 0:
                    page(path, etag=f'"e{j}"', body=_RC_BODY)
                    prev["etag"] = f'"e{j}"'
                else:
                    page(path, lm=lm, body=_RC_BODY)
                    prev["last_modified"] = lm
            elif outcome == "header":
                # ETag rotated (no 304) but Last-Modified identical —
                # header-equality retains even though the body changed
                page(path, etag=f'"new{j}"', lm=lm, body=_RC_BODY_DIFF)
                prev["etag"] = f'"old{j}"'
                prev["last_modified"] = lm
                prev["lsh64"] = lsh_signed(_RC_BODY)
            elif outcome == "lsh":
                # no validators, body near-identical → EasyLSH retains
                page(path, body=_RC_BODY_NEAR)
            elif outcome == "changed":
                # validators rotated AND body rewritten → genuinely changed
                page(path, etag=f'"new{j}"', body=_RC_BODY_DIFF)
                prev["etag"] = f'"old{j}"'
            elif outcome == "memo404":
                prev["http_status"] = 404
                prev["image_id"] = None
                prev["lsh64"] = None
            elif outcome == "lsh_retry":
                # two transient 429s before the 200 — the conditional GET's
                # retry ladder must recover it, then the LSH arm retains
                page(path, body=_RC_BODY_NEAR, t_status=429, t_count=2, ra="1")
            prev_rows.append(prev)
            expected_rows.append(
                {
                    "domain": name,
                    "url": url,
                    "outcome": "lsh" if outcome == "lsh_retry" else outcome,
                    "n_retries": 2 if outcome == "lsh_retry" else 0,
                }
            )
    return pages_rows, domains_rows, prev_rows, expected_rows


def recrawl_oracle_sql() -> str:
    _, _, _, expected = generate_recrawl_fixture()
    p = _export("recrawl", gw_recrawl=expected)["gw_recrawl"]
    return (
        f"SELECT domain, url, outcome, CAST(n_retries AS BIGINT) AS n_retries"
        f" FROM read_parquet('{p}')"
    )


# ---------------------------------------------------------------------------
# Retry-ladder gate fixture: planted transient/permanent 429/5xx pages.
# The in-client retry ladder (429 ≤3× with clamped Retry-After, 500/503
# ≤2× — HttpFetcherImpl.java:657-706, retry intervals :682-706) must
# recover exactly the recoverable pages with the planted retry count; the
# obstinate ones exhaust the ladder and land in the error budget.  The
# truth table below is written from the ladder's PUBLIC contract (the
# reference's retryRequest/getRetryInterval arithmetic), not by running
# engine code.
# ---------------------------------------------------------------------------

RETRY_N_DOMAINS = 4

# (path, base_status, transient_status, transient_count, retry_after,
#  outcome, n_retries)
_RETRY_CASES = [
    ("/r/t429-ra3.html", 200, 429, 1, "3", "fetched", 1),
    ("/r/t429-full.html", 200, 429, 3, None, "fetched", 3),
    ("/r/t429-clamp.html", 200, 429, 2, "120", "fetched", 2),  # clamps to 10 s
    ("/r/t429-junk.html", 200, 429, 1, "soon(tm)", "fetched", 1),  # → 2 s default
    ("/r/perm429.html", 429, 0, 0, "2", "rate_limited", 3),
    ("/r/t503.html", 200, 503, 2, None, "fetched", 2),
    ("/r/t500.html", 200, 500, 1, None, "fetched", 1),
    ("/r/perm500.html", 500, 0, 0, None, "server_error", 2),
    ("/r/perm503.html", 503, 0, 0, None, "server_error", 2),
    ("/r/t429-give.html", 200, 429, 9, "0", "rate_limited", 3),  # outlasts the ladder
]


def generate_retry_fixture():
    """Returns (pages_rows, domains_rows, expected_rows) — expected_rows is
    the planted (domain, url, outcome, n_retries) truth."""
    pages_rows, domains_rows, expected_rows = [], [], []
    for i in range(RETRY_N_DOMAINS):
        name = f"rl{i}.example.org"
        domains_rows.append(
            {
                "domain": name, "top_domain": "example.org", "proto": "https",
                "probe": "ok", "robots_txt": None, "site_kind": "default",
                "crawl_depth": 10_000, "seed_urls": [], "sitemap_urls": [],
                "generator_meta": "", "has_lemmy_config": False,
            }
        )

        def page(path, status=200, links=(), t_status=0, t_count=0, ra=None):
            pages_rows.append(
                {
                    "domain": name, "path": path, "param": None,
                    "url": f"https://{name}{path}", "status": status,
                    "redirect_to": None, "content_type": "text/html",
                    "image_id": None, "base_href": None, "links": list(links),
                    "feed_links": [], "body_marker": None, "etag": None,
                    "last_modified": None, "body_text": None,
                    "transient_status": t_status, "transient_count": t_count,
                    "retry_after": ra,
                }
            )

        page("/", links=[c[0] for c in _RETRY_CASES])
        for path, base, t_status, t_count, ra, outcome, n_retries in _RETRY_CASES:
            page(path, status=base, t_status=t_status, t_count=t_count, ra=ra)
            expected_rows.append(
                {
                    "domain": name,
                    "url": f"https://{name}{path}",
                    "outcome": outcome,
                    "n_retries": n_retries,
                }
            )
    return pages_rows, domains_rows, expected_rows


def retry_oracle_sql() -> str:
    _, _, expected = generate_retry_fixture()
    p = _export("retry", gw_retry=expected)["gw_retry"]
    return (
        f"SELECT domain, url, outcome, CAST(n_retries AS BIGINT) AS n_retries"
        f" FROM read_parquet('{p}')"
    )


# ---------------------------------------------------------------------------
# Cookie-marker gate fixture: planted Set-Cookie responses; every stored
# record must carry the has_cookies marker (the Slop `cookies` byte column /
# X-Has-Cookies — SlopCrawlDataRecord.java:45-54, DomainCookies.java,
# WarcRecorder.java:114,140: the jar updates from the response BEFORE the
# record is written, so the page that sets the first cookie is itself
# marked).  Truth written from the jar's PUBLIC parse contract (first ';'
# part, name=value split, tokens without '=' dropped), not by running
# engine code.
# ---------------------------------------------------------------------------

# domain suffix → [(path, links, set_cookie)]; visit order is root first,
# then root's links FIFO, so the expected marker per URL follows directly
_COOKIE_WEBS = [
    # never sets a cookie → all 0
    ("plain", [("/", ["/p1.html", "/p2.html"], None),
               ("/p1.html", [], None),
               ("/p2.html", [], None)]),
    # root sets it → every record marked, including root itself
    ("root", [("/", ["/r1.html"], "sid=abc; Path=/; HttpOnly"),
              ("/r1.html", [], None)]),
    # set mid-crawl on the second link → 0,0,1,1
    ("mid", [("/", ["/m1.html", "/m2.html", "/m3.html"], None),
             ("/m1.html", [], None),
             ("/m2.html", [], "theme=dark; Expires=never"),
             ("/m3.html", [], None)]),
    # Set-Cookie present but carries only a bare token without '=' —
    # DomainCookies drops it, the jar stays empty → all 0
    ("bare", [("/", ["/b1.html"], "optout; Path=/"),
              ("/b1.html", [], None)]),
    # empty VALUE is a real cookie (name=) → marked from root onward
    ("empty", [("/", ["/e1.html"], "e=; Path=/"),
               ("/e1.html", [], None)]),
]


def generate_cookie_fixture():
    """Returns (pages_rows, domains_rows, expected_rows) — expected_rows is
    the planted (domain, url, has_cookies) truth."""
    pages_rows, domains_rows, expected_rows = [], [], []
    for suffix, web in _COOKIE_WEBS:
        name = f"ck-{suffix}.example.org"
        domains_rows.append(
            {
                "domain": name, "top_domain": "example.org", "proto": "https",
                "probe": "ok", "robots_txt": None, "site_kind": "default",
                "crawl_depth": 10_000, "seed_urls": [], "sitemap_urls": [],
                "generator_meta": "", "has_lemmy_config": False,
            }
        )
        jar: dict = {}
        for path, links, set_cookie in web:
            pages_rows.append(
                {
                    "domain": name, "path": path, "param": None,
                    "url": f"https://{name}{path}", "status": 200,
                    "redirect_to": None, "content_type": "text/html",
                    "image_id": None, "base_href": None, "links": list(links),
                    "feed_links": [], "body_marker": None, "etag": None,
                    "last_modified": None, "body_text": None,
                    "set_cookie": set_cookie,
                }
            )
            # jar updates BEFORE the record is written (pages listed in
            # visit order: root, then root's links FIFO)
            if set_cookie:
                first = set_cookie.split(";", 1)[0]
                if "=" in first:
                    k, v = first.split("=", 1)
                    jar[k.strip()] = v.strip()
            # Slop at-rest parity truth (SlopCrawlDataRecord.java:35-54):
            # the gate pins that ip / request_time_ms / the raw header
            # block survive the distributed at-rest path byte-exact.  All
            # three are deterministic: ip from the synthetic resolver,
            # duration from the fetch-time kernel, header reconstructed
            # here LITERALLY (not via the session's builder) from the
            # planted response fields
            from ..oracle.session import synth_ip
            from .synthetic_web import fetch_time_ms

            url = f"https://{name}{path}"
            header = "Content-Type: text/html"
            if set_cookie:
                header += f"\nSet-Cookie: {set_cookie}"
            expected_rows.append(
                {
                    "domain": name,
                    "url": url,
                    "has_cookies": 1 if jar else 0,
                    "ip": synth_ip(name),
                    "request_time_ms": fetch_time_ms(url),
                    "header": header,
                }
            )
    return pages_rows, domains_rows, expected_rows


def cookie_oracle_sql() -> str:
    _, _, expected = generate_cookie_fixture()
    p = _export("cookie", gw_cookie=expected)["gw_cookie"]
    return (
        f"SELECT domain, url, CAST(has_cookies AS BIGINT) AS has_cookies,"
        f" ip, CAST(request_time_ms AS BIGINT) AS request_time_ms, header"
        f" FROM read_parquet('{p}')"
    )


# ---------------------------------------------------------------------------
# Sitemap-scan gate fixture: robots-declared sitemaps inject otherwise
# ORPHAN pages (no link reaches them) into the frontier — urlset,
# nested sitemapindex, RSS-as-sitemap, same-domain filtering of listed
# URLs, the ignored cross-domain Sitemap: directive, and the ≤10-fetch
# walk cap (HttpFetcherImpl.java:491-618; CrawlerRetreiver.java:199-207;
# functions/sitemap.py).  Truth written from the walker's PUBLIC
# contract: an orphan is visited iff its sitemap path survives the caps
# and filters.
# ---------------------------------------------------------------------------


def _sm_urlset(urls):
    body = "".join(f"<url><loc>{u}</loc></url>" for u in urls)
    return (
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{body}</urlset>"
    )


def _sm_index(sitemaps):
    body = "".join(f"<sitemap><loc>{u}</loc></sitemap>" for u in sitemaps)
    return (
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{body}</sitemapindex>"
    )


def _sm_rss(urls):
    items = "".join(f"<item><link>{u}</link></item>" for u in urls)
    return f'<rss version="2.0"><channel>{items}</channel></rss>'


def generate_sitemap_fixture():
    """Returns (pages_rows, domains_rows, expected_rows); expected_rows is
    the planted (domain, url, visited) truth over the orphan pages."""
    pages_rows, domains_rows, expected_rows = [], [], []

    def add_domain(suffix, robots_lines):
        name = f"sm-{suffix}.example.org"
        domains_rows.append(
            {
                "domain": name, "top_domain": "example.org", "proto": "https",
                "probe": "ok",
                "robots_txt": "User-agent: *\nAllow: /\n" + "".join(
                    f"{ln}\n" for ln in robots_lines
                ),
                "site_kind": "default", "crawl_depth": 10_000,
                "seed_urls": [], "sitemap_urls": [],
                "generator_meta": "", "has_lemmy_config": False,
            }
        )
        return name

    def page(name, path, *, links=(), body_marker=None,
             content_type="text/html"):
        pages_rows.append(
            {
                "domain": name, "path": path, "param": None,
                "url": f"https://{name}{path}", "status": 200,
                "redirect_to": None, "content_type": content_type,
                "image_id": None, "base_href": None, "links": list(links),
                "feed_links": [], "body_marker": body_marker, "etag": None,
                "last_modified": None, "body_text": None,
            }
        )

    def orphan(name, path, visited):
        page(name, path)
        expected_rows.append(
            {"domain": name, "url": f"https://{name}{path}",
             "visited": 1 if visited else 0}
        )

    # plain urlset: 3 orphans in, 1 uncited page out
    d = add_domain("urlset", ["Sitemap: https://sm-urlset.example.org/sitemap.xml"])
    page(d, "/")
    page(d, "/sitemap.xml", content_type="application/xml",
         body_marker=_sm_urlset([f"https://{d}/s{i}.html" for i in range(3)]))
    for i in range(3):
        orphan(d, f"/s{i}.html", True)
    orphan(d, "/uncited.html", False)

    # nested sitemapindex → two urlset subs
    d = add_domain("index", ["Sitemap: https://sm-index.example.org/sitemap.xml"])
    page(d, "/")
    page(d, "/sitemap.xml", content_type="application/xml",
         body_marker=_sm_index([f"https://{d}/sitemap-a.xml",
                                f"https://{d}/sitemap-b.xml"]))
    page(d, "/sitemap-a.xml", content_type="application/xml",
         body_marker=_sm_urlset([f"https://{d}/a0.html", f"https://{d}/a1.html"]))
    page(d, "/sitemap-b.xml", content_type="application/xml",
         body_marker=_sm_urlset([f"https://{d}/b0.html"]))
    for p in ("/a0.html", "/a1.html", "/b0.html"):
        orphan(d, p, True)

    # listed cross-domain URL is filtered; same-domain one admitted
    d = add_domain("crossurl", ["Sitemap: https://sm-crossurl.example.org/sitemap.xml"])
    page(d, "/")
    page(d, "/sitemap.xml", content_type="application/xml",
         body_marker=_sm_urlset(["https://evil.example.org/x.html",
                                 f"https://{d}/s0.html"]))
    orphan(d, "/s0.html", True)
    orphan(d, "/unlisted.html", False)

    # cross-domain Sitemap: directive ignored entirely; own one walked
    d = add_domain("evildir", ["Sitemap: https://evil.example.org/sitemap.xml",
                               "Sitemap: https://sm-evildir.example.org/sitemap.xml"])
    page(d, "/")
    page(d, "/sitemap.xml", content_type="application/xml",
         body_marker=_sm_urlset([f"https://{d}/s0.html"]))
    orphan(d, "/s0.html", True)
    orphan(d, "/hidden.html", False)

    # RSS body behind the sitemap URL (feed-as-sitemap arm)
    d = add_domain("rss", ["Sitemap: https://sm-rss.example.org/sitemap.xml"])
    page(d, "/")
    page(d, "/sitemap.xml", content_type="application/xml",
         body_marker=_sm_rss([f"https://{d}/r0.html", f"https://{d}/r1.html"]))
    for p in ("/r0.html", "/r1.html"):
        orphan(d, p, True)

    # fetch cap + traversal order: index + 12 subs.  The reference's
    # ++fetchedSitemaps < 10 pre-increment budget allows 9 fetches total
    # (HttpFetcherImpl.java:506); the index consumes one, and its refs are
    # addFirst'd (LIFO, reverse listing order, :526) — so subs 11..4 are
    # fetched (8 fetches) and subs 3..0 never walked
    d = add_domain("fetchcap", ["Sitemap: https://sm-fetchcap.example.org/sitemap.xml"])
    page(d, "/")
    page(d, "/sitemap.xml", content_type="application/xml",
         body_marker=_sm_index([f"https://{d}/sub{i}.xml" for i in range(12)]))
    for i in range(12):
        page(d, f"/sub{i}.xml", content_type="application/xml",
             body_marker=_sm_urlset([f"https://{d}/c{i}.html"]))
        orphan(d, f"/c{i}.html", i >= 4)

    return pages_rows, domains_rows, expected_rows


def sitemap_oracle_sql() -> str:
    _, _, expected = generate_sitemap_fixture()
    p = _export("sitemap", gw_sitemap=expected)["gw_sitemap"]
    return (
        f"SELECT domain, url, CAST(visited AS BIGINT) AS visited"
        f" FROM read_parquet('{p}')"
    )


# ---------------------------------------------------------------------------
# Output-stage storage gate fixture: X-Robots-Tag algebra + content-type
# whitelist decide what is STORED at rest, while every page still counts
# as VISITED (SlopCrawlDataRecord.java:165-259 — the gate is at-rest
# only, it never touches the frontier or ordering).  Truth written from
# the published algebra: UA-scoped `all` permits unconditionally,
# UA-scoped `noindex`/`none` forbids, otherwise a general
# `noindex`/`none` forbids; content types outside the whitelist are
# dropped (with the octet-stream .md/.pdf rescues).
# ---------------------------------------------------------------------------

_UA = "search.marginalia.nu"

# (path, content_type, x_robots header(s) "||"-joined, stored?).  Paths
# are chosen to stay OUT of the content-probe's jurisdiction (its gate
# covers that): .html/.md/.pdf are ContentTypeLogic probable-good (no
# HEAD probe), and the non-html types ride suffix-less paths (not
# binary-looking → no probe either).  .md/.pdf candidates enter as
# SEEDS because the link parser (correctly) drops such hrefs.
_XR_CASES = [
    ("/plain.html", "text/html", None, 1),
    ("/noindex.html", "text/html", "noindex", 0),
    ("/none.html", "text/html", "none", 0),
    ("/other-ua.html", "text/html", "otherbot: noindex", 1),   # scoped to another UA → ignored
    ("/ua-noindex.html", "text/html", f"{_UA}: noindex", 0),   # scoped to us → forbids
    ("/ua-all-wins.html", "text/html", f"{_UA}: all||noindex", 1),  # UA-all overrides general noindex
    ("/ua-none.html", "text/html", f"{_UA}: none", 0),
    ("/follow.html", "text/html", "nofollow", 1),              # nofollow alone doesn't forbid storage
    ("/styles", "text/css", None, 0),                          # whitelist: css dropped at rest
    ("/blob", "application/octet-stream", None, 0),            # octet-stream, no rescue
    ("/doc.md", "application/octet-stream", None, 1),          # octet-stream .md rescue
    ("/paper.pdf", "application/octet-stream", None, 1),       # octet-stream .pdf rescue
    ("/photo", "image/png", None, 1),                          # image-graft payload type
]


def generate_xrobots_fixture():
    """Returns (pages_rows, domains_rows, expected_rows); expected is the
    planted (domain, url, visited, stored) truth."""
    name = "xr0.example.org"
    domains_rows = [
        {
            "domain": name, "top_domain": "example.org", "proto": "https",
            "probe": "ok", "robots_txt": None, "site_kind": "default",
            "crawl_depth": 10_000, "seed_urls": [], "sitemap_urls": [],
            "generator_meta": "", "has_lemmy_config": False,
        }
    ]
    pages_rows, expected_rows = [], []

    def page(path, content_type="text/html", links=(), x_robots=None):
        pages_rows.append(
            {
                "domain": name, "path": path, "param": None,
                "url": f"https://{name}{path}", "status": 200,
                "redirect_to": None, "content_type": content_type,
                "image_id": None, "base_href": None, "links": list(links),
                "feed_links": [], "body_marker": None, "etag": None,
                "last_modified": None, "body_text": None,
                "x_robots": x_robots,
            }
        )

    # .md/.pdf candidates enter as SEED urls: the link parser (correctly)
    # refuses binary-suffix hrefs, but seeds go straight to the frontier
    link_paths = [c[0] for c in _XR_CASES if "." not in c[0] or c[0].endswith(".html")]
    seed_paths = [c[0] for c in _XR_CASES if c[0].endswith((".md", ".pdf"))]
    domains_rows[0]["seed_urls"] = [f"https://{name}{p}" for p in seed_paths]
    page("/", links=link_paths)
    for path, ct, xr, stored in _XR_CASES:
        page(path, content_type=ct, x_robots=xr)
        expected_rows.append(
            {
                "domain": name,
                "url": f"https://{name}{path}",
                "visited": 1,  # the gate is at-rest only — always visited
                "stored": stored,
            }
        )
    return pages_rows, domains_rows, expected_rows


def xrobots_oracle_sql() -> str:
    _, _, expected = generate_xrobots_fixture()
    p = _export("xrobots", gw_xrobots=expected)["gw_xrobots"]
    return (
        f"SELECT domain, url, CAST(visited AS BIGINT) AS visited,"
        f" CAST(stored AS BIGINT) AS stored"
        f" FROM read_parquet('{p}')"
    )


# ---------------------------------------------------------------------------
# Domain-meta discovery gate fixture: RSS/Atom feed discovery (link
# rel=alternate hrefs first — same-domain only — then the reference's
# likely-endpoint guessing ladder with its '<rss'/'<atom' body sniff and
# robots gate; CrawlerRetreiver.java:404-441) and favicon resolution
# (<link rel=icon> override when same-domain, /favicon.ico default,
# robots-gated, 200-only persist; CrawlerRetreiver.java:333-339,
# DomainStateDb.saveIcon).  Truth written from those published ladders.
# ---------------------------------------------------------------------------


def generate_domain_meta_fixture():
    """Returns (pages_rows, domains_rows, expected_rows); expected is the
    planted (domain, feed_url, favicon_url, favicon_content_type) truth."""
    pages_rows, domains_rows, expected_rows = [], [], []

    def add_domain(suffix, robots_txt=None):
        name = f"fd-{suffix}.example.org"
        domains_rows.append(
            {
                "domain": name, "top_domain": "example.org", "proto": "https",
                "probe": "ok", "robots_txt": robots_txt, "site_kind": "default",
                "crawl_depth": 10_000, "seed_urls": [], "sitemap_urls": [],
                "generator_meta": "", "has_lemmy_config": False,
            }
        )
        return name

    def page(name, path, *, content_type="text/html", links=(),
             feed_links=(), body_marker=None, icon_href=None):
        pages_rows.append(
            {
                "domain": name, "path": path, "param": None,
                "url": f"https://{name}{path}", "status": 200,
                "redirect_to": None, "content_type": content_type,
                "image_id": None, "base_href": None, "links": list(links),
                "feed_links": list(feed_links), "body_marker": body_marker,
                "etag": None, "last_modified": None, "body_text": None,
                "icon_href": icon_href,
            }
        )

    def expect(name, feed, fav, fav_ct):
        expected_rows.append(
            {"domain": name, "feed_url": feed, "favicon_url": fav,
             "favicon_content_type": fav_ct}
        )

    RSS = '<rss version="2.0">'

    # link rel=alternate feed wins outright; no favicon page → no record
    d = add_domain("rel")
    page(d, "/", feed_links=["/custom/feed.xml"])
    expect(d, f"https://{d}/custom/feed.xml", None, None)

    # cross-domain rel href rejected; guesses all 404 → no feed;
    # default /favicon.ico exists → recorded
    d = add_domain("relcross")
    page(d, "/", feed_links=["https://evil.example.org/feed"])
    page(d, "/favicon.ico", content_type="image/x-icon")
    expect(d, None, f"https://{d}/favicon.ico", "image/x-icon")

    # endpoint guessing: rss.xml/atom.xml 404, feed.xml serves RSS →
    # third guess wins; icon_href overrides the favicon default
    d = add_domain("guess")
    page(d, "/", icon_href="/icons/fav.png")
    page(d, "/feed.xml", content_type="application/rss+xml", body_marker=RSS)
    page(d, "/icons/fav.png", content_type="image/png")
    expect(d, f"https://{d}/feed.xml", f"https://{d}/icons/fav.png", "image/png")

    # robots gates BOTH ladders: /rss.xml disallowed (guess skips it even
    # though it serves a valid feed; /atom.xml wins) and /favicon.ico
    # disallowed → no favicon record despite the page existing
    d = add_domain("robots")
    page(d, "/")
    page(d, "/rss.xml", content_type="application/rss+xml", body_marker=RSS)
    page(d, "/atom.xml", content_type="application/rss+xml", body_marker=RSS)
    page(d, "/favicon.ico", content_type="image/x-icon")
    expect(d, f"https://{d}/atom.xml", None, None)
    domains_rows[-1]["robots_txt"] = (
        "User-agent: *\nDisallow: /rss.xml\nDisallow: /favicon.ico\n"
    )

    # wrong body sniff: /rss.xml answers 200 but is not a feed → no feed;
    # cross-domain icon_href falls back to the /favicon.ico default
    d = add_domain("marker")
    page(d, "/", icon_href="https://cdn.evil.example.org/f.ico")
    page(d, "/rss.xml", body_marker="<html>")
    page(d, "/favicon.ico", content_type="image/x-icon")
    expect(d, None, f"https://{d}/favicon.ico", "image/x-icon")

    return pages_rows, domains_rows, expected_rows


def domain_meta_oracle_sql() -> str:
    _, _, expected = generate_domain_meta_fixture()
    p = _export("domainmeta", gw_domainmeta=expected)["gw_domainmeta"]
    return (
        f"SELECT domain, feed_url, favicon_url, favicon_content_type"
        f" FROM read_parquet('{p}')"
    )


# ---------------------------------------------------------------------------
# Content-type probe gate fixture: planted binary-looking URLs whose HEAD
# probe must classify them (allowed / blocked type / error / redirect)
# before any GET is spent — HttpFetcherImpl.probeContentType (:332-400)
# and the fetchContent arm handling (:408-446).  Truth decided by the
# generator from the probe's public contract.
# ---------------------------------------------------------------------------

CT_N_DOMAINS = 3

# (path, content_type, status, head_status, redirect_to_path, outcome, via)
# via='link' arrives through root hrefs; via='seed' arrives as a spec seed
# URL — the link parser (faithfully) drops .pdf/.dat/.bin hrefs at
# extraction time, but spec/seed URLs enter the frontier directly, which
# is exactly where the reference's content-type probe earns its keep
_CT_CASES = [
    ("/r/page.html", "text/html", 200, 0, None, "fetched", "link"),   # good pattern → no probe
    ("/r/app.pdf", "application/pdf", 200, 0, None, "fetched", "seed"),  # good pattern → no probe
    ("/r/data.ashx", "text/html", 200, 0, None, "fetched", "link"),   # probe HEAD 200 html → OK → GET
    ("/r/feed.rsx", "application/rss+xml", 200, 0, None, "fetched", "link"),  # accepted prefix
    ("/r/style.qcss", "text/css", 200, 0, None, "bad_type", "link"),  # blocked type, no GET
    ("/r/blob.dat", "application/octet-stream", 200, 0, None, "bad_type", "seed"),
    ("/r/miss.abc", None, 0, 0, None, "probe_error", "link"),         # absent page: HEAD 404
    ("/r/redir.abc", "text/html", 301, 0, "/r/target.html", "probe_redirect", "link"),
    ("/r/head405.bin", "text/html", 200, 405, None, "fetched", "seed"),  # 405 → GET anyway
]


def generate_content_probe_fixture():
    """Returns (pages_rows, domains_rows, expected_rows); expected is the
    planted (domain, url, outcome) truth — plus the redirect target, which
    must end up fetched through the addFirst re-entry."""
    pages_rows, domains_rows, expected_rows = [], [], []
    for i in range(CT_N_DOMAINS):
        name = f"cp{i}.example.org"
        seeds = [
            f"https://{name}{c[0]}" for c in _CT_CASES if c[6] == "seed"
        ]
        domains_rows.append(
            {
                "domain": name, "top_domain": "example.org", "proto": "https",
                "probe": "ok", "robots_txt": None, "site_kind": "default",
                "crawl_depth": 10_000, "seed_urls": seeds, "sitemap_urls": [],
                "generator_meta": "", "has_lemmy_config": False,
            }
        )

        def page(path, ct="text/html", status=200, head_status=0,
                 redirect_to=None, links=()):
            pages_rows.append(
                {
                    "domain": name, "path": path, "param": None,
                    "url": f"https://{name}{path}", "status": status,
                    "redirect_to": redirect_to, "content_type": ct,
                    "image_id": None, "base_href": None, "links": list(links),
                    "feed_links": [], "body_marker": None, "etag": None,
                    "last_modified": None, "body_text": None,
                    "head_status": head_status,
                }
            )

        page("/", links=[c[0] for c in _CT_CASES if c[6] == "link"])
        for path, ct, status, head_status, rt, outcome, _via in _CT_CASES:
            if status == 0:
                pass  # absent page: the web 404s it
            else:
                page(
                    path, ct=ct, status=status, head_status=head_status,
                    redirect_to=f"https://{name}{rt}" if rt else None,
                )
            expected_rows.append(
                {"domain": name, "url": f"https://{name}{path}", "outcome": outcome}
            )
        page("/r/target.html")  # the probe-redirect landing page
        expected_rows.append(
            {
                "domain": name,
                "url": f"https://{name}/r/target.html",
                "outcome": "fetched",
            }
        )
    return pages_rows, domains_rows, expected_rows


def content_probe_oracle_sql() -> str:
    _, _, expected = generate_content_probe_fixture()
    p = _export("ctprobe", gw_ctprobe=expected)["gw_ctprobe"]
    return f"SELECT domain, url, outcome FROM read_parquet('{p}')"


# ---------------------------------------------------------------------------
# Crawl-ORDER gate fixture: the north rule requires reproducing the
# reference's crawl ordering, not just the visited set.  Each domain is a
# small branch+redirect shape whose FIFO + addFirst order is known by
# construction (DomainCrawlFrontier queue discipline:
# take_next=popleft, links appended, redirect targets addFirst —
# CrawlerRetreiver.java:fetchContentWithReference ResultRedirect arm):
#
#   /    → links /a, /b          visit 1
#   /a   → links /c              visit 2
#   /b   → 301 → /e              visit 3  (e jumps the queue: addFirst)
#   /e   → links /f              visit 4
#   /c   → (leaf)                visit 5
#   /f   → (leaf)                visit 6
# ---------------------------------------------------------------------------

ORDER_N_DOMAINS = 6


def generate_order_web():
    """Returns (pages_rows, domains_rows, expected_rows) — expected_rows is
    the planted (domain, rank, url) visit order."""
    pages_rows, domains_rows, expected_rows = [], [], []
    for i in range(ORDER_N_DOMAINS):
        name = f"ord{i}.example.org"
        domains_rows.append(
            {
                "domain": name, "top_domain": "example.org", "proto": "https",
                "probe": "ok", "robots_txt": None, "site_kind": "default",
                "crawl_depth": 10_000, "seed_urls": [], "sitemap_urls": [],
                "generator_meta": "", "has_lemmy_config": False,
            }
        )

        def page(path, links=(), status=200, redirect_to=None):
            pages_rows.append(
                {
                    "domain": name, "path": path, "param": None,
                    "url": f"https://{name}{path}", "status": status,
                    "redirect_to": redirect_to, "content_type": "text/html",
                    "image_id": None, "base_href": None, "links": list(links),
                    "feed_links": [], "body_marker": None, "etag": None,
                    "last_modified": None, "body_text": None,
                }
            )

        page("/", links=["/a.html", "/b.html"])
        page("/a.html", links=["/c.html"])
        page("/b.html", status=301, redirect_to=f"https://{name}/e.html")
        page("/c.html")
        page("/e.html", links=["/f.html"])
        page("/f.html")
        order = ["/", "/a.html", "/b.html", "/e.html", "/c.html", "/f.html"]
        for rank, path in enumerate(order, start=1):
            expected_rows.append(
                {"domain": name, "rank": rank, "url": f"https://{name}{path}"}
            )

    # one more domain: ordering THROUGH the probe-walk internal-redirect
    # arm — the walk hops root→/a and resolves Ok at the root; the sniff
    # then sees the 301 and addFirst()s /a (CrawlerRetreiver.java:305-311),
    # so the planted order is root, /a, then /a's links in FIFO order
    name = f"ord{ORDER_N_DOMAINS}.example.org"
    domains_rows.append(
        {
            "domain": name, "top_domain": "example.org", "proto": "https",
            "probe": "ok", "robots_txt": None, "site_kind": "default",
            "crawl_depth": 10_000, "seed_urls": [], "sitemap_urls": [],
            "generator_meta": "", "has_lemmy_config": False,
        }
    )

    def rpage(path, links=(), status=200, redirect_to=None):
        pages_rows.append(
            {
                "domain": name, "path": path, "param": None,
                "url": f"https://{name}{path}", "status": status,
                "redirect_to": redirect_to, "content_type": "text/html",
                "image_id": None, "base_href": None, "links": list(links),
                "feed_links": [], "body_marker": None, "etag": None,
                "last_modified": None, "body_text": None,
            }
        )

    rpage("/", status=301, redirect_to=f"https://{name}/a.html")
    rpage("/a.html", links=["/b.html", "/c.html"])
    rpage("/b.html")
    rpage("/c.html")
    for rank, path in enumerate(["/", "/a.html", "/b.html", "/c.html"], start=1):
        expected_rows.append(
            {"domain": name, "rank": rank, "url": f"https://{name}{path}"}
        )
    return pages_rows, domains_rows, expected_rows


def order_oracle_sql() -> str:
    _, _, expected = generate_order_web()
    p = _export("order", gw_order=expected)["gw_order"]
    return f"SELECT domain, rank, url FROM read_parquet('{p}')"


# ---------------------------------------------------------------------------
# Cross-domain discovery gate fixture: domain A links to orphan pages on
# domain B that nothing on B references.  Cycle 1 crawls both; the
# discovery loop (plans/discovery.py) must admit exactly the planted
# orphans (canonicalized, globally deduped) as next-cycle atags.
# ---------------------------------------------------------------------------

DISC_N_PAIRS = 4
DISC_ORPHANS_PER = 3


def generate_discovery_fixture():
    """Returns (pages_rows, domains_rows, expected_rows) where expected_rows
    is the planted truth: (domain, url) of every cross-domain-only orphan."""
    pages_rows, domains_rows, expected_rows = [], [], []

    def page(name, path, links=()):
        pages_rows.append(
            {
                "domain": name, "path": path, "param": None,
                "url": f"https://{name}{path}", "status": 200,
                "redirect_to": None, "content_type": "text/html",
                "image_id": None, "base_href": None, "links": list(links),
                "feed_links": [], "body_marker": None, "etag": None,
                "last_modified": None, "body_text": None,
            }
        )

    for i in range(DISC_N_PAIRS):
        src, dst = f"dsrc{i}.example.org", f"ddst{i}.example.org"
        for name in (src, dst):
            domains_rows.append(
                {
                    "domain": name, "top_domain": "example.org",
                    "proto": "https", "probe": "ok", "robots_txt": None,
                    "site_kind": "default", "crawl_depth": 100,
                    "seed_urls": [], "sitemap_urls": [], "generator_meta": "",
                    "has_lemmy_config": False,
                }
            )
        orphans = [f"/orphan{k}.html" for k in range(DISC_ORPHANS_PER)]
        # src links to its own page, to dst pages ALREADY visited in cycle 1
        # (the seen-set must reject them), and (duplicated) to dst's orphans
        # — duplicates must collapse to one admission each
        page(
            src,
            "/",
            ["/own.html", f"https://{dst}/", f"https://{dst}/linked.html"]
            + [f"https://{dst}{o}" for o in orphans] * 2,
        )
        page(src, "/own.html")
        page(dst, "/", ["/linked.html"])
        page(dst, "/linked.html")
        for o in orphans:
            page(dst, o)
            expected_rows.append({"domain": dst, "url": f"https://{dst}{o}"})
    return pages_rows, domains_rows, expected_rows


def discovery_oracle_sql() -> str:
    _, _, expected = generate_discovery_fixture()
    p = _export("disc", gw_discovery=expected)["gw_discovery"]
    return f"SELECT domain, url FROM read_parquet('{p}')"

# ---------------------------------------------------------------------------
# Link-filter-kinds gate fixture: one domain per LinkFilterSelector arm
# (blogspot / substack / lemmy / discourse + a default control).  The
# generator exports only the raw link facts (domain, kind, src_url, href);
# the DuckDB oracle re-derives the visited set as a recursive reachability
# closure with each kind's cherry-picking predicate mirrored as plain SQL
# (LinkFilterSelector.java:15-66) — no engine code on the oracle path.
# The engine must DISCOVER the kind from root-document signals (top-domain
# for blogspot/substack, lemmyConfig script, generator meta) and keep
# applying it beyond the root (each fixture web is two links deep).
# ---------------------------------------------------------------------------


def generate_linkfilter_fixture():
    """Returns (pages_rows, domains_rows, lf_domains, lf_links)."""
    pages_rows, domains_rows = [], []
    lf_domains, lf_links = [], []

    webs = [
        # (domain, kind, generator_meta, has_lemmy_config, {path: [hrefs]})
        (
            "myblog.blogspot.com", "blogspot", "", False,
            {
                "/": ["/2024/01/alpha.html", "/feeds/posts/default",
                      "/feedstock.html", "/feedback.html", "/p/about.html"],
                "/2024/01/alpha.html": ["/2024/02/beta.html",
                                        "/feeds/comments/default"],
                "/2024/02/beta.html": [],
                "/p/about.html": [],
                "/feedback.html": [],
                # refused targets exist as real 200 pages: a filter
                # regression would visit them and surface as extra rows
                "/feeds/posts/default": ["/never/seen.html"],
                "/feedstock.html": [],
                "/feeds/comments/default": [],
                "/never/seen.html": [],
            },
        ),
        (
            "writer.substack.com", "substack", "", False,
            {
                "/": ["/p/post1.html", "/p/post1/comments", "/comments",
                      "/comments.html", "/about.html"],
                "/p/post1.html": ["/p/post2.html", "/p/post2/comments"],
                "/p/post2.html": [],
                "/about.html": [],
                "/comments.html": [],
                "/p/post1/comments": ["/never/seen.html"],
                "/comments": [],
                "/p/post2/comments": [],
                "/never/seen.html": [],
            },
        ),
        (
            "lemmy.example.org", "lemmy", "", True,
            {
                "/": ["/post/101", "/c/rust", "/c/rust@remote.example",
                      "/u/alice", "/communities", "/postings"],
                "/post/101": ["/post/102", "/u/bob"],
                "/c/rust": ["/post/103", "/c/meta@other.host"],
                "/post/102": [],
                "/post/103": [],
                "/c/rust@remote.example": ["/never/seen"],
                "/u/alice": [],
                "/u/bob": [],
                "/communities": [],
                "/postings": [],
                "/c/meta@other.host": [],
                "/never/seen": [],
            },
        ),
        (
            "forum.example.org", "discourse", "Discourse 3.2.0", False,
            {
                "/": ["/t/intro/1", "/latest", "/c/bugs/latest", "/u/bob",
                      "/tags", "/top"],
                "/t/intro/1": ["/t/intro/2", "/u/carol"],
                "/latest": ["/t/help/9"],
                "/t/intro/2": [],
                "/t/help/9": [],
                "/c/bugs/latest": [],
                "/u/bob": ["/never/seen"],
                "/u/carol": [],
                "/tags": [],
                "/top": [],
                "/never/seen": [],
            },
        ),
        (
            "plain.example.org", "default", "", False,
            {
                # the control: every shape the other kinds refuse is ADMITTED
                "/": ["/feeds/x.html", "/p/a/comments", "/u/bob",
                      "/anything.html"],
                "/feeds/x.html": [],
                "/p/a/comments": [],
                "/u/bob": [],
                "/anything.html": [],
            },
        ),
    ]

    for name, kind, gen_meta, lemmy_cfg, web in webs:
        top = ".".join(name.split(".")[-2:])
        domains_rows.append(
            {
                "domain": name, "top_domain": top, "proto": "https",
                "probe": "ok", "robots_txt": None,
                "site_kind": kind if kind != "default" else "default",
                "crawl_depth": 10_000, "seed_urls": [], "sitemap_urls": [],
                "generator_meta": gen_meta, "has_lemmy_config": lemmy_cfg,
            }
        )
        lf_domains.append({"domain": name, "kind": kind})
        for path, hrefs in web.items():
            url = f"https://{name}{path}"
            pages_rows.append(
                {
                    "domain": name, "path": path, "param": None,
                    "url": url, "status": 200, "redirect_to": None,
                    "content_type": "text/html", "image_id": None,
                    "base_href": None, "links": list(hrefs),
                    "feed_links": [], "body_marker": None, "etag": None,
                    "last_modified": None, "body_text": None,
                }
            )
            for href in hrefs:
                lf_links.append({"domain": name, "src_url": url, "href": href})
    return pages_rows, domains_rows, lf_domains, lf_links


def linkfilter_oracle_sql() -> str:
    """Recursive reachability closure with the per-kind cherry-picking
    predicates as plain SQL (LinkFilterSelector.java:15-66)."""
    _, _, lf_domains, lf_links = generate_linkfilter_fixture()
    paths = _export("lf", lf_domains=lf_domains, lf_links=lf_links)
    dd, ll = paths["lf_domains"], paths["lf_links"]
    return f"""
        WITH RECURSIVE
        doms AS (SELECT domain, kind FROM read_parquet('{dd}')),
        adm AS (
            SELECT l.domain, l.src_url,
                   'https://' || l.domain || l.href AS dst_url
            FROM read_parquet('{ll}') l JOIN doms d USING (domain)
            WHERE CASE d.kind
                WHEN 'blogspot'  THEN l.href NOT LIKE '/feeds%'
                WHEN 'substack'  THEN l.href NOT LIKE '%/comments'
                WHEN 'lemmy'     THEN l.href LIKE '/post/%'
                     OR (l.href LIKE '/c/%' AND l.href NOT LIKE '%@%')
                WHEN 'discourse' THEN l.href LIKE '/t/%'
                     OR l.href LIKE '%/latest%'
                ELSE TRUE END),
        visited (domain, url) AS (
            SELECT domain, 'https://' || domain || '/' FROM doms
            UNION
            SELECT a.domain, a.dst_url
            FROM visited v
            JOIN adm a ON v.domain = a.domain AND v.url = a.src_url)
        SELECT domain, url FROM visited
    """

# ---------------------------------------------------------------------------
# robots.txt is_allowed gate fixture: (case_id, robots_txt, user_agent, url)
# with the expected verdicts DECLARED at generation — hand-derived from
# RFC 9309 + the reference's robots-parsing tests (DomainCrawlerRobotsTxtTest
# .java:10-30; the reference parses with crawler-commons SimpleRobotRules).
# The engine must reproduce every verdict through its own parser.
# ---------------------------------------------------------------------------

_ROB_OVERRIDE = (
    "User-agent: *\nDisallow: /\n\n"
    "User-agent: GoogleBot\nUser-agent: search.marginalia.nu\n"
    "Disallow:\nDisallow: /private/\n"
)
_ROB_BASIC = (
    "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
    "Crawl-delay: 2.5\nSitemap: https://example.com/sitemap.xml\n"
)
_ROB_WILD = "User-agent: *\nDisallow: /*.php$\nDisallow: /tmp/*\n"
_ROB_LONGEST = "User-agent: *\nDisallow: /a\nAllow: /a/b\n"
_ROB_ALL = "User-agent: *\nDisallow: /\n"


def generate_robots_fixture():
    """Returns rows (case_id, robots_txt, user_agent, url, exp_allowed)."""
    cases = [
        # UA-override block: our UA gets the empty-Disallow group,
        # everyone else the blanket block
        (_ROB_OVERRIDE, "search.marginalia.nu", "http://x.com/test", True),
        (_ROB_OVERRIDE, "search.marginalia.nu", "http://x.com/private/x", False),
        (_ROB_OVERRIDE, "randombot", "http://x.com/test", False),
        # prefix rules + Allow carve-out
        (_ROB_BASIC, "search.marginalia.nu", "https://e.com/", True),
        (_ROB_BASIC, "search.marginalia.nu", "https://e.com/private/x", False),
        (_ROB_BASIC, "search.marginalia.nu", "https://e.com/private/ok.html", True),
        (_ROB_BASIC, "search.marginalia.nu", "https://e.com/other/page", True),
        # wildcards and $ anchors
        (_ROB_WILD, "bot", "https://e.com/page.php", False),
        (_ROB_WILD, "bot", "https://e.com/page.php?x=1", True),
        (_ROB_WILD, "bot", "https://e.com/tmp/file", False),
        (_ROB_WILD, "bot", "https://e.com/tmp/", False),
        (_ROB_WILD, "bot", "https://e.com/other", True),
        # longest-match precedence (RFC 9309 §2.2.2)
        (_ROB_LONGEST, "bot", "https://e.com/a", False),
        (_ROB_LONGEST, "bot", "https://e.com/a/b", True),
        (_ROB_LONGEST, "bot", "https://e.com/a/bc", True),
        (_ROB_LONGEST, "bot", "https://e.com/ax", False),
        (_ROB_LONGEST, "bot", "https://e.com/c", True),
        # blanket block, root included
        (_ROB_ALL, "bot", "https://e.com/", False),
        (_ROB_ALL, "bot", "https://e.com/any", False),
        # no robots.txt (404) → ALLOW_ALL
        (None, "bot", "https://e.com/anything", True),
        # empty file → ALLOW_ALL
        ("", "bot", "https://e.com/anything", True),
        # rules for a different UA only → ALLOW_ALL for us
        ("User-agent: OtherBot\nDisallow: /\n", "bot", "https://e.com/x", True),
    ]
    return [
        {
            "case_id": i,
            "robots_txt": txt,
            "user_agent": ua,
            "url": url,
            "exp_allowed": exp,
        }
        for i, (txt, ua, url, exp) in enumerate(cases)
    ]


def robots_oracle_sql() -> str:
    expected = [
        {"case_id": r["case_id"], "allowed": r["exp_allowed"]}
        for r in generate_robots_fixture()
    ]
    p = _export("rob", gw_robots=expected)["gw_robots"]
    return f"SELECT case_id, allowed FROM read_parquet('{p}')"


# ---------------------------------------------------------------------------
# Graph gate fixtures.  Connected components: a planted mix of chains,
# rings, stars, cliques and singleton pairs; the DuckDB oracle derives
# components INDEPENDENTLY as min-reachable-id over a recursive
# transitive closure of the exported edges.  PageRank: a hub/leaf/sink
# construction whose rank ORDER is strict by design (hub_i fed by i
# identical leaves; all hubs feed one sink), so the planted order is
# ground truth the 10-iteration power method must reproduce.
# ---------------------------------------------------------------------------


def generate_cc_fixture():
    """Returns edge rows (id_a, id_b) — components planted by shape."""
    edges = []
    base = 0

    def chain(n):
        nonlocal base
        for i in range(n - 1):
            edges.append({"id_a": base + i, "id_b": base + i + 1})
        base += n

    def ring(n):
        nonlocal base
        start = base
        chain(n)
        edges.append({"id_a": start, "id_b": start + n - 1})

    def star(n):
        nonlocal base
        for i in range(1, n):
            edges.append({"id_a": base, "id_b": base + i})
        base += n

    def clique(n):
        nonlocal base
        for i in range(n):
            for j in range(i + 1, n):
                edges.append({"id_a": base + i, "id_b": base + j})
        base += n

    for n in (2, 5, 17, 30):
        chain(n)
    for n in (3, 8, 21):
        ring(n)
    for n in (4, 12, 25):
        star(n)
    for n in (3, 6, 9):
        clique(n)
    # a couple of merged shapes: a chain welded to a star (one component)
    weld_start = base
    chain(10)
    star(7)
    edges.append({"id_a": weld_start, "id_b": weld_start + 10})
    return edges


def cc_oracle_sql() -> str:
    """Independent derivation: component(id) = MIN(reachable id) via a
    recursive transitive closure — no label propagation, no engine code."""
    expected = generate_cc_fixture()
    p = _export("cc", gw_cc_edges=expected)["gw_cc_edges"]
    return f"""
        WITH RECURSIVE
        e AS (
            SELECT id_a AS a, id_b AS b FROM read_parquet('{p}')
            UNION
            SELECT id_b, id_a FROM read_parquet('{p}')),
        nodes AS (SELECT DISTINCT a AS id FROM e),
        reach (id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
        SELECT id, MIN(r) AS component FROM reach GROUP BY id
    """


PR_N_HUBS = 10


def generate_pagerank_fixture():
    """Returns (edge_rows, expected_rows).

    Node ids: sink=0, hubs 1..PR_N_HUBS, leaves from 1000 up.  hub_i is
    fed by i dedicated leaves (identical rank by symmetry), every hub
    links to the sink, the sink dangles (uniform redistribution) — so
    rank(sink) > rank(hub_N) > … > rank(hub_1) > every leaf at every
    power iteration ≥ 1, strictly.  expected_rows is the planted
    (node, pos) order over sink+hubs."""
    edges = []
    leaf = 1000
    for hub in range(1, PR_N_HUBS + 1):
        for _ in range(hub):
            edges.append({"src": leaf, "dst": hub})
            leaf += 1
        edges.append({"src": hub, "dst": 0})
    expected = [{"node": 0, "pos": 1}]
    expected += [
        {"node": hub, "pos": 1 + (PR_N_HUBS + 1 - hub)}
        for hub in range(1, PR_N_HUBS + 1)
    ]
    return edges, expected


def pagerank_oracle_sql() -> str:
    _, expected = generate_pagerank_fixture()
    p = _export("pr", gw_pr_order=expected)["gw_pr_order"]
    return f"SELECT node, pos FROM read_parquet('{p}')"


# ---------------------------------------------------------------------------
# Crawl-metrics gate fixture (CrawlMeta / DomainStateDb counters — SURVEY
# §2.5/§2.11): every per-domain counter the engine reports is PLANTED by
# construction, one domain per metric arm, so the oracle is a scan of
# declared truth while the engine must earn the numbers through the real
# probe / robots / fetch / error-budget machinery.
#
# Counter semantics being pinned (ref: CrawlerRetreiver + DomainStateDb):
#   visited_cnt        — distinct URLs add_visited'd (root + every admitted
#                        take, INCLUDING 404s; refused-by-robots never count)
#   good_status_count  — stored crawl_data rows with HTTP 200/206
#   crawl_changes      — crawler_additions: 200/206 fetches in the BFS loop
#                        (the sniffed root is recorded but not counted)
#   error_count        — probe http_errors + terminal 429/-1 (404 is NOT an
#                        error); phase — done/blocked/redirect/error
# ---------------------------------------------------------------------------


def generate_crawl_meta_fixture():
    """Returns (pages_rows, domains_rows, expected_rows)."""
    pages_rows: list[dict] = []
    domains_rows: list[dict] = []
    expected_rows: list[dict] = []

    def dom(name, robots=None, probe="ok", depth=10_000):
        domains_rows.append(
            {
                "domain": name, "top_domain": "example.org", "proto": "https",
                "probe": probe, "robots_txt": robots, "site_kind": "default",
                "crawl_depth": depth, "seed_urls": [], "sitemap_urls": [],
                "generator_meta": "", "has_lemmy_config": False,
            }
        )

    def page(name, path, status=200, links=(), redirect_to=None,
             t_status=0, t_count=0):
        pages_rows.append(
            {
                "domain": name, "path": path, "param": None,
                "url": f"https://{name}{path}", "status": status,
                "redirect_to": redirect_to, "content_type": "text/html",
                "image_id": None, "base_href": None, "links": list(links),
                "feed_links": [], "body_marker": None, "etag": None,
                "last_modified": None, "body_text": None,
                "transient_status": t_status, "transient_count": t_count,
                "retry_after": None,
            }
        )

    def expect(name, phase, visited, good, changes, errors):
        expected_rows.append(
            {
                "domain": name, "phase": phase,
                "visited_cnt": visited, "good_status_count": good,
                "crawl_changes": changes, "error_count": errors,
            }
        )

    # m0: clean 200 tree — every counter at its happy-path value
    n = "m0.example.org"
    dom(n)
    page(n, "/", links=[f"/p{k}.html" for k in range(1, 6)])
    for k in range(1, 6):
        page(n, f"/p{k}.html")
    expect(n, "done", visited=6, good=6, changes=5, errors=0)

    # m1: 404 links are VISITED but neither good nor errors
    n = "m1.example.org"
    dom(n)
    page(n, "/", links=["/p1.html", "/x1.html", "/x2.html", "/x3.html"])
    page(n, "/p1.html")
    expect(n, "done", visited=5, good=2, changes=1, errors=0)

    # m2: robots full block — probed ok, then refused at the root
    n = "m2.example.org"
    dom(n, robots="User-agent: *\nDisallow: /\n")
    page(n, "/")
    expect(n, "blocked", visited=0, good=0, changes=0, errors=0)

    # m3: probe error (no root at either proto -> HEAD 404, GET-retry 404)
    n = "m3.example.org"
    dom(n, probe="error")
    expect(n, "error", visited=0, good=0, changes=0, errors=0)

    # m4: probe cross-domain redirect
    n = "m4.example.org"
    dom(n, probe="redirect:www.elsewhere.example.com")
    page(n, "/", status=301, redirect_to="https://www.elsewhere.example.com/")
    expect(n, "redirect", visited=0, good=0, changes=0, errors=0)

    # m5: terminal 429 (transient prefix outlasts the retry budget) —
    # visited, not good, consumes exactly one error
    n = "m5.example.org"
    dom(n)
    page(n, "/", links=["/p1.html", "/throttled.html"])
    page(n, "/p1.html")
    page(n, "/throttled.html", t_status=429, t_count=99)
    expect(n, "done", visited=3, good=2, changes=1, errors=1)

    # m6: crawl_depth stops the BFS at exactly `depth` visited URLs
    n = "m6.example.org"
    dom(n, depth=5)
    page(n, "/", links=[f"/p{k}.html" for k in range(1, 10)])
    for k in range(1, 10):
        page(n, f"/p{k}.html")
    expect(n, "done", visited=5, good=5, changes=4, errors=0)

    return pages_rows, domains_rows, expected_rows


def crawl_meta_oracle_sql() -> str:
    _, _, expected = generate_crawl_meta_fixture()
    p = _export("gatemeta", gm_expected=expected)["gm_expected"]
    return f"""
        SELECT domain, phase,
               CAST(visited_cnt AS BIGINT) AS visited_cnt,
               CAST(good_status_count AS BIGINT) AS good_status_count,
               CAST(crawl_changes AS BIGINT) AS crawl_changes,
               CAST(error_count AS BIGINT) AS error_count
        FROM read_parquet('{p}')
    """


# ---------------------------------------------------------------------------
# Body-cap gate fixture (32 MB per-request budget, WarcRecorder.java:41-45):
# the stored lsh64 fingerprint must be computed over the CLIPPED body.  The
# fixture plants bodies around a small test cap (the cap is the session
# parameter whose default is the reference's 32 MB constant): bodies that
# are identical up to the cap but differ beyond it MUST fingerprint equal;
# a body that differs inside the cap must not.  Truth = equality classes by
# construction — no hash values appear in the export.
# ---------------------------------------------------------------------------

BODYCAP_TEST_CAP = 65536


def generate_bodycap_fixture():
    """Returns (pages_rows, domains_rows, expected_rows) with expected
    (url, group_rep) equality classes."""
    name = "bc0.example.org"
    base = ("granite harbor lantern meadow orchard pennant quarry " * 400)
    x = (base * 5)[: BODYCAP_TEST_CAP + 4321]  # exceeds the cap
    assert len(x) > BODYCAP_TEST_CAP
    clipped = x[:BODYCAP_TEST_CAP]

    bodies = {
        "/a.html": x,                                        # clipped at cap
        "/b.html": clipped,                                  # exactly the cap
        "/c.html": clipped + ("ZZTAIL-DIVERGED " * 500),     # differs beyond cap
        "/d.html": ("velvet wharf yarrow zenith " * 4000)[: BODYCAP_TEST_CAP],
    }
    groups = {
        "/a.html": "/a.html",
        "/b.html": "/a.html",
        "/c.html": "/a.html",
        "/d.html": "/d.html",
    }

    domains_rows = [{
        "domain": name, "top_domain": "example.org", "proto": "https",
        "probe": "ok", "robots_txt": None, "site_kind": "default",
        "crawl_depth": 10_000, "seed_urls": [], "sitemap_urls": [],
        "generator_meta": "", "has_lemmy_config": False,
    }]
    pages_rows = [{
        "domain": name, "path": "/", "param": None,
        "url": f"https://{name}/", "status": 200, "redirect_to": None,
        "content_type": "text/html", "image_id": None, "base_href": None,
        "links": sorted(bodies), "feed_links": [], "body_marker": None,
        "etag": None, "last_modified": None, "body_text": None,
        "transient_status": 0, "transient_count": 0, "retry_after": None,
    }]
    expected_rows = []
    for path, body in bodies.items():
        pages_rows.append({
            "domain": name, "path": path, "param": None,
            "url": f"https://{name}{path}", "status": 200,
            "redirect_to": None, "content_type": "text/html",
            "image_id": None, "base_href": None, "links": [],
            "feed_links": [], "body_marker": None, "etag": None,
            "last_modified": None, "body_text": body,
            "transient_status": 0, "transient_count": 0, "retry_after": None,
        })
        expected_rows.append({
            "url": f"https://{name}{path}",
            "group_rep": f"https://{name}{groups[path]}",
        })
    return pages_rows, domains_rows, expected_rows


def bodycap_oracle_sql() -> str:
    _, _, expected = generate_bodycap_fixture()
    p = _export("gatebodycap", bc_expected=expected)["bc_expected"]
    return f"SELECT url, group_rep FROM read_parquet('{p}')"


# ---------------------------------------------------------------------------
# Live-crawl streaming gate fixture (SimpleLinkScraper analogue — SURVEY
# §2.12): feed items over multiple micro-batches through the REAL
# Structured Streaming pipeline (stream-static anti-join vs the seen-set,
# blocklist filter, watermarked 5-minute tumbling rollup in append mode).
# Every admission decision is planted: `seen` rows are also placed in the
# static seen-set, `blocked` rows carry a .git/ path, and the `sentinel`
# rows exist only to push the final watermark past every real window so
# append mode emits them all.  Late data rides the watermark contract
# Spark actually documents — the watermark PERMITS dropping but does not
# mandate it: a row older than the current watermark whose window was
# never previously finalized still lands in state and its window emits
# EXACTLY ONCE when the watermark passes (`late_behind_watermark` row);
# with the fixture's pinned micro-batch order the emission set is fully
# deterministic, which is what the oracle declares.
# ---------------------------------------------------------------------------


def generate_stream_fixture():
    """Returns rows: (file_no, ts_iso, domain, url, seen, blocked,
    late_behind_watermark, sentinel)."""
    rows: list[dict] = []

    def add(file_no, hh, mm, dom_i, slug, seen=False, blocked=False,
            late=False, sentinel=False):
        domain = f"s{dom_i}.example.com"
        path = f"/repo/.git/{slug}" if blocked else f"/{slug}.html"
        rows.append({
            "file_no": file_no,
            "ts_iso": f"2026-03-01T{hh:02d}:{mm:02d}:00",
            "feed_domain": domain,
            "url": f"https://{domain}{path}",
            "seen": seen, "blocked": blocked,
            "late_behind_watermark": late, "sentinel": sentinel,
        })

    # file 0: in-order rows 10:00-10:58, three domains, some seen/blocked
    k = 0
    for mm in range(0, 59, 4):
        add(0, 10, mm, dom_i=k % 2, slug=f"f0r{k}")
        k += 1
    add(0, 10, 7, 0, "dup-seen-a", seen=True)
    add(0, 10, 23, 1, "dup-seen-b", seen=True)
    add(0, 10, 31, 0, "gitconfig", blocked=True)

    # file 1: 11:00-11:20 plus one row far behind the in-effect watermark
    # (08:12 vs watermark 10:46 after file 0) — its window [08:10, 08:15)
    # was never finalized, so it lands in state and emits exactly once —
    # and one mildly-late row (10:52 -> window [10:50, 10:55) still open)
    for j, mm in enumerate(range(0, 21, 5)):
        add(1, 11, mm, dom_i=j % 2, slug=f"f1r{j}")
    add(1, 8, 12, 0, "late-behind-watermark", late=True)
    add(1, 10, 52, 1, "late-but-kept")

    # file 2: sentinel far in the future — finalizes every real window;
    # its own window is never emitted (excluded from the oracle)
    add(2, 23, 0, 0, "sentinel", sentinel=True)
    return rows


def stream_oracle_sql() -> str:
    import pandas as pd

    # the ts parse is a pandas step, so the parquet column is a real
    # timestamp for time_bucket
    expected = [
        {**r, "ts": pd.Timestamp(r["ts_iso"])} for r in generate_stream_fixture()
    ]
    p = _export("gatestream", stream_expected=expected)["stream_expected"]
    return f"""
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
               feed_domain AS domain,
               COUNT(*) AS n_new_urls
        FROM read_parquet('{p}')
        WHERE NOT seen AND NOT blocked AND NOT sentinel
        GROUP BY 1, 2
    """
