"""In-client retry ladder (HttpFetcherImpl.java:657-706): interval
arithmetic, attempt caps, and the virtual-clock audit trail."""

import pandas as pd
import pyarrow as pa

from marginaliasearch_spark.oracle.session import DomainCrawlSession, DomainInfo
from marginaliasearch_spark.sources.gate_web import _RETRY_CASES, generate_retry_fixture
from marginaliasearch_spark.sources.synthetic_web import (
    SyntheticWeb,
    fetch_time_ms,
    normalize_pages_pdf,
    pages_by_key,
)


def _session_for_domain(i: int = 0) -> DomainCrawlSession:
    pages_rows, domains_rows, _ = generate_retry_fixture()
    d = domains_rows[i]
    pdf = normalize_pages_pdf(pd.DataFrame(pages_rows))
    pages = pa.Table.from_pandas(pdf[pdf.domain == d["domain"]], preserve_index=False)
    info = DomainInfo(
        domain=d["domain"], proto=d["proto"], probe=d["probe"],
        robots_txt=d["robots_txt"], site_kind=d["site_kind"],
        crawl_depth=d["crawl_depth"], seed_urls=d["seed_urls"],
    )
    web = SyntheticWeb({d["domain"]: info}, pages_by_key(pages.to_pylist()))
    return DomainCrawlSession(info, web)


def test_retry_interval_arithmetic():
    """getRetryInterval parity: 503 → 5 s; 429 → Retry-After clamped
    [1, 10] s when positive, else 2 s; 500 → 2 s
    (HttpFetcherImpl.java:682-706)."""
    s = _session_for_domain()
    assert s._retry_interval_ms(503, None) == 5000
    assert s._retry_interval_ms(503, "99") == 5000  # 503 ignores the header
    assert s._retry_interval_ms(500, None) == 2000
    assert s._retry_interval_ms(429, None) == 2000
    assert s._retry_interval_ms(429, "3") == 3000
    assert s._retry_interval_ms(429, "0") == 2000  # non-positive → default
    assert s._retry_interval_ms(429, "120") == 10000  # clamp high
    assert s._retry_interval_ms(429, "0.4") == 2000  # rounds to 0 → default
    assert s._retry_interval_ms(429, "soon(tm)") == 2000  # unparseable
    # RFC-1123 date 10 s past the pinned virtual epoch
    assert s._retry_interval_ms(429, "Mon, 01 Jan 2024 00:00:10 GMT") == 10000
    # past date clamps to 0 → default
    assert s._retry_interval_ms(429, "Fri, 01 Jan 2021 00:00:00 GMT") == 2000


def test_ladder_outcomes_and_counts():
    """The planted truth table (outcome + retry count) is rediscovered by
    the sequential session — same code the Spark wave runs."""
    s = _session_for_domain()
    s.setup()
    s.run()
    log = s.new_fetch_log
    by_url_final = {
        r["url"]: r["status"] for r in log if r["action"] == "FETCH"
    }
    retries: dict[str, int] = {}
    for r in log:
        if r["action"] == "FETCH_RETRY":
            retries[r["url"]] = retries.get(r["url"], 0) + 1
    name = s.info.domain
    for path, base, t_status, t_count, ra, outcome, n_retries in _RETRY_CASES:
        url = f"https://{name}{path}"
        final = by_url_final[url]
        if outcome == "fetched":
            assert final == 200, url
        elif outcome == "rate_limited":
            assert final == 429, url
        else:
            assert final in (500, 503), url
        assert retries.get(url, 0) == n_retries, url
    # obstinate 429s land in the error budget (two per fixture domain)
    assert s.error_count == 2


def test_ladder_clock_arithmetic():
    """Each retry waits exactly the Retry-After-derived interval plus the
    next attempt's fetch time on the virtual clock."""
    s = _session_for_domain()
    s.setup()
    s.run()
    log = s.new_fetch_log
    name = s.info.domain

    def events(url):
        return [(r["action"], r["virtual_ms"]) for r in log if r["url"] == url]

    # Retry-After "3": FETCH logs 3000 ms (wait) + fetch time after the retry
    url = f"https://{name}/r/t429-ra3.html"
    ev = events(url)
    assert [a for a, _ in ev] == ["FETCH_RETRY", "FETCH"]
    assert ev[1][1] - ev[0][1] == 3000 + fetch_time_ms(url)

    # Retry-After "120" clamps to 10 s; two retries
    url = f"https://{name}/r/t429-clamp.html"
    ev = events(url)
    assert [a for a, _ in ev] == ["FETCH_RETRY", "FETCH_RETRY", "FETCH"]
    assert ev[1][1] - ev[0][1] == 10000 + fetch_time_ms(url)
    assert ev[2][1] - ev[1][1] == 10000 + fetch_time_ms(url)

    # 503 waits 5 s per retry
    url = f"https://{name}/r/t503.html"
    ev = events(url)
    assert [a for a, _ in ev] == ["FETCH_RETRY", "FETCH_RETRY", "FETCH"]
    assert ev[1][1] - ev[0][1] == 5000 + fetch_time_ms(url)


def test_retry_after_matches_compiled_reference():
    """parseRetryAfterSeconds parity: 59 golden vectors generated by
    COMPILING the reference's method (HttpFetcherImpl.java:710-728) with
    a pinned 'now' — covers Double.parseDouble quirks (suffixes, hex
    floats, NaN→0, Infinity→-1 via int truncation, no underscores) and
    RFC_1123_DATE_TIME smart resolution (Feb-29 clamping, day-of-week
    cross-check, case-insensitivity, ±HHMM bounds)."""
    from datetime import datetime, timezone

    from marginaliasearch_spark.functions.retry_after import (
        parse_retry_after_seconds,
    )

    now = datetime(2024, 1, 1, tzinfo=timezone.utc)
    n = 0
    for line in open("tests/golden/retry_after.tsv"):
        src, want = line.rstrip("\n").split("\t")
        assert parse_retry_after_seconds(src, now=now) == int(want), src
        n += 1
    assert n >= 50
