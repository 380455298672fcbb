"""One definition per crawl input record: ``Page`` is a row of the pages
table and ``DomainInfo`` a row of the domains table without
``top_domain``, and ``from_row`` is the one row decoder the wave UDF, the
HTTP fixture glue and the tests share."""

from dataclasses import fields

from marginaliasearch_spark.oracle import session
from marginaliasearch_spark.sources.synthetic_web import (
    HTML,
    DomainInfo,
    Page,
    from_row,
    pages_by_key,
    spark_schemas,
)


def test_records_match_the_table_schemas():
    pages, domains = spark_schemas()
    assert sorted(f.name for f in fields(Page)) == sorted(pages.names)
    assert sorted([f.name for f in fields(DomainInfo)] + ["top_domain"]) == sorted(
        domains.names
    )
    assert session.DomainInfo is DomainInfo


def test_null_page_fields_take_their_defaults():
    row = {name: None for name in spark_schemas()[0].names}
    row.update(domain="d.example.org", path="/", url="https://d.example.org/", status=200)
    (key, page), = pages_by_key([row]).items()
    assert key == ("d.example.org", "/", None)
    assert page.content_type == HTML
    assert page.links == [] and page.feed_links == []
    assert (page.transient_status, page.transient_count, page.head_status) == (0, 0, 0)
    assert page.param is None and page.etag is None


def test_domain_facts_decode():
    """The wave's decode of info_json: a spec domain with no web row (only
    the spec side's keys) probes as an error; a missing depth reads 1000."""
    info = from_row(DomainInfo, {"seed_urls": ["https://d.example.org/a"]},
                    domain="d.example.org", probe="error")
    assert info == DomainInfo(
        domain="d.example.org", probe="error", seed_urls=["https://d.example.org/a"]
    )
    assert info.crawl_depth == 1000 and info.proto == "https"
    # a row that carries the fact keeps it
    row = {"domain": "d.example.org", "top_domain": "example.org", "probe": "ok",
           "crawl_depth": 25, "robots_txt": None}
    assert from_row(DomainInfo, row, probe="error") == DomainInfo(
        domain="d.example.org", crawl_depth=25
    )
