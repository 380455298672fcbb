"""The crawl engine refuses what it does not serve or cannot use:
``read_table`` names only its views, and a prev-crawl table must carry
every PREV_CRAWL_SCHEMA column (a filled-in null validator would
silently turn off conditional GETs or the LSH retention arm)."""

import pytest

from marginaliasearch_spark.plans.crawl import READ_TABLES, SparkCrawlEngine
from marginaliasearch_spark.sources.synthetic_web import (
    generate_web,
    spark_schemas,
    web_to_frames,
)

SEED = 42


def test_read_table_rejects_a_misspelled_name(spark, tmp_path):
    eng = SparkCrawlEngine(spark, str(tmp_path / "run"), seed=SEED, n_buckets=4)
    assert eng.read_table("visits") is None  # a view with no rows yet
    with pytest.raises(ValueError, match="'visit'") as err:
        eng.read_table("visit")
    assert all(t in str(err.value) for t in READ_TABLES)


def test_prev_crawl_without_lsh64_raises(spark, tmp_path):
    web, _ = generate_web(seed=SEED, n_domains=3, mean_pages=4)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    eng = SparkCrawlEngine(spark, str(tmp_path / "run"), seed=SEED, n_buckets=4)
    eng.init_run(domains, domains.select("domain", "crawl_depth", "seed_urls"))
    prev = spark.createDataFrame(
        [(domains_pdf.domain[0], 0, pages_pdf.url[0], 200, "img-1", None, None)],
        "domain string, pos long, url string, http_status int, image_id string,"
        " etag string, last_modified string",
    )
    with pytest.raises(ValueError, match="lsh64"):
        eng.run_waves(pages, prev_crawl_df=prev)
    assert eng.catalog.latest_snapshot() == 0  # no wave ran
