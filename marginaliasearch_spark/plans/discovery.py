"""Cross-domain discovery loop — edges → global URL-seen → next-cycle atags.

The reference seeds each crawl cycle with "anchor tags": external links
pointing at a domain, harvested from other domains' crawls
(CrawlerMain.java:675; CrawlerRetreiver.java:195-196).  This plan closes
that loop at cluster scale:

1. the wave engine already materializes every extracted link as an
   ``edges`` row (src_url, dst_url), INCLUDING cross-domain targets the
   per-domain frontier drops;
2. cross-domain targets are canonicalized through the real kernel
   (vectorized Arrow UDF → bit-exact url_hash);
3. the global URL-seen service (plans/frontier_dedup.py — partitioned
   incremental cuckoo filters) admits only never-seen URLs, so a URL
   discovered by thousands of referrers is fetched once, ever;
4. the admitted URLs group per target domain into the ``atags_df``
   input of the next cycle's ``run_waves`` (with first-seen ordering).

At 10^10 scale each step is shuffle-bounded by the NEW edges of one
cycle, never the historical corpus: the edges scan is cycle-local, the
filter probe is candidate-bound, and the atags regrouping shuffles only
admitted URLs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import canonicalize
from .frontier_dedup import FrontierDedup


def discovered_cross_domain(edges: DataFrame) -> DataFrame:
    """Canonicalized cross-domain link targets from an edges table:
    (domain, url, url_hash, n_referrers) — domain is the TARGET domain.

    The engine's edges view already carries the crawling (source) domain
    as its ``domain`` column, so only the DST side goes through the
    canonicalize UDF — no second Arrow/Python pass over src URLs."""
    c = canonicalize(F.col("dst"))
    src_domain = (
        F.col("domain") if "domain" in edges.columns else canonicalize(F.col("src"))["domain"]
    )
    out = edges.select(
        src_domain.alias("src_domain"),
        c["domain"].alias("domain"),
        c["url_canon"].alias("url"),
        c["url_hash"].alias("url_hash"),
    )
    return (
        out.filter(
            F.col("domain").isNotNull()
            & F.col("src_domain").isNotNull()
            & (F.col("domain") != F.col("src_domain"))
        )
        .groupBy("domain", "url", "url_hash")
        .agg(F.count("*").alias("n_referrers"))
    )


def next_cycle_atags(
    edges: DataFrame, dedup: FrontierDedup, max_per_domain: int = 1000
) -> DataFrame:
    """Admit the cycle's cross-domain discoveries through the global
    URL-seen service and shape them as the next cycle's ``atags_df``
    (domain, pos, url).  ``max_per_domain`` caps pathological targets
    (link-farm magnets) — the per-domain frontier has its own cap, this
    one just bounds the shuffle."""
    from pyspark.sql import Window

    cand = discovered_cross_domain(edges)
    admitted = dedup.ingest(cand)
    w = Window.partitionBy("domain").orderBy(F.desc("n_referrers"), "url")
    return (
        admitted.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= max_per_domain)
        .select("domain", F.col("pos").cast("long").alias("pos"), "url")
    )
