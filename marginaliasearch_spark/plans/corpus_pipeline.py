"""Crawl → training-data bridge: crawl outputs become an enriched corpus.

The engine's two halves composed end-to-end: the wave crawler produces
``crawl_data`` (what was fetched and kept) and the synthetic web carries
the bodies; this plan turns them into the document table a training-data
pipeline consumes — language-ID'd, quality-scored, token-counted,
fingerprinted and exact-dup-flagged, in pure Column expressions plus the
one numpy fingerprint UDF.

Scale shape: one join of the cycle's crawl_data against the page store
(both hash-partitioned on domain/url), then a single projection pass —
no extra shuffles beyond the dedup groupBy on the content hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import exact_dedup
from ..operators.textstats import doc_fingerprint, lang_id, quality_score, token_counts


def corpus_from_crawl(crawl_data: DataFrame, pages: DataFrame) -> DataFrame:
    """(url, domain, text) for every stored 200 text/html document with a
    body.  ``pages`` is the body store (in production the WARC/Slop
    table; here the synthetic web table)."""
    kept = (
        crawl_data.filter(
            (F.col("http_status") == 200) & (F.col("content_type") == "text/html")
        )
        .select("domain", "url")
        .dropDuplicates(["url"])  # recrawl cycles re-record unchanged docs
    )
    bodies = pages.filter(F.col("body_text").isNotNull()).select(
        "url", F.col("body_text").alias("text")
    )
    return kept.join(bodies, "url").select("url", "domain", "text")


def link_edges_from_html(
    docs: DataFrame,
    url_col: str = "url",
    html_col: str = "body_html",
) -> DataFrame:
    """The body-bytes path of the crawl→corpus bridge: stored HTML bodies
    → (src, dst) candidate link edges through the real extraction kernel
    (functions/htmllinks.py — the reference's enqueueLinksFromDocument
    selector set + LinkParser resolution, differentially pinned against
    the compiled reference).  One narrow Arrow-batched projection +
    explode; bodies never leave their executor, no shuffle until the
    caller joins/dedups the edge list."""
    from ..functions.htmllinks import with_html_links

    linked = with_html_links(docs, html_col=html_col, url_col=url_col)
    return linked.select(
        F.col(url_col).alias("src"), F.explode("links").alias("dst")
    )


def enrich_corpus(docs: DataFrame) -> DataFrame:
    """One enrichment pass: language, quality features, token counts,
    winnowing fingerprint, exact-dup keeper flag."""
    out = lang_id(docs)
    out = quality_score(out)
    out = token_counts(out)
    out = doc_fingerprint(out)
    # exact-dup flag: keeper = lowest url (string order) per content hash
    keepers = (
        docs.withColumn("content_hash", F.md5(F.col("text")))
        .groupBy("content_hash")
        .agg(F.min("url").alias("keeper_url"), F.count("*").alias("dup_count"))
    )
    out = out.withColumn("content_hash", F.md5(F.col("text"))).join(
        keepers, "content_hash"
    )
    return out.withColumn(
        "is_dup_copy", (F.col("url") != F.col("keeper_url")).cast("int")
    ).drop("keeper_url")


def compose_training_set(
    enriched: DataFrame,
    near_dup_threshold: float = 0.5,
    max_per_lang: int = 0,
    id_col: str = "url",
    method: str = "minhash_lsh",
    quality_col: str = "quality_score",
    max_shingle_df: int = 0,
) -> DataFrame:
    """The full composition pass a training-data pipeline runs after
    enrichment: drop exact-dup copies, group NEAR-dups (→ connected
    components) and keep the best-quality member of each group, then
    optionally cap every language at ``max_per_lang`` rows by
    deterministic hash rank (operators/sampling.py).

    Near-dup grouping methods:

    - ``"minhash_lsh"`` (default, THE scale path): banded MinHash-LSH
      over char-5-gram signatures (operators/dedup.py::minhash_lsh_pairs)
      — degenerate buckets are capped, so a boilerplate shingle shared by
      10^6 docs cannot blow up the candidate join; ``near_dup_threshold``
      is the estimated-Jaccard cutoff.
    - ``"ngram_exact"`` (opt-in verifier): exact word-3-gram Jaccard.
      Unbounded shingle document frequency makes the self-join quadratic
      in the hottest shingle — only safe on small/verified corpora, or
      with ``max_shingle_df`` set to cap boilerplate shingles.

    Scale shape: the LSH grouping shuffles only band-hash buckets of the
    deduped survivors; keep-best and the cap are one window each on small
    keys.  All thresholds and ranks are deterministic — the same corpus
    composes to the same training set on any cluster.  The stable integer
    id is xxhash64(id_col) when the id column is a string (at 10^10 rows
    the 64-bit birthday bound expects ~3 silent collisions corpus-wide —
    acceptable for training composition); an integral id column is used
    directly, collision-free."""
    from ..operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from ..operators.graph import connected_components
    from ..operators.sampling import balanced_sample, dedup_keep_best

    base = enriched.filter(F.col("is_dup_copy") == 0)
    # stable integer id for grouping/sampling; integral ids pass through
    integral = dict(base.dtypes).get(id_col) in ("tinyint", "smallint", "int", "bigint")
    with_id = base.withColumn(
        "_id", F.col(id_col).cast("long") if integral else F.xxhash64(F.col(id_col))
    )
    sub = with_id.select(F.col("_id").alias("doc_id"), "text")
    if method == "minhash_lsh":
        pairs = minhash_lsh_pairs(sub, jaccard_threshold=near_dup_threshold)
    elif method == "ngram_exact":
        pairs = ngram_jaccard_pairs(
            sub, threshold=near_dup_threshold, max_shingle_df=max_shingle_df
        )
    else:
        raise ValueError(f"unknown near-dup method {method!r}")
    groups = connected_components(pairs)
    kept = dedup_keep_best(
        with_id, groups, quality_col=quality_col, id_col="_id"
    )
    if max_per_lang > 0:
        kept = balanced_sample(
            kept, max_per_lang, stratum_col="lang_pred", id_col="_id"
        )
    return kept.drop("_id")


__all__ = [
    "compose_training_set",
    "corpus_from_crawl",
    "enrich_corpus",
    "exact_dedup",
    "link_edges_from_html",
]
