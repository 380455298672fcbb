"""Retroactive robots audit over a stored corpus.

A crawl stores documents under the robots rules in force at fetch time;
rules change.  This operator re-evaluates a corpus of (domain, url) rows
against CURRENT robots.txt texts and flags rows that are no longer
fetchable — the corpus-maintenance pass a production pipeline runs
before recrawl scheduling and for takedown compliance.  The reference
applies exactly this check per document on every revisit
(CrawlerRevisitor: previously-stored URLs are re-gated through
``robotsRules.isAllowed`` and refused when the rules changed —
cp/java/.../retreival/revisit/CrawlerRevisitor.java:103-111); at corpus
scale the same gate runs as one batch pass.

Plan shape (100 TB lens): robots texts are a per-domain DIMENSION — far
smaller than the corpus — but "one small row per domain" is ~100 GB at
10^8 domains, past any executor's broadcast budget.  The join therefore
picks its mode by the dimension's size: below ``broadcast_threshold``
domains it broadcast-joins (zero shuffle of the big side); above it, the
corpus repartitions by domain and shuffle-hash joins (the corpus side
shuffles ONCE on its natural key — the same key downstream recrawl
scheduling partitions by).  Either way ``is_allowed`` evaluates in an
iterator Arrow UDF that parses each distinct robots text ONCE per task
(one LRU over the text, kept across the task's batches), never per row.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_USER_AGENT = "search.marginalia.nu"


def robots_audit(
    corpus: DataFrame,
    robots: DataFrame,
    user_agent: str = DEFAULT_USER_AGENT,
    url_col: str = "url",
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
    join_mode: str = "auto",
    broadcast_threshold: int = 100_000,
) -> DataFrame:
    """corpus (…, domain, url) ⋈ robots (domain, robots_txt) → corpus
    columns + ``allowed`` boolean.  A domain with no robots row (or a
    NULL text, i.e. a 404 robots.txt) allows everything — RFC 9309's
    ALLOW_ALL default, same as the crawl path.

    ``join_mode``: ``"broadcast"`` ships the dimension to every executor
    (right only for small robots sets); ``"shuffle"`` repartitions the
    corpus by domain and shuffle-hash joins (the 10^8-domain-safe mode —
    the big side shuffles once on its natural key, the dimension never
    has to fit in one executor); ``"auto"`` (default) counts the
    dimension — a one-row planning aggregate — and broadcasts only when
    it holds at most ``broadcast_threshold`` domains (~hundreds of MB of
    robots text; beyond that a broadcast OOMs the executors).  The auto
    count is an extra Spark job PER CALL — callers invoking this in a
    loop (or who already know the dimension's size) should pass an
    explicit mode."""

    @F.arrow_udf(T.BooleanType())
    def allowed(batches: Iterator[Tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        from functools import lru_cache

        from ..functions.robots import parse_robots_txt

        @lru_cache(maxsize=4096)
        def rules_for(txt):
            return parse_robots_txt(txt, user_agent)

        for urls, robots_txt in batches:
            yield pa.array(
                [
                    rules_for(txt).is_allowed(u)
                    for u, txt in zip(urls.to_pylist(), robots_txt.to_pylist())
                ],
                pa.bool_(),
            )

    dim = robots.select(domain_col, robots_col)
    if join_mode == "auto":
        join_mode = "broadcast" if dim.count() <= broadcast_threshold else "shuffle"
    if join_mode == "broadcast":
        joined = corpus.join(F.broadcast(dim), domain_col, "left")
    elif join_mode == "shuffle":
        joined = corpus.repartition(F.col(domain_col)).join(
            dim.hint("shuffle_hash"), domain_col, "left"
        )
    else:
        raise ValueError(f"unknown join_mode {join_mode!r}")
    return joined.withColumn(
        "allowed", allowed(F.col(url_col), F.col(robots_col))
    ).drop(robots_col)


def newly_refused(
    corpus: DataFrame,
    robots: DataFrame,
    user_agent: str = DEFAULT_USER_AGENT,
) -> DataFrame:
    """The takedown view: stored rows the CURRENT rules refuse."""
    return robots_audit(corpus, robots, user_agent).filter(~F.col("allowed"))
