"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline — a full synthetic-web crawl
through the wave engine — at tiny scale and returns the crawl_data result.

``queries()`` exposes every SURVEY.md §2 operator family plus the
training-data pipeline operators; ``oracle_sql()`` covers ALL 61 entries
(zero rows-only since round 3).  Non-SQL-expressible semantics get
INDEPENDENT oracles instead of rows-only checks: ground-truth fixture
exports + recursive-CTE closure for the crawl set/order gates,
planted-outcome tables for recrawl retention, the retry ladder and the
content-type probe, compiled-reference golden tables for the bit-exact
URL hash, exact char-5-gram Jaccard in SQL for the minhash near-dup
pipeline (the corpus has a measured margin gap around the threshold),
from-scratch DuckDB HUGEINT recomputations of the SimHash signature
pipeline and the winnowing fingerprint (oracle/sqlgen.py), and declared
per-row invariants for payload validation.

All oracle-checked queries return only ints/strings so the value-hash
comparison is exact (money/value aggregates are fixed-point BIGINT on
both sides).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type hints resolve against module globals

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: the crawl itself
# ---------------------------------------------------------------------------


def _crawl(
    spark: SparkSession,
    pages_rows,
    domains_rows,
    *,
    wave_budget=None,
    prev_crawl_df=None,
    **engine_kw,
):
    """Crawl a fixture web (page/domain row lists or pandas frames) to
    completion through the wave engine; returns the engine for reads."""
    from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
    from marginaliasearch_spark.sources.synthetic_web import (
        normalize_pages_pdf,
        spark_schemas,
    )

    ps, dms = spark_schemas()
    pages = spark.createDataFrame(normalize_pages_pdf(pd.DataFrame(pages_rows)), schema=ps)
    domains = spark.createDataFrame(pd.DataFrame(domains_rows), schema=dms)
    out_dir = tempfile.mkdtemp(prefix="msx_crawl_")
    engine = SparkCrawlEngine(spark, out_dir, seed=42, **engine_kw)
    engine.init_run(domains, domains.select("domain", "crawl_depth", "seed_urls"))
    engine.run_waves(pages, wave_budget=wave_budget, prev_crawl_df=prev_crawl_df)
    return engine


def entry(spark: SparkSession) -> DataFrame:
    """Tiny end-to-end crawl: synthetic web → wave engine → crawl_data."""
    from marginaliasearch_spark.sources.synthetic_web import generate_web, web_to_frames

    web, _ = generate_web(seed=42, n_domains=6, mean_pages=8)
    engine = _crawl(spark, *web_to_frames(web), n_buckets=4)
    return engine.read_table("crawl_data").select(
        "domain", "url", "http_status", "content_type", "image_id"
    )


# ---------------------------------------------------------------------------
# query library
# ---------------------------------------------------------------------------

_SYNTH_URL = (
    "CONCAT('HTTPS://WWW.Site', CAST(doc_id % 7 AS STRING), '.COM/Docs/',"
    " CAST(doc_id AS STRING), '/?utm=x&id=', CAST(doc_id AS STRING), '#frag')"
)


def q_worklog_compaction(spark, sf_dir):
    """Work-log compaction: last entry per domain wins (CrawlerMain:472-489
    analogue over events)."""
    ev = _t(spark, sf_dir, "events")
    # max_by over the (ts, event_id) order key ≡ the row_number()=1 window
    # row, but aggregates map-side: no per-user sort, ~1 row/user crosses
    # the exchange instead of every event (guide §2.3)
    last = F.max_by(
        F.struct("event_id", "event_type"), F.struct("ts", "event_id")
    ).alias("m")
    return ev.groupBy("user_id").agg(last).select(
        "user_id",
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.event_type").alias("last_event_type"),
    )


def q_frontier_firstwins(spark, sf_dir):
    """addKnown first-wins dedup (DomainCrawlFrontier:125-132 analogue)."""
    ev = _t(spark, sf_dir, "events")
    # min_by over the (ts, event_id) order key ≡ the row_number()=1 window
    # row (first-wins), aggregated map-side instead of sorting every event
    return ev.groupBy("user_id", "event_type").agg(
        F.min_by("event_id", F.struct("ts", "event_id")).alias("first_event_id")
    )


def q_availability_classify(spark, sf_dir):
    """REACHABLE/FLAKEY classification with staleness + error windows
    (CrawlerMain:331-378)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.max("ts").alias("now")).collect()[0]
    now = bounds["now"]
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ping"),
        F.max(F.when(F.col("event_type") == "error", F.col("ts"))).alias("last_error"),
    )
    stale = F.lit(now) - F.expr("INTERVAL 3 DAYS")
    errwin = F.lit(now) - F.expr("INTERVAL 7 DAYS")
    state = (
        F.when(F.col("last_ping") < stale, "MISSING")
        .when(F.col("last_error").isNotNull() & (F.col("last_error") > errwin), "FLAKEY")
        .otherwise("REACHABLE")
    )
    return (
        per_user.withColumn("availability", state)
        .filter(F.col("availability") != "MISSING")
        .select("user_id", "availability")
    )


def q_priority_topk(spark, sf_dir):
    """NDP priority-queue batch: ORDER BY priority DESC LIMIT 2000
    (DomainTestingQueue:105-112)."""
    o = _t(spark, sf_dir, "orders")
    # Fixed-point cents (BIGINT) on both sides — exact cross-engine compare
    # without decimal-vs-float materialization drift.
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return (
        o.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(2000)
        .select("o_orderkey", "o_custkey", cents.alias("priority"))
    )


def q_timed_run_order(spark, sf_dir):
    """Least-recently-crawled-first spec order with name tiebreak
    (CrawlerMain:513-517; CrawlerMainTest:53-85). Rank encodes the order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    last = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("last_order"))
    joined = c.join(last, c.c_custkey == last.o_custkey, "left").select(
        "c_custkey", "last_order"
    )
    w = Window.orderBy(
        F.coalesce(F.col("last_order"), F.lit("1970-01-01").cast("timestamp")).asc(),
        F.col("c_custkey").asc(),
    )
    return joined.withColumn("crawl_rank", F.row_number().over(w)).select(
        "c_custkey", "last_order", "crawl_rank"
    )


def q_batch_run_order(spark, sf_dir):
    """Batch-run spec arrangement: sibling-heavy top-domains (>=8) first,
    then the seeded per-domain md5 draw, domain tiebreak
    (CrawlerMain.java:527-542; operators/scheduling.py::batch_run_order —
    the draw is md5('42|'||domain), computable identically in DuckDB, so
    the oracle pins the exact permutation).  Specs synthesized from
    customer: top_domain = nation bucket, so sibling counts straddle the
    >=8 grouped-first threshold at every sf."""
    c = _t(spark, sf_dir, "customer")
    specs = c.select(
        F.concat(F.lit("d"), F.col("c_custkey").cast("string"),
                 F.lit(".n"), F.col("c_nationkey").cast("string"),
                 F.lit(".example.com")).alias("domain"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string"),
                 F.lit(".example.com")).alias("top_domain"),
    )
    from marginaliasearch_spark.operators.scheduling import batch_run_order

    ordered = batch_run_order(specs, seed=42)
    # re-derive the rank with the SAME keys the operator sorts by (order
    # itself does not survive the driver's set-compare) — the pytest
    # partition-invariance check pins that the operator's physical order
    # matches this rank
    siblings = specs.groupBy("top_domain").agg(F.count("*").alias("sibling_count"))
    w = Window.orderBy(
        F.desc((F.col("sibling_count") >= 8).cast("int")),
        F.md5(F.concat(F.lit("42|"), F.col("domain"))),
        F.col("domain"),
    )
    return (
        ordered.join(F.broadcast(siblings), "top_domain")
        .withColumn("crawl_rank", F.row_number().over(w))
        .select("domain", "top_domain",
                F.col("sibling_count").cast("long").alias("sibling_count"),
                "crawl_rank")
    )


def q_depth_growth(spark, sf_dir):
    """increaseDepth arithmetic: base=max(visited,depth);
    min(base+2500, base*1.5) (DomainCrawlFrontier:69-76)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("visited"))
    base = F.greatest(F.col("visited"), F.lit(100))
    grown = F.least(base + F.lit(2500), F.floor(base * 1.5))
    return per_user.select(
        "user_id", "visited", grown.cast("long").alias("grown_depth")
    )


def q_spec_growth(spark, sf_dir):
    """Next-cycle spec depth: clamp(visited*f,100,10000), f=2.5 below 2k
    else 1.25 (CrawlerMain:98-101,770-781)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("visited"))
    f_ = F.when(F.col("visited") < 2000, F.lit(2.5)).otherwise(F.lit(1.25))
    depth = F.least(
        F.greatest(F.floor(F.col("visited") * f_), F.lit(100)), F.lit(10_000)
    )
    return per_user.select("user_id", depth.cast("long").alias("next_depth"))


def q_good_status_count(spark, sf_dir):
    """Good-status filter-count (SlopCrawlDataRecord:261-275 analogue)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("value") >= 0.5, 1).otherwise(0)).alias("n_good"),
    )


def q_error_budget(spark, sf_dir):
    """Domains aborted at ≥20 errors (CrawlerRetreiver:38,212-215)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("error_count"))
        .filter(F.col("error_count") >= 20)
        .select("user_id", "error_count")
    )



def _with_prefix_copies(docs):
    """documents ∪ planted 90%-prefix copies (doc_id + 100000) from ONE
    scan: a 2-way explode replaces the union's second parquet pass —
    identical rows, half the input I/O."""
    return docs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text")),
                F.struct(
                    (F.col("doc_id") + 100000).alias("doc_id"),
                    F.expr(
                        "substring(text, 1, cast(floor(length(text) * 0.9) as int))"
                    ).alias("text"),
                ),
            )
        ).alias("e")
    ).select("e.doc_id", "e.text")

def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization through the real kernel (EdgeUrl §1.2) on
    synthesized messy URLs; the oracle constructs the expected canonical
    form directly (restricted input shape makes it SQL-expressible)."""
    from marginaliasearch_spark.functions.udfs import canonicalize

    docs = _t(spark, sf_dir, "documents")
    raw = docs.select("doc_id", F.expr(_SYNTH_URL).alias("raw_url"))
    c = raw.withColumn("c", canonicalize(F.col("raw_url")))
    # no join: `c` already carries doc_id 1:1 — the old raw⋈c self-join
    # shuffled 2×|docs| rows to reattach a column the row already had
    return c.select(
        "doc_id",
        F.col("c.url_canon").alias("url_canon"),
        F.col("c.domain").alias("domain"),
        F.col("c.top_domain").alias("top_domain"),
        F.col("c.param").alias("param"),
    )


def q_url_hash64(spark, sf_dir):
    """The bit-exact 64-bit URL-seen hash (murmur-nearlyASCII fold,
    DomainCrawlFrontier.hashUrl:144-149) computed through the full
    canonicalize kernel.  The oracle is a golden table generated by
    COMPILING the reference's MurmurHash3_128 and emitting the expected
    hash for every synthesized URL (tests/golden/url_hash64.tsv) — a
    driver-checked bit-exactness gate against the reference itself."""
    from marginaliasearch_spark.functions.udfs import canonicalize

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    raw = docs.select("doc_id", F.expr(_SYNTH_URL).alias("raw_url"))
    return raw.select(
        "doc_id", canonicalize(F.col("raw_url"))["url_hash"].alias("url_hash")
    )


_HTML_FIXTURE_URLS = {
    # fixture file → document URL; the same mapping the compiled-reference
    # harness used when producing tests/golden/htmllinks_diff.tsv
    "basic.html": "https://www.site.example.com/dir/index.html",
    "basehref.html": "https://orig.example.com/old/place.html",
    "baserel.html": "https://host.example.com/a/b/c.html",
    "metarefresh.html": "https://meta.example.com/start.html",
    "frames.html": "https://frames.example.com/fs/main.html",
    "relnextprev.html": "https://blog.example.com/page/2",
    "entities.html": "https://ent.example.com/base/doc.html",
    "malformed.html": "https://mal.example.com/m/x.html",
    "fuzz.html": "https://fuzz.example.com/base/other.html",
    "advbase.html": "https://docbase.example.com/dir/page.html",
    "advbase2.html": "https://docbase2.example.com/d/p.html",
    "advattrs.html": "https://attrs.example.com/a/b.html",
    "advrawtext.html": "https://raw.example.com/r/doc.html",
}


def q_html_link_extract(spark, sf_dir):
    """Real-HTML link extraction (functions/htmllinks.py — the jsoup
    selector set of DomainCrawlFrontier.enqueueLinksFromDocument:214-237
    + LinkParser resolution) over the fixture HTML corpus, preserving
    document order.  The oracle is the golden link table produced by
    COMPILING the reference's LinkParser + enqueue loop and replaying it
    over the same fixtures (tests/golden/htmllinks_diff.tsv) — base-href,
    meta-refresh, frames, rel=next/prev, entity and malformed arms all
    included."""
    import os as _os

    from marginaliasearch_spark.functions.htmllinks import with_html_links

    fx = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)), "tests", "fixtures", "html"
    )
    rows = [
        (name, url, open(_os.path.join(fx, name), encoding="utf-8").read())
        for name, url in sorted(_HTML_FIXTURE_URLS.items())
    ]
    df = spark.createDataFrame(rows, "doc_name string, url string, body_html string")
    return (
        with_html_links(df)
        .select("doc_name", F.posexplode("links").alias("seq", "link"))
        .select("doc_name", F.col("seq").cast("long").alias("seq"), "link")
    )


def q_blocklist_filter(spark, sf_dir):
    """UrlBlocklist admission control as pure Column predicates
    (UrlBlocklist.java:15-94) over synthesized paths."""
    from marginaliasearch_spark.operators.blocklist import blocked_col

    docs = _t(spark, sf_dir, "documents")
    path = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.lit("/repo/.git/obj"), F.col("doc_id"))
    ).when(
        F.col("doc_id") % 5 == 1,
        F.concat(F.lit("/h/"), F.repeat(F.lit("a1"), 20), F.col("doc_id")),
    ).when(
        F.col("doc_id") % 5 == 2, F.concat(F.lit("/wp-content/upload/x"), F.col("doc_id"))
    ).otherwise(F.concat(F.lit("/pages/p"), F.col("doc_id"), F.lit(".html")))
    top = F.when(F.col("doc_id") % 11 == 0, F.lit("youtube.com")).otherwise(F.lit("site.com"))
    d = docs.select("doc_id", top.alias("top_domain"), path.alias("path"))
    return d.withColumn("blocked", blocked_col(F.col("top_domain"), F.col("path"))).select(
        "doc_id", "top_domain", "path", F.col("blocked").cast("int").alias("blocked")
    )


def q_mailing_list_filter(spark, sf_dir):
    """Opt-in mailing-list link filter as a pure Column predicate
    (CrawlerRetreiver's blockMailingLists path arms: /lists/ prefix,
    mailinglist / mail-archive / mailman substrings) over synthesized
    paths; the oracle re-derives the verdicts in SQL."""
    from marginaliasearch_spark.operators.blocklist import mailing_list_col

    docs = _t(spark, sf_dir, "documents")
    path = (
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.lit("/lists/dev/"), F.col("doc_id")))
        .when(F.col("doc_id") % 6 == 1, F.concat(F.lit("/x/mailinglist/"), F.col("doc_id")))
        .when(F.col("doc_id") % 6 == 2, F.concat(F.lit("/mail-archive/msg"), F.col("doc_id")))
        .when(F.col("doc_id") % 6 == 3, F.concat(F.lit("/cgi/mailman/"), F.col("doc_id")))
        .when(F.col("doc_id") % 6 == 4, F.concat(F.lit("/late/lists/"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/pages/p"), F.col("doc_id"), F.lit(".html")))
    )
    d = docs.select("doc_id", path.alias("path"))
    return d.withColumn("blocked", mailing_list_col(F.col("path"))).select(
        "doc_id", "path", F.col("blocked").cast("int").alias("blocked")
    )


def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 — the OLAP bench anchor (decimal-typed for exact compare)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    # Aggregates emitted as fixed-point BIGINT (cents / ten-thousandths) so the
    # DuckDB oracle hashes identically (decimal repr differs across engines).
    # Exact integer form: per-row cents after the same decimal(18,2)
    # rounding are exact longs, and a 2dp×2dp product is exactly the e4
    # fixed-point disc-price term — long-sum aggregation instead of
    # Decimal128 state, same bigint results.
    qty_c = (dec("l_quantity") * 100).cast("long")
    price_c = (dec("l_extendedprice") * 100).cast("long")
    disc_c = F.lit(100) - (dec("l_discount") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty"),
            F.sum(price_c).alias("sum_base_price"),
            F.sum(price_c * disc_c).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_topn(spark, sf_dir):
    """Join + agg + top-k (TPC-H Q3-ish): top 10 orders by revenue."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # exact integer form of sum(p(18,2)·(1−d)(18,2) as (28,4))·10⁴: cents
    # are exact longs after the same decimal(18,2) rounding, and a 2dp×2dp
    # product is exactly the e4 fixed-point term — so the sum aggregates
    # 8-byte longs instead of Decimal128 state (same bigint result)
    p_c = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    q_c = F.lit(100) - (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long")
    rev = li.groupBy("l_orderkey").agg(F.sum(p_c * q_c).alias("revenue"))
    return (
        o.join(rev, o.o_orderkey == rev.l_orderkey)
        .orderBy(F.desc("revenue"), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "revenue")
    )


def q_events_hourly_rollup(spark, sf_dir):
    """Tumbling-window rollup (streaming-agg analogue, run in batch)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("long")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "sum_value")
    )


def q_sessionization(spark, sf_dir):
    """Gap-based sessionization (lag + cumulative sum over a window) —
    the classic stateful-stream pattern run in batch."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap_flag = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    flagged = ev.withColumn("new_session", gap_flag)
    sess = flagged.withColumn(
        "session_idx", F.sum("new_session").over(w)
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
    )


def q_event_type_pivot(spark, sf_dir):
    """Pivot: per-user event-type counts as columns (conditional agg)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("n_signup"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
    )


def q_exact_dedup(spark, sf_dir):
    from marginaliasearch_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents")).select(
        "content_hash", "doc_id", "dup_count"
    )


def q_token_counts(spark, sf_dir):
    """All three token counts: whitespace, BPE-ish pre-tokenizer pieces
    (alnum runs + each non-alnum non-space char), and the 4-char subword
    estimate.  The oracle re-derives each with RE2-compatible formulations
    (DuckDB has no lookarounds, so piece count = alnum runs + stripped
    length)."""
    from marginaliasearch_spark.operators.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "ws_tokens",
        F.col("regex_pieces").cast("int").alias("bpe_pieces"),
        F.col("subword_est").cast("int").alias("subword_est"),
    )


def q_quality_ratios(spark, sf_dir):
    """Quality features as exact fixed-point ints (permille)."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    n_chars = F.length(text)
    n_words = F.size(F.filter(F.split(text, "\\s+"), lambda w: F.length(w) > 0))
    punct = n_chars - F.length(F.regexp_replace(text, "[!?.,;:]", ""))
    upper = n_chars - F.length(F.regexp_replace(text, "[A-Z]", ""))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.floor(punct * 1000 / F.greatest(n_chars, F.lit(1))).cast("long").alias("punct_permille"),
        F.floor(upper * 1000 / F.greatest(n_chars, F.lit(1))).cast("long").alias("upper_permille"),
    )


def q_lang_id(spark, sf_dir):
    from marginaliasearch_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents")).select("doc_id", "lang", "lang_pred")


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs, fixed-point output."""
    from marginaliasearch_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.floor(F.col("jaccard") * 1000).cast("long").alias("jaccard_permille")
    )


def q_near_dup_groups(spark, sf_dir):
    """Near-dup groups: connected components over the exact 3-gram-Jaccard
    pairs (iterative label propagation; the oracle closes the transitive
    closure with a recursive CTE)."""
    from marginaliasearch_spark.operators.dedup import ngram_jaccard_pairs
    from marginaliasearch_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.5)
    return connected_components(pairs).select("id", "component")


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 query vector (IDs only —
    float rank values stay out of the hash compare)."""
    from marginaliasearch_spark.operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    top = cosine_topk_bruteforce(emb, q, k=10)
    return top.select("vec_id")


def _planted_base(spark, sf_dir):
    """embeddings as array<double> plus a deterministically perturbed copy
    of every vector (vec_id + 100000, cosine ≈ 0.9998 to its original) —
    the planted near-dup structure both engines construct identically."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x + F.lit(0.005) * F.sin(x * 1000 + F.col("vec_id"))).cast(
                "double"
            ),
        ).alias("embedding"),
    )
    return base, pert


def q_embedding_near_dup(spark, sf_dir):
    """Near-dup pairs through the SHIPPING plan — banded hyperplane LSH
    bucketed self-join + exact recheck (operators/similarity.py
    cosine_pairs_lsh, never all-pairs).  The planted perturbed copies are
    the only pairs over the 0.99 threshold, and the banded miss
    probability (~1e-12/pair at this cosine) makes the LSH result equal
    the oracle's exact pair set."""
    from marginaliasearch_spark.operators.similarity import cosine_pairs_lsh

    base, pert = _planted_base(spark, sf_dir)
    planted = base.unionByName(pert)
    pairs = cosine_pairs_lsh(planted, threshold=0.99, n_planes=8, n_bands=8)
    return pairs.select("id_a", "id_b")


def _planted_cluster(spark, sf_dir):
    """(aug, q): the embeddings (as double) plus a 12-copy perturbed
    cluster around vec 0, and vec 0's vector as the query — the shared
    planted fixture of the LSH/IVF ANN gates (the DuckDB oracles build
    the identical cluster)."""
    base, _ = _planted_base(spark, sf_dir)
    q = [
        float(x)
        for x in base.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    qarr = F.array(*[F.lit(float(x)) for x in q])
    copies = spark.range(1, 13).select(
        (F.col("id") + 200000).alias("vec_id"),
        F.transform(
            qarr,
            lambda x: x
            + F.lit(0.002) * F.col("id").cast("double") * F.sin(x * 1000 + F.col("id").cast("double")),
        ).alias("embedding"),
    )
    return base.unionByName(copies), q


def q_ann_cosine_topk_lsh(spark, sf_dir):
    """ANN top-10 through the SHIPPING plan — multi-probe sign-LSH prune +
    exact re-rank (cosine_topk_lsh) on the planted cluster; the oracle
    re-derives the same top-10 exactly (the copies' signatures sit within
    the probe radius with near-certainty at this cosine, deterministic
    under the fixed seed)."""
    from marginaliasearch_spark.operators.similarity import cosine_topk_lsh

    aug, q = _planted_cluster(spark, sf_dir)
    return cosine_topk_lsh(aug, q, k=10, n_planes=12, probe_hamming=2).select("vec_id")


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH NEAR-dup pairs (threshold < 1) against a genuinely
    independent oracle: the corpus is documents ∪ planted 90%-prefix
    copies (exact Jaccard ≈ 0.88–0.94), and the DuckDB side computes the
    EXACT char-5-gram Jaccard pair set at the same 0.6 threshold with
    pure SQL set operations.  The corpus's measured J distribution has a
    clean gap around the threshold (no pair in (0.35, 0.80)), so the
    64-hash estimate cannot disagree with the exact answer on membership
    — any banding recall miss or estimator drift turns the gate red."""
    from marginaliasearch_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    allv = _with_prefix_copies(docs)
    return minhash_lsh_pairs(allv, jaccard_threshold=0.6).select("id_a", "id_b")


def q_compose_training_set(spark, sf_dir):
    """The FULL composition pass through the shipping scale path: the
    engine groups near-dups with banded MinHash-LSH (capped buckets —
    the 10^10-row-safe plan), runs connected components and keep-best,
    and must land on EXACTLY the keep-set the DuckDB oracle derives from
    exact char-5-gram Jaccard pairs + a recursive-CTE closure +
    quality-desc/id-asc ranking.  The corpus is documents ∪ planted
    90%-prefix copies with a measured Jaccard margin gap around the 0.6
    threshold, so LSH-composed == exact-composed or the gate goes red."""
    from marginaliasearch_spark.plans.corpus_pipeline import compose_training_set

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enriched = _with_prefix_copies(docs).select(
        "doc_id",
        "text",
        F.length("text").cast("long").alias("quality_score"),
        F.lit(0).alias("is_dup_copy"),
    )
    kept = compose_training_set(enriched, near_dup_threshold=0.6, id_col="doc_id")
    return kept.select("doc_id")


def q_simhash_pairs(spark, sf_dir):
    """SimHash NEAR-dup pairs (hamming ≤ 3) against a from-scratch oracle:
    DuckDB recomputes the full signature pipeline FROM TEXT (k=4 byte
    shingles → distinct → salt multiply → murmur fmix → per-bit majority
    vote, all in HUGEINT mod-2^64 arithmetic) and brute-forces all pairs
    with bit_count(xor) ≤ 3.  The pigeonhole 4×16-bit chunk blocking is
    exact for hamming ≤ 3, so the distributed plan must reproduce the
    brute force bit-for-bit — including the hamming values."""
    from marginaliasearch_spark.operators.dedup import simhash_pairs

    # ASCII-only corpus, same guard as doc_fingerprint: the SQL oracle
    # hashes code points (ord) while the engine hashes UTF-8 bytes — they
    # agree exactly on ASCII, so both sides filter identically.
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").rlike(r"\A[ -~]*\z"))
        .select("doc_id", "text")
    )
    allv = docs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text")),
                F.struct(
                    (F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" x")).alias("text"),
                ),
            )
        ).alias("e")
    ).select("e.doc_id", "e.text")
    return simhash_pairs(allv, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_doc_fingerprint(spark, sf_dir):
    """Winnowing fingerprint vs a from-scratch SQL recomputation: DuckDB
    re-derives FNV-1a word hashes, the sliding window-8 minima, and the
    XOR-mul fold over sorted distinct minima in HUGEINT mod-2^64
    arithmetic (oracle/sqlgen.py) — the gate goes red if the kernel's
    window size, tie-break, dedup, or fold rule drifts by one bit."""
    from marginaliasearch_spark.operators.textstats import doc_fingerprint

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").rlike(r"\A[ -~]*\z"))
        .select("doc_id", "text")
    )
    return doc_fingerprint(docs).select("doc_id", "fingerprint")


def q_payload_validate(spark, sf_dir):
    """Image payload validation (decode/PSNR/caption/phash via mapInArrow
    batches) over a deterministic corpus slice.  The oracle declares
    the input_hint's per-row invariant (decode ok, PSNR≥40 dB for lossy,
    caption equality, stored-phash match) must hold for EVERY row — the
    engine earns each flag through the real decode path."""
    from marginaliasearch_spark.plans.validate import validate_payloads
    from marginaliasearch_spark.sources.corpus import distributed_corpus

    # the fixture corpus is generated ON the executors (row i derives
    # from (seed, i) alone): the per-image encode cost spreads across
    # every core instead of serializing on the driver — row-for-row the
    # same table as the old driver-side generate_corpus+createDataFrame
    corpus = distributed_corpus(spark, 42, 64)
    v = validate_payloads(corpus, seed=42)
    return v.select(
        "image_id",
        F.col("decode_ok").cast("int").alias("decode_ok"),
        F.col("psnr_ok").cast("int").alias("psnr_ok"),
        F.col("caption_ok").cast("int").alias("caption_ok"),
        F.col("phash_match").cast("int").alias("phash_match"),
        "codec",
    )


def q_crawl_visited_set(spark, sf_dir):
    """Flagship crawl gate with an INDEPENDENT oracle: the full wave engine
    crawls the ground-truth gate web (sources/gate_web.py) and the DuckDB
    side re-derives the visited set as a recursive reachability closure
    over facts the generator exported directly — no engine code on the
    oracle path.  Exercises robots (4 variants incl. UA override),
    blocklist/binary-suffix/scheme href rejection, same-domain confinement,
    first-wins dedup, seed injection + forced root, 301 re-entry,
    cross-domain redirect drops, mediawiki link filter, and excluded
    domains (probe error/redirect, robots full block)."""
    from marginaliasearch_spark.sources.gate_web import generate_gate_web

    pages_rows, domains_rows, _, _ = generate_gate_web()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=4)
    v = engine.read_table("visits")
    return v.select("domain", "url").distinct()


def q_link_filter_kinds(spark, sf_dir):
    """Per-site-type link filter gate: one fixture domain per
    LinkFilterSelector arm (blogspot / substack / lemmy / discourse +
    default control, LinkFilterSelector.java:15-66).  The engine must
    DISCOVER each kind from root-document signals (top-domain,
    window.lemmyConfig script, generator meta) and keep applying the
    cherry-picking predicate beyond the root; the DuckDB oracle
    re-derives the visited set as a recursive reachability closure with
    the predicates mirrored as plain SQL — no engine code."""
    from marginaliasearch_spark.sources.gate_web import generate_linkfilter_fixture

    pages_rows, domains_rows, _, _ = generate_linkfilter_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=2)
    v = engine.read_table("visits")
    return v.select("domain", "url").distinct()


def q_queryparams_sanitize(spark, sf_dir):
    """queryParamsSanitizer (canon/queryparams.py — QueryParams.java:15-70)
    over the compiled-reference golden input table: tracking params
    dropped, whitelisted params kept per-path, lexicographic reorder.
    The oracle is the golden's expected column (generated by compiling
    the reference's QueryParams), so the kernel is driver-checked
    bit-exact against the reference itself."""
    import os as _os

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.pandas.functions import pandas_udf

    gold = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)),
        "tests", "golden", "queryparams_diff.tsv",
    )
    rows = [
        line.rstrip("\n").split("\t")
        for line in open(gold, encoding="utf-8")
    ]
    df = spark.createDataFrame(
        [(p, q) for p, q, _ in rows], "path string, params string"
    )

    @pandas_udf(T.StringType())
    def _sanitize(paths: pd.Series, params: pd.Series) -> pd.Series:
        from marginaliasearch_spark.canon.queryparams import query_params_sanitizer

        return pd.Series(
            [query_params_sanitizer(p, q) for p, q in zip(paths, params)]
        )

    return df.select(
        "path", "params", _sanitize(F.col("path"), F.col("params")).alias("sanitized")
    )


def q_robots_allowed(spark, sf_dir):
    """robots.txt is_allowed verdicts (functions/robots.py — RFC 9309 +
    the reference's crawler-commons SimpleRobotRules semantics,
    DomainCrawlerRobotsTxtTest.java:10-30) over the planted vector table:
    UA-override groups, Allow carve-outs, wildcard/$ rules,
    longest-match precedence, missing/empty/foreign-UA files.  Expected
    verdicts are declared at generation, independent of the parser."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.pandas.functions import pandas_udf

    from marginaliasearch_spark.sources.gate_web import generate_robots_fixture

    rows = generate_robots_fixture()
    df = spark.createDataFrame(
        [(r["case_id"], r["robots_txt"], r["user_agent"], r["url"]) for r in rows],
        "case_id long, robots_txt string, user_agent string, url string",
    )

    @pandas_udf(T.BooleanType())
    def _allowed(txt: pd.Series, ua: pd.Series, url: pd.Series) -> pd.Series:
        from marginaliasearch_spark.functions.robots import parse_robots_txt

        return pd.Series(
            [
                parse_robots_txt(t if isinstance(t, str) else None, u).is_allowed(x)
                for t, u, x in zip(txt, ua, url)
            ]
        )

    return df.select(
        "case_id",
        _allowed(F.col("robots_txt"), F.col("user_agent"), F.col("url")).alias(
            "allowed"
        ),
    )


def q_connected_components(spark, sf_dir):
    """Connected components (operators/graph.py — min-label propagation
    with pointer jumping) over the planted shape mix (chains, rings,
    stars, cliques, welded shapes); the DuckDB oracle derives components
    INDEPENDENTLY as min-reachable-id over a recursive transitive
    closure of the same exported edges."""
    from marginaliasearch_spark.operators.graph import connected_components
    from marginaliasearch_spark.sources.gate_web import generate_cc_fixture

    edges = spark.createDataFrame(
        [(e["id_a"], e["id_b"]) for e in generate_cc_fixture()],
        "id_a long, id_b long",
    )
    return connected_components(edges).select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


def q_pagerank_order(spark, sf_dir):
    """PageRank (operators/graph.py — damped power iteration with uniform
    dangling redistribution) over the hub/leaf/sink construction whose
    rank order is strict by design: sink first, then hubs by in-degree.
    Returns the rank positions of sink+hubs; the oracle is the planted
    order (leaves excluded — tied by symmetry)."""
    from pyspark.sql import Window

    from marginaliasearch_spark.operators.graph import pagerank
    from marginaliasearch_spark.sources.gate_web import (
        PR_N_HUBS,
        generate_pagerank_fixture,
    )

    edge_rows, _ = generate_pagerank_fixture()
    edges = spark.createDataFrame(
        [(e["src"], e["dst"]) for e in edge_rows], "src long, dst long"
    )
    ranks = pagerank(edges, iterations=10).filter(F.col("node") <= PR_N_HUBS)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return ranks.select(
        F.col("node").cast("long").alias("node"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN through the shipping plan (centroid assignment + n_probe
    nearest lists + exact re-rank) on the same planted cluster — equals
    the exact top-10 (deterministic under the fixed seed)."""
    from marginaliasearch_spark.operators.similarity import ivf_topk

    aug, q = _planted_cluster(spark, sf_dir)
    return ivf_topk(aug, q, k=10, n_centroids=16, n_probe=4).select("vec_id")


def q_av_features(spark, sf_dir):
    """Audio/video payload features through the real mapInPandas extractor
    (decode, rFFT dominant frequency, frame-sampling, phash shot-boundary)
    over the planted AV corpus — every expected value derives from the clip
    index by construction, so the oracle declares it in plain SQL."""
    from marginaliasearch_spark.plans.av_pipeline import extract_av_features
    from marginaliasearch_spark.sources.corpus import generate_av_corpus

    clips = spark.createDataFrame(generate_av_corpus(42, 64))
    return extract_av_features(clips)


def q_cross_domain_discovery(spark, sf_dir):
    """Cross-domain discovery gate: cycle-1 edges → canonicalize → global
    cuckoo URL-seen admission → next-cycle atags (plans/discovery.py, the
    reference's anchor-tags side input).  The cycle-1 VISITED set is
    ingested into the URL-seen service first, so the admission step must
    genuinely REJECT the fixture's cross-domain links to already-visited
    pages and admit only the planted orphans (duplicated in the fixture,
    so global dedup must also collapse them); the oracle is the planted
    (domain, url) set."""
    from marginaliasearch_spark.plans.discovery import next_cycle_atags
    from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup
    from marginaliasearch_spark.sources.gate_web import generate_discovery_fixture

    pages_rows, domains_rows, _ = generate_discovery_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=4)
    fd = FrontierDedup(
        spark, tempfile.mkdtemp(prefix="msx_seen_"), n_buckets=8,
        cuckoo_m_buckets=1 << 10,
    )
    # seed the global URL-seen service with everything cycle 1 visited —
    # the admission step below must reject those, not just pass everything
    from marginaliasearch_spark.functions.udfs import canonicalize

    visited = engine.read_table("visits").select(
        canonicalize(F.col("url"))["url_hash"].alias("url_hash"), "url"
    )
    fd.ingest(visited)
    return next_cycle_atags(engine.read_table("edges"), fd).select("domain", "url")


def q_crawl_visit_order(spark, sf_dir):
    """Crawl ORDERING gate (north rule: reproduce the reference's crawl
    ordering): the engine crawls branch+redirect fixture domains whose
    FIFO + addFirst visit order is planted by construction; the oracle is
    the planted (domain, rank, url) table.  Certifies the queue
    discipline — BFS FIFO appends, redirect targets jumping the queue —
    through the distributed wave path."""
    from marginaliasearch_spark.sources.gate_web import generate_order_web

    pages_rows, domains_rows, _ = generate_order_web()
    # wave_budget=2 forces multi-wave execution: the order must survive
    # frontier serialization/rehydration across snapshots
    engine = _crawl(spark, pages_rows, domains_rows, wave_budget=2, n_buckets=4)
    v = engine.read_table("visits")
    w = Window.partitionBy("domain").orderBy("wave", "idx")
    return v.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "domain", "rank", "url"
    )


def q_ip_admission(spark, sf_dir):
    """IP/Geo domain admission (IpBlockList.java:61-93, GeoIpBlocklist.java:
    19-42) as pure Column predicates over planted domain facts: .cn TLD,
    4-digit-run hostnames, CIDR range hit, geo-graylist non-www subdomain.
    The oracle declares the planted truth per case."""
    from marginaliasearch_spark.operators.ipblocklist import domain_blocked_expr

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id") % 6
    n = F.col("doc_id").cast("string")
    domain = (
        F.when(k == 0, F.concat(F.lit("site"), n, F.lit(".example.com")))
        .when(k == 1, F.concat(F.lit("shop"), n, F.lit(".example.cn")))
        .when(k == 2, F.concat(F.lit("farm1234x"), n, F.lit(".example.com")))
        .when(k == 3, F.concat(F.lit("cdn"), n, F.lit(".blocked.net")))
        .when(k == 4, F.concat(F.lit("sub"), n, F.lit(".gray.example")))
        .otherwise(F.concat(F.lit("www."), F.lit("gray"), n, F.lit(".example")))
    )
    sub = F.when(k == 4, F.lit("sub")).when(k == 5, F.lit("www")).otherwise(F.lit(""))
    country = F.when(k.isin(4, 5), F.lit("RU")).otherwise(F.lit("US"))
    ip_int = F.when(k == 3, F.lit((10 << 24) | (9 << 16) | 5)).otherwise(
        F.lit(10 << 24) + F.col("doc_id") % 250
    )
    cidr_lo, cidr_hi = (10 << 24) | (9 << 16), ((10 << 24) | (9 << 16)) + 0xFFFF
    facts = docs.select(
        "doc_id", domain.alias("domain"), sub.alias("sub"), country.alias("country"),
        ip_int.alias("ip_int"),
    )
    blocked = F.expr(domain_blocked_expr("domain", "sub", "country")) | F.col("ip_int").between(
        cidr_lo, cidr_hi
    )
    return facts.select("doc_id", "domain", blocked.cast("int").alias("blocked"))


def q_minhash_dup_pairs(spark, sf_dir):
    """Exact-duplicate discovery through the SHIPPING MinHash pipeline
    (shingle→minhash→band→bucket-join candidates → exact confirm): planted
    exact copies (doc_id+100000) plus the corpus's own duplicate texts must
    ALL be found — identical text ⇒ identical signature ⇒ same band
    buckets, so recall is exact, not probabilistic.  The oracle is the
    text-equality pair set."""
    from marginaliasearch_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    allv = docs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text")),
                F.struct((F.col("doc_id") + 100000).alias("doc_id"), F.col("text")),
            )
        ).alias("e")
    ).select("e.doc_id", "e.text")
    cand = minhash_lsh_pairs(allv, jaccard_threshold=1.0)
    ta = allv.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = allv.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.col("text_a") == F.col("text_b"))  # exact confirm stage
        .select("id_a", "id_b")
    )


def q_simhash_dup_pairs(spark, sf_dir):
    """Same planted-copy contract through the SimHash pipeline (pigeonhole
    chunk blocking is EXACT for hamming ≤ 3, so identical texts are found
    with certainty) + exact confirm; oracle = text-equality pair set."""
    from marginaliasearch_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    allv = docs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text")),
                F.struct((F.col("doc_id") + 100000).alias("doc_id"), F.col("text")),
            )
        ).alias("e")
    ).select("e.doc_id", "e.text")
    cand = simhash_pairs(allv, max_hamming=0)
    ta = allv.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = allv.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.col("text_a") == F.col("text_b"))
        .select("id_a", "id_b")
    )


def q_recrawl_retention(spark, sf_dir):
    """Recrawl-retention gate: the engine replays a stored round-1 crawl
    against a round-2 web with PLANTED per-document outcomes (304 via
    If-None-Match/If-Modified-Since, header-equality retention, EasyLSH
    content retention, genuine change, 404 memo) and must rediscover every
    planted outcome through the conditional-fetch machinery
    (CrawlerRetreiver.java:468-530; DocumentWithReference.java:24-65).
    The oracle is a plain scan of the planted truth."""
    import pandas as pd

    from marginaliasearch_spark.sources.gate_web import generate_recrawl_fixture

    pages_rows, domains_rows, prev_rows, _ = generate_recrawl_fixture()
    # dtype=object: pandas would otherwise decay int64+None to float64 and
    # silently corrupt the 64-bit fingerprints
    prev = spark.createDataFrame(
        pd.DataFrame(prev_rows, dtype=object),
        "domain string, pos long, url string, http_status int, image_id string,"
        " etag string, last_modified string, lsh64 long",
    )
    engine = _crawl(spark, pages_rows, domains_rows, prev_crawl_df=prev, n_buckets=4)

    log = engine.read_table("fetch_log")
    outcome = (
        F.when(F.col("action") == "FETCH_304", "304")
        .when(F.col("action") == "RECRAWL_RETAINED_HEADER", "header")
        .when(F.col("action") == "RECRAWL_RETAINED_LSH", "lsh")
        .when(F.col("action") == "RECRAWL_CHANGED", "changed")
        .when(F.col("action") == "RECRAWL_MEMO_404", "memo404")
    )
    retries = (
        log.filter(F.col("action") == "FETCH_RETRY")
        .groupBy("url")
        .agg(F.count("*").alias("_nr"))
    )
    return (
        log.withColumn("outcome", outcome)
        .filter(F.col("outcome").isNotNull())
        .join(retries, "url", "left")
        .select(
            "domain",
            "url",
            "outcome",
            F.coalesce(F.col("_nr"), F.lit(0)).cast("long").alias("n_retries"),
        )
    )


def q_retry_ladder(spark, sf_dir):
    """429/5xx retry-ladder gate: the engine crawls planted transient and
    permanent rate-limit/server-error pages; the in-client ladder
    (429 ≤3× with Retry-After clamped [1,10]s, 500/503 ≤2× —
    HttpFetcherImpl.java:657-706) must recover exactly the recoverable
    ones with the planted retry count.  Outcome and retry count are
    derived from the fetch_log audit trail (FETCH final status +
    FETCH_RETRY rows); the oracle is the planted truth table."""
    from marginaliasearch_spark.sources.gate_web import generate_retry_fixture

    pages_rows, domains_rows, _ = generate_retry_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=4)

    log = engine.read_table("fetch_log").filter(F.col("url").contains("/r/"))
    finals = log.filter(F.col("action") == "FETCH").select(
        "domain",
        "url",
        F.when(F.col("http_status") == 200, "fetched")
        .when(F.col("http_status") == 429, "rate_limited")
        .when(F.col("http_status").isin(500, 503), "server_error")
        .otherwise("other")
        .alias("outcome"),
    )
    retries = (
        log.filter(F.col("action") == "FETCH_RETRY")
        .groupBy("url")
        .agg(F.count("*").alias("n_retries"))
    )
    return (
        finals.join(retries, "url", "left")
        .select(
            "domain",
            "url",
            "outcome",
            F.coalesce(F.col("n_retries"), F.lit(0)).cast("long").alias("n_retries"),
        )
    )


def q_cookie_markers(spark, sf_dir):
    """Per-domain cookie jar gate: planted Set-Cookie responses (set at
    root, mid-crawl, never, bare-token-only, empty-value) must produce
    exactly the has_cookies marker per stored record — the Slop `cookies`
    byte column / X-Robots `X-Has-Cookies` marker
    (SlopCrawlDataRecord.java:45-54, DomainCookies.java,
    WarcRecorder.java:114,140: jar updates from the response BEFORE the
    record is written).  Oracle = the planted truth table derived from the
    jar's public parse contract."""
    from marginaliasearch_spark.sources.gate_web import generate_cookie_fixture

    pages_rows, domains_rows, _ = generate_cookie_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=4)
    return (
        engine.read_table("crawl_data")
        .select(
            "domain",
            "url",
            F.col("has_cookies").cast("long").alias("has_cookies"),
            "ip",
            F.col("request_time_ms").cast("long").alias("request_time_ms"),
            "header",
        )
    )


def q_sitemap_scan(spark, sf_dir):
    """Sitemap-scan gate: robots-declared sitemaps inject otherwise
    ORPHAN pages into the frontier (urlset, nested sitemapindex, RSS
    body, same-domain URL filtering, ignored cross-domain Sitemap:
    directive, ≤10-fetch walk cap — HttpFetcherImpl.java:491-618;
    functions/sitemap.py).  The engine crawls the fixture; each planted
    orphan's visited flag is derived by joining the engine's visits
    table; the oracle is the planted truth table."""
    from marginaliasearch_spark.sources.gate_web import generate_sitemap_fixture

    pages_rows, domains_rows, expected_rows = generate_sitemap_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=4)
    # candidates are the planted orphan set (an INPUT of the fixture);
    # the visited flag is earned from the engine's visits table alone
    cands = spark.createDataFrame(
        [(r["domain"], r["url"]) for r in expected_rows], "domain string, url string"
    )
    vis = engine.read_table("visits").select("url").distinct().withColumn(
        "_v", F.lit(1)
    )
    return cands.join(vis, "url", "left").select(
        "domain",
        "url",
        F.coalesce(F.col("_v"), F.lit(0)).cast("long").alias("visited"),
    )


def q_xrobots_store(spark, sf_dir):
    """Output-stage storage gate: X-Robots-Tag algebra (UA-scoped all >
    UA-scoped noindex/none > general noindex/none) + the content-type
    whitelist with octet-stream .md/.pdf rescues decide what is STORED
    at rest, while every candidate still counts as VISITED — the gate
    never touches the frontier (SlopCrawlDataRecord.java:165-259;
    functions/xrobots.py).  Flags are earned from the engine's visits
    and crawl_data tables; oracle = planted truth from the published
    algebra."""
    from marginaliasearch_spark.sources.gate_web import generate_xrobots_fixture

    pages_rows, domains_rows, expected_rows = generate_xrobots_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=4)
    cands = spark.createDataFrame(
        [(r["domain"], r["url"]) for r in expected_rows], "domain string, url string"
    )
    vis = engine.read_table("visits").select("url").distinct().withColumn("_v", F.lit(1))
    stored = (
        engine.read_table("crawl_data").select("url").distinct().withColumn("_s", F.lit(1))
    )
    return (
        cands.join(vis, "url", "left")
        .join(stored, "url", "left")
        .select(
            "domain",
            "url",
            F.coalesce(F.col("_v"), F.lit(0)).cast("long").alias("visited"),
            F.coalesce(F.col("_s"), F.lit(0)).cast("long").alias("stored"),
        )
    )


def q_domain_meta_discovery(spark, sf_dir):
    """Feed + favicon discovery gate: link rel=alternate feeds (same-
    domain only), the likely-endpoint guessing ladder with its
    '<rss'/'<atom' body sniff, robots gating of BOTH ladders, the
    <link rel=icon> same-domain override and the /favicon.ico default
    with 200-only persist (CrawlerRetreiver.java:333-339,404-441;
    DomainStateDb.saveIcon).  Values read from the engine's crawl_meta
    domain summary; oracle = the planted truth table."""
    from marginaliasearch_spark.sources.gate_web import generate_domain_meta_fixture

    pages_rows, domains_rows, _ = generate_domain_meta_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=4)
    return engine.crawl_meta().select(
        "domain", "feed_url", "favicon_url", "favicon_content_type"
    )


def q_content_probe(spark, sf_dir):
    """Content-type HEAD-probe gate: planted binary-looking URLs must be
    classified by the probe before any GET (allowed type → fetched;
    text/css and octet-stream → flagged without a GET; missing page →
    probe error into the error budget; probe redirect → addFirst
    re-entry, with the TARGET then fetched; HEAD-405 → GET anyway;
    probable-good extensions skip the probe entirely).  Derived from the
    fetch_log audit actions; oracle = the planted truth table
    (HttpFetcherImpl.probeContentType:332-400, ContentTypeLogic.java:13-59)."""
    from marginaliasearch_spark.sources.gate_web import generate_content_probe_fixture

    pages_rows, domains_rows, _ = generate_content_probe_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=4)

    log = engine.read_table("fetch_log").filter(F.col("url").contains("/r/"))
    outcome = (
        F.when(F.col("action") == "PROBE_CT_ERROR", "probe_error")
        .when(F.col("action") == "FAILED_CONTENT_TYPE", "bad_type")
        .when(F.col("action") == "PROBE_CT_REDIRECT", "probe_redirect")
        .when((F.col("action") == "FETCH") & (F.col("http_status") == 200), "fetched")
    )
    return (
        log.withColumn("outcome", outcome)
        .filter(F.col("outcome").isNotNull())
        .select("domain", "url", "outcome")
        .distinct()
    )


def q_robots_audit(spark, sf_dir):
    """Retroactive robots audit (operators/robots_audit.py): corpus rows
    re-gated against CURRENT robots texts — run through the 10^8-domain
    SHUFFLE-HASH join mode (the scale path; broadcast-vs-shuffle result
    equality is pytest-pinned in test_robots_audit) with Arrow-batched
    rule evaluation and per-text LRU parse.  Four planted rule variants
    (404-robots ALLOW_ALL, /private/ prefix, blanket disallow with
    UA-group override, wildcard *.php$) over three path shapes; the
    oracle declares each (variant, shape) verdict."""
    from marginaliasearch_spark.operators.robots_audit import robots_audit

    docs = _t(spark, sf_dir, "documents")
    v = (F.col("doc_id") % 4).cast("string")
    domain = F.concat(F.lit("ra"), v, F.lit(".example.org"))
    k = F.col("doc_id") % 3
    n = F.col("doc_id").cast("string")
    path = (
        F.when(k == 0, F.concat(F.lit("/public/p"), n, F.lit(".html")))
        .when(k == 1, F.concat(F.lit("/private/s"), n, F.lit(".html")))
        .otherwise(F.concat(F.lit("/item"), n, F.lit(".php")))
    )
    corpus = docs.select(
        "doc_id",
        domain.alias("domain"),
        F.concat(F.lit("https://"), domain, path).alias("url"),
    )
    robots = spark.createDataFrame(
        [
            ("ra0.example.org", None),
            ("ra1.example.org", "User-agent: *\nDisallow: /private/\n"),
            (
                "ra2.example.org",
                "User-agent: *\nDisallow: /\n\n"
                "User-agent: GoogleBot\nUser-agent: search.marginalia.nu\n"
                "Disallow:\nDisallow: /private/\n",
            ),
            ("ra3.example.org", "User-agent: *\nDisallow: /*.php$\n"),
        ],
        "domain string, robots_txt string",
    )
    return robots_audit(corpus, robots, join_mode="shuffle").select(
        "doc_id", "domain", F.col("allowed").cast("int").alias("allowed")
    )


def q_crawl_meta(spark, sf_dir):
    """Per-domain crawl metrics (plans/crawl.py::crawl_meta — the
    DomainStateDb CrawlMeta analogue, SURVEY §2.5/§2.11): one fixture
    domain per counter arm (clean tree, 404 links, robots block, probe
    error, probe redirect, terminal 429, depth cap), every counter
    PLANTED at generation (sources/gate_web.py::generate_crawl_meta_fixture)
    — the engine earns phase/visited_cnt/good_status_count/crawl_changes/
    error_count through the real probe, robots, retry-ladder and
    error-budget machinery; the oracle is a scan of declared truth."""
    from marginaliasearch_spark.sources.gate_web import generate_crawl_meta_fixture

    pages_rows, domains_rows, _ = generate_crawl_meta_fixture()
    engine = _crawl(spark, pages_rows, domains_rows, n_buckets=2)
    meta = engine.crawl_meta()
    return meta.select(
        "domain",
        "phase",
        F.coalesce("visited_cnt", F.lit(0)).cast("long").alias("visited_cnt"),
        F.coalesce("good_status_count", F.lit(0)).cast("long").alias("good_status_count"),
        F.coalesce("crawl_changes", F.lit(0)).cast("long").alias("crawl_changes"),
        F.coalesce("error_count", F.lit(0)).cast("long").alias("error_count"),
    )


def q_body_cap_clip(spark, sf_dir):
    """Per-request body budget (WarcRecorder.java:41-45 — 32 MB, clipped
    before fingerprinting): bodies identical up to the cap but diverging
    beyond it MUST store the same lsh64; a body differing inside the cap
    must not.  The fixture plants the equality classes by construction
    (no hash values in the export) and the engine runs with the cap set
    to the fixture's test boundary — the session default stays the
    reference's 32 MB constant."""
    from pyspark.sql import Window

    from marginaliasearch_spark.sources.gate_web import (
        BODYCAP_TEST_CAP,
        generate_bodycap_fixture,
    )

    pages_rows, domains_rows, _ = generate_bodycap_fixture()
    engine = _crawl(
        spark, pages_rows, domains_rows, n_buckets=2, body_cap_bytes=BODYCAP_TEST_CAP
    )
    cd = engine.read_table("crawl_data").filter(F.col("lsh64").isNotNull())
    return cd.select(
        "url",
        F.min("url").over(Window.partitionBy("lsh64")).alias("group_rep"),
    )


_LIVE_ROLLUP_CALLS = [0]


def q_live_rollup(spark, sf_dir):
    """Live-crawl streaming rollup (streaming/livecrawl.py — the
    SimpleLinkScraper analogue, SURVEY §2.12) through a REAL Structured
    Streaming run: file source in multiple micro-batches
    (maxFilesPerTrigger=1), stream-static anti-join against the seen-set,
    blocklist Column filter, watermarked 5-minute tumbling rollup in
    APPEND mode.  Every admission/drop is planted (gate_web fixture):
    seen rows dedup out, .git/ paths block, a row beyond the watermark of
    its already-finalized window drops, a late-but-within-watermark row
    counts, and a far-future sentinel finalizes all real windows."""
    import os as _os
    import tempfile

    import pandas as pd

    from marginaliasearch_spark.functions.udfs import canonicalize
    from marginaliasearch_spark.sources.gate_web import generate_stream_fixture
    from marginaliasearch_spark.streaming.livecrawl import (
        FEED_ITEM_SCHEMA,
        ingest_rollup,
        live_candidates,
    )

    rows = generate_stream_fixture()
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts_iso"])

    src_dir = tempfile.mkdtemp(prefix="msx_stream_src_")
    for fno in sorted(pdf["file_no"].unique()):
        part = pdf[pdf["file_no"] == fno][["ts", "feed_domain", "url"]].copy()
        part["title"] = "t"
        path = _os.path.join(src_dir, f"file_{fno:03d}.parquet")
        # micros, not pandas' nanos — Spark's file source reads TIMESTAMP(US)
        part.to_parquet(path, coerce_timestamps="us", allow_truncated_timestamps=True)
        # FileStreamSource batches by modification time: pin an ascending
        # order so the micro-batch sequence (and thus the watermark
        # trajectory) is deterministic
        _os.utime(path, (1000000000 + int(fno), 1000000000 + int(fno)))

    seen_urls = [r["url"] for r in rows if r["seen"]]
    seen = (
        spark.createDataFrame([(u,) for u in seen_urls], "url string")
        .withColumn("c", canonicalize(F.col("url")))
        .select(F.col("c.url_hash").alias("url_hash"))
    )

    stream = (
        spark.readStream.schema(FEED_ITEM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    roll = ingest_rollup(live_candidates(stream, seen), "5 minutes")

    _LIVE_ROLLUP_CALLS[0] += 1
    qname = f"msx_live_rollup_{_LIVE_ROLLUP_CALLS[0]}"
    q = (
        roll.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(qname).select(
        F.col("bucket_start").alias("window_start"),
        "domain",
        F.col("n_new_urls").cast("long").alias("n_new_urls"),
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (operators/sampling.py): rates
    dimension broadcast onto the corpus, keep iff multiplicative
    hash32(id) < fraction·2^32 — order-independent, partition-independent,
    and SQL-mirrorable, so the oracle recomputes the EXACT subset."""
    from marginaliasearch_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = spark.createDataFrame(
        [("en", 0.5), ("de", 0.25), ("fr", 0.1)], "lang string, fraction double"
    )
    return stratified_sample(docs, rates, stratum_col="lang")


def q_balanced_sample(spark, sf_dir):
    """Mixture cap: at most 20 docs per language, chosen by hash rank —
    the 'balance the corpus across strata' composition op; oracle =
    the same window over the same SQL hash."""
    from marginaliasearch_spark.operators.sampling import balanced_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return balanced_sample(docs, 20, stratum_col="lang")


def q_dedup_keep_best(spark, sf_dir):
    """Keep-best composition after near-dup grouping: one keeper per
    group by (quality desc, id asc); ungrouped rows keep themselves.
    Planted groups (doc_id % 50 for the first 200 docs) + planted
    quality (doc_id % 7) make the argmax SQL-declarable."""
    from marginaliasearch_spark.operators.sampling import dedup_keep_best

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 7).cast("long").alias("quality")
    )
    groups = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.col("doc_id").alias("id"),
            (F.col("doc_id") % 50).cast("long").alias("component"),
        )
    )
    return dedup_keep_best(docs, groups).select("doc_id", "quality")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "worklog_compaction": q_worklog_compaction,
        "frontier_firstwins": q_frontier_firstwins,
        "availability_classify": q_availability_classify,
        "priority_topk": q_priority_topk,
        "timed_run_order": q_timed_run_order,
        "batch_run_order": q_batch_run_order,
        "depth_growth": q_depth_growth,
        "spec_growth": q_spec_growth,
        "good_status_count": q_good_status_count,
        "error_budget": q_error_budget,
        "url_canonicalize": q_url_canonicalize,
        "url_hash64": q_url_hash64,
        "html_link_extract": q_html_link_extract,
        "blocklist_filter": q_blocklist_filter,
        "mailing_list_filter": q_mailing_list_filter,
        "q1_pricing_summary": q_q1_pricing_summary,
        "revenue_topn": q_revenue_topn,
        "events_hourly_rollup": q_events_hourly_rollup,
        "sessionization": q_sessionization,
        "event_type_pivot": q_event_type_pivot,
        "exact_dedup": q_exact_dedup,
        "token_counts": q_token_counts,
        "quality_ratios": q_quality_ratios,
        "lang_id": q_lang_id,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "near_dup_groups": q_near_dup_groups,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_cosine_topk_lsh": q_ann_cosine_topk_lsh,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "compose_training_set": q_compose_training_set,
        "simhash_pairs": q_simhash_pairs,
        "minhash_dup_pairs": q_minhash_dup_pairs,
        "simhash_dup_pairs": q_simhash_dup_pairs,
        "doc_fingerprint": q_doc_fingerprint,
        "payload_validate": q_payload_validate,
        "crawl_visited_set": q_crawl_visited_set,
        "link_filter_kinds": q_link_filter_kinds,
        "queryparams_sanitize": q_queryparams_sanitize,
        "robots_allowed": q_robots_allowed,
        "connected_components": q_connected_components,
        "pagerank_order": q_pagerank_order,
        "recrawl_retention": q_recrawl_retention,
        "ip_admission": q_ip_admission,
        "crawl_visit_order": q_crawl_visit_order,
        "cross_domain_discovery": q_cross_domain_discovery,
        "av_features": q_av_features,
        "retry_ladder": q_retry_ladder,
        "cookie_markers": q_cookie_markers,
        "sitemap_scan": q_sitemap_scan,
        "xrobots_store": q_xrobots_store,
        "domain_meta_discovery": q_domain_meta_discovery,
        "content_probe": q_content_probe,
        "robots_audit": q_robots_audit,
        "stratified_sample": q_stratified_sample,
        "crawl_meta": q_crawl_meta,
        "body_cap_clip": q_body_cap_clip,
        "live_rollup": q_live_rollup,
        "balanced_sample": q_balanced_sample,
        "dedup_keep_best": q_dedup_keep_best,
    }


def oracle_sql() -> dict[str, str]:
    from marginaliasearch_spark.sources.gate_web import (
        discovery_oracle_sql,
        crawl_meta_oracle_sql,
        bodycap_oracle_sql,
        stream_oracle_sql,
        content_probe_oracle_sql,
        linkfilter_oracle_sql,
        robots_oracle_sql,
        cc_oracle_sql,
        pagerank_oracle_sql,
        domain_meta_oracle_sql,
        cookie_oracle_sql,
        sitemap_oracle_sql,
        xrobots_oracle_sql,
        order_oracle_sql,
        recrawl_oracle_sql,
        retry_oracle_sql,
    )
    from marginaliasearch_spark.sources.gate_web import oracle_sql as gate_oracle_sql
    from marginaliasearch_spark.oracle.sqlgen import (
        SIMHASH_UNION_CTE,
        compose_keepset_sql,
        minhash_exact_jaccard_sql,
        simhash_allpairs_sql,
        winnowing_fingerprint_sql,
    )

    import os as _os

    from marginaliasearch_spark.operators.sampling import hash32_sql

    h32 = hash32_sql("doc_id")
    _qp_gold = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)),
        "tests", "golden", "queryparams_diff.tsv",
    )
    _gold = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)), "tests", "golden", "url_hash64.tsv"
    )
    _html_gold = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)),
        "tests", "golden", "htmllinks_diff.tsv",
    )
    return {
        "url_hash64": f"""
            SELECT g.doc_id, g.url_hash
            FROM read_csv('{_gold}', delim='\t', header=false,
                          columns={{'doc_id': 'BIGINT', 'url_hash': 'BIGINT'}}) g
            JOIN documents d ON d.doc_id = g.doc_id
        """,
        "html_link_extract": f"""
            SELECT name AS doc_name, CAST(seq AS BIGINT) AS seq, url AS link
            FROM read_csv('{_html_gold}', delim='\t', header=false,
                          columns={{'name': 'VARCHAR', 'seq': 'VARCHAR',
                                    'url': 'VARCHAR'}})
            WHERE seq NOT IN ('ERR', 'EMPTY')
        """,
        "crawl_visited_set": gate_oracle_sql(),
        "link_filter_kinds": linkfilter_oracle_sql(),
        "queryparams_sanitize": f"""
            SELECT path, params, NULLIF(expected, '<null>') AS sanitized
            FROM read_csv('{_qp_gold}', delim='\t', header=false,
                          columns={{'path': 'VARCHAR', 'params': 'VARCHAR',
                                    'expected': 'VARCHAR'}},
                          nullstr='\x01', quote='')
        """,
        "robots_allowed": robots_oracle_sql(),
        "connected_components": cc_oracle_sql(),
        "pagerank_order": pagerank_oracle_sql(),
        "recrawl_retention": recrawl_oracle_sql(),
        "crawl_visit_order": order_oracle_sql(),
        "cross_domain_discovery": discovery_oracle_sql(),
        "retry_ladder": retry_oracle_sql(),
        "cookie_markers": cookie_oracle_sql(),
        "sitemap_scan": sitemap_oracle_sql(),
        "xrobots_store": xrobots_oracle_sql(),
        "domain_meta_discovery": domain_meta_oracle_sql(),
        "content_probe": content_probe_oracle_sql(),
        "stratified_sample": f"""
            SELECT lang, doc_id FROM documents
            WHERE {h32} < CAST(floor(CASE lang
                    WHEN 'en' THEN 0.5 * 4294967296
                    WHEN 'de' THEN 0.25 * 4294967296
                    WHEN 'fr' THEN 0.1 * 4294967296
                    ELSE 0 END) AS BIGINT)
        """,
        "crawl_meta": crawl_meta_oracle_sql(),
        "body_cap_clip": bodycap_oracle_sql(),
        "live_rollup": stream_oracle_sql(),
        "balanced_sample": f"""
            SELECT lang, doc_id FROM (
                SELECT lang, doc_id,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY {h32}, doc_id) AS rk
                FROM documents) t
            WHERE rk <= 20
        """,
        "dedup_keep_best": """
            SELECT doc_id, CAST(doc_id % 7 AS BIGINT) AS quality FROM (
                SELECT doc_id,
                       row_number() OVER (
                           PARTITION BY CASE WHEN doc_id < 200
                                             THEN doc_id % 50
                                             ELSE doc_id END
                           ORDER BY (doc_id % 7) DESC, doc_id) AS rk
                FROM documents) t
            WHERE rk = 1
        """,
        "robots_audit": """
            SELECT doc_id,
                   'ra' || CAST(v AS VARCHAR) || '.example.org' AS domain,
                   CASE WHEN v = 0 THEN 1
                        WHEN v IN (1, 2) THEN CASE WHEN k = 1 THEN 0 ELSE 1 END
                        ELSE CASE WHEN k = 2 THEN 0 ELSE 1 END
                   END AS allowed
            FROM (SELECT doc_id, doc_id % 4 AS v, doc_id % 3 AS k
                  FROM documents) t
        """,
        "mailing_list_filter": """
            SELECT doc_id, path,
                   CASE WHEN path LIKE '/lists/%' THEN 1
                        WHEN path LIKE '%mailinglist%' THEN 1
                        WHEN path LIKE '%mail-archive%' THEN 1
                        WHEN path LIKE '%mailman%' THEN 1
                        ELSE 0 END AS blocked
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % 6 = 0 THEN '/lists/dev/' || CAST(doc_id AS VARCHAR)
                            WHEN doc_id % 6 = 1 THEN '/x/mailinglist/' || CAST(doc_id AS VARCHAR)
                            WHEN doc_id % 6 = 2 THEN '/mail-archive/msg' || CAST(doc_id AS VARCHAR)
                            WHEN doc_id % 6 = 3 THEN '/cgi/mailman/' || CAST(doc_id AS VARCHAR)
                            WHEN doc_id % 6 = 4 THEN '/late/lists/' || CAST(doc_id AS VARCHAR)
                            ELSE '/pages/p' || CAST(doc_id AS VARCHAR) || '.html' END AS path
                FROM documents) t
        """,
        "av_features": """
            SELECT printf('clip-%08d', i) AS clip_id,
                   CASE WHEN i % 2 = 0 THEN 'audio' ELSE 'video' END AS kind,
                   1 AS decode_ok,
                   CAST(CASE WHEN i % 2 = 0
                        THEN (500 + ((i // 2) % 8) * 250) * 1000
                        ELSE 0 END AS BIGINT) AS peak_mhz,
                   CASE WHEN i % 2 = 0 THEN 7 ELSE 0 END AS n_windows,
                   CASE WHEN i % 2 = 1 THEN 6 + (i % 5) ELSE 0 END AS n_frames,
                   CASE WHEN i % 2 = 1 THEN (6 + (i % 5) + 1) // 2 ELSE 0 END AS n_sampled_k2,
                   CASE WHEN i % 2 = 1 THEN (6 + (i % 5)) // 2 ELSE -1 END AS cut_idx,
                   'stub' AS codec
            FROM generate_series(0, 63) t(i)
        """,
        "doc_fingerprint": winnowing_fingerprint_sql(),
        "minhash_lsh_pairs": minhash_exact_jaccard_sql(0.6),
        "compose_training_set": compose_keepset_sql(0.6),
        "simhash_pairs": simhash_allpairs_sql(SIMHASH_UNION_CTE, 3),
        "payload_validate": """
            SELECT printf('img-%010d', i) AS image_id,
                   1 AS decode_ok, 1 AS psnr_ok,
                   1 AS caption_ok, 1 AS phash_match,
                   CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        ELSE 'stub' END AS codec
            FROM generate_series(0, 63) t(i)
        """,
        "minhash_dup_pairs": """
            WITH allv AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM allv a JOIN allv b
              ON a.doc_id < b.doc_id AND a.text = b.text
        """,
        "simhash_dup_pairs": """
            WITH allv AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM allv a JOIN allv b
              ON a.doc_id < b.doc_id AND a.text = b.text
        """,
        "ip_admission": """
            SELECT doc_id,
                   CASE k WHEN 0 THEN 'site' || n || '.example.com'
                          WHEN 1 THEN 'shop' || n || '.example.cn'
                          WHEN 2 THEN 'farm1234x' || n || '.example.com'
                          WHEN 3 THEN 'cdn' || n || '.blocked.net'
                          WHEN 4 THEN 'sub' || n || '.gray.example'
                          ELSE 'www.gray' || n || '.example' END AS domain,
                   CASE WHEN k IN (1, 2, 3, 4) THEN 1
                        WHEN length(CAST(doc_id AS VARCHAR)) >= 4
                             AND regexp_matches(CAST(doc_id AS VARCHAR), '\\d{4}')
                        THEN 1 ELSE 0 END AS blocked
            FROM (SELECT doc_id, doc_id % 6 AS k,
                         CAST(doc_id AS VARCHAR) AS n
                  FROM documents) t
        """,
        "worklog_compaction": """
            SELECT user_id,
                   event_id AS last_event_id,
                   event_type AS last_event_type
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                FROM events) t
            WHERE rn = 1
        """,
        "frontier_firstwins": """
            SELECT user_id, event_type, event_id AS first_event_id
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id, event_type ORDER BY ts, event_id) rn
                FROM events) t
            WHERE rn = 1
        """,
        "availability_classify": """
            WITH now_t AS (SELECT max(ts) AS now FROM events),
            per_user AS (
                SELECT user_id,
                       max(ts) AS last_ping,
                       max(CASE WHEN event_type = 'error' THEN ts END) AS last_error
                FROM events GROUP BY user_id)
            SELECT user_id,
                   CASE WHEN last_error IS NOT NULL
                             AND last_error > (SELECT now FROM now_t) - INTERVAL 7 DAY
                        THEN 'FLAKEY' ELSE 'REACHABLE' END AS availability
            FROM per_user
            WHERE last_ping >= (SELECT now FROM now_t) - INTERVAL 3 DAY
        """,
        "priority_topk": """
            SELECT o_orderkey, o_custkey,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS priority
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2000
        """,
        "batch_run_order": """
            SELECT domain, top_domain, sibling_count,
                   CAST(row_number() OVER (
                       ORDER BY (sibling_count >= 8) DESC,
                                md5('42|' || domain),
                                domain) AS INT) AS crawl_rank
            FROM (
                SELECT 'd' || CAST(c_custkey AS VARCHAR) || '.n' ||
                           CAST(c_nationkey AS VARCHAR) || '.example.com' AS domain,
                       'n' || CAST(c_nationkey AS VARCHAR) || '.example.com' AS top_domain,
                       count(*) OVER (PARTITION BY c_nationkey) AS sibling_count
                FROM customer) t
        """,
        "timed_run_order": """
            SELECT c_custkey, last_order,
                   CAST(row_number() OVER (
                       ORDER BY coalesce(last_order, TIMESTAMP '1970-01-01'),
                                c_custkey) AS INT) AS crawl_rank
            FROM (
                SELECT c_custkey, max(o_orderdate) AS last_order
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey) t
        """,
        "depth_growth": """
            SELECT user_id, visited,
                   least(base + 2500, CAST(floor(base * 1.5) AS BIGINT)) AS grown_depth
            FROM (
                SELECT user_id, count(*) AS visited,
                       greatest(count(*), 100) AS base
                FROM events GROUP BY user_id) t
        """,
        "spec_growth": """
            SELECT user_id,
                   least(greatest(CAST(floor(visited *
                       CASE WHEN visited < 2000 THEN 2.5 ELSE 1.25 END) AS BIGINT),
                       100), 10000) AS next_depth
            FROM (SELECT user_id, count(*) AS visited FROM events GROUP BY user_id) t
        """,
        "good_status_count": """
            SELECT event_type,
                   count(*) AS n_total,
                   CAST(sum(CASE WHEN value >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_good
            FROM events GROUP BY event_type
        """,
        "error_budget": """
            SELECT user_id, count(*) AS error_count
            FROM events WHERE event_type = 'error'
            GROUP BY user_id HAVING count(*) >= 20
        """,
        "url_canonicalize": """
            SELECT doc_id,
                   'https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com/Docs/'
                       || CAST(doc_id AS VARCHAR) || '/?id=' || CAST(doc_id AS VARCHAR)
                       AS url_canon,
                   'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain,
                   'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS top_domain,
                   'id=' || CAST(doc_id AS VARCHAR) AS param
            FROM documents
        """,
        "blocklist_filter": """
            SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0 THEN 'youtube.com' ELSE 'site.com' END AS top_domain,
                   path,
                   CASE WHEN doc_id % 11 = 0 THEN 1
                        WHEN doc_id % 5 = 0 THEN 1
                        WHEN doc_id % 5 = 1 AND length(path) > 34 THEN 1
                        WHEN doc_id % 5 = 2 THEN 1
                        ELSE 0 END AS blocked
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN '/repo/.git/obj' || CAST(doc_id AS VARCHAR)
                            WHEN doc_id % 5 = 1 THEN '/h/' || repeat('a1', 20) || CAST(doc_id AS VARCHAR)
                            WHEN doc_id % 5 = 2 THEN '/wp-content/upload/x' || CAST(doc_id AS VARCHAR)
                            ELSE '/pages/p' || CAST(doc_id AS VARCHAR) || '.html' END AS path
                FROM documents) t
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price,
                   CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(28,4))) * 10000 AS BIGINT) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_topn": """
            SELECT o_orderkey, o_custkey, revenue
            FROM orders JOIN (
                SELECT l_orderkey,
                       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                           AS DECIMAL(28,4))) * 10000 AS BIGINT) AS revenue
                FROM lineitem GROUP BY l_orderkey) r
            ON o_orderkey = r.l_orderkey
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "events_hourly_rollup": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
                   event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sessionization": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, event_id,
                       sum(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
                FROM flagged
            )
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                   count(*) AS n_events,
                   min(event_id) AS first_event_id,
                   max(event_id) AS last_event_id
            FROM sess GROUP BY user_id, session_idx
        """,
        "event_type_pivot": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM events GROUP BY user_id
        """,
        "exact_dedup": """
            SELECT md5(text) AS content_hash,
                   min(doc_id) AS doc_id,
                   count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "token_counts": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                        x -> len(x) > 0)) AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+'))
                        + length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                        AS INT) AS bpe_pieces,
                   CAST(coalesce(list_sum(list_transform(
                        list_filter(string_split_regex(text, '\\s+'),
                                    x -> len(x) > 0),
                        x -> CAST(ceil(len(x) / 4.0) AS INT))), 0)
                        AS INT) AS subword_est
            FROM documents
        """,
        "quality_ratios": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                        x -> len(x) > 0)) AS INT) AS n_words,
                   CAST(floor((length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')))
                        * 1000 / greatest(length(text), 1)) AS BIGINT) AS punct_permille,
                   CAST(floor((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
                        * 1000 / greatest(length(text), 1)) AS BIGINT) AS upper_permille
            FROM documents
        """,
        "lang_id": """
            WITH words AS (
              SELECT doc_id, lang,
                     list_distinct(string_split_regex(lower(text),
                         '[^a-zA-Zà-ÿÀ-ß]+')) AS w
              FROM documents
            ), scores AS (
              SELECT doc_id, lang,
                len(list_intersect(w, ['the','and','of','to','in','is','that','with'])) AS s_en,
                len(list_intersect(w, ['der','die','und','das','ist','nicht','mit','ein'])) AS s_de,
                len(list_intersect(w, ['le','la','les','et','est','une','dans','pour'])) AS s_fr,
                len(list_intersect(w, ['el','la','los','que','es','una','por','con'])) AS s_es
              FROM words
            )
            SELECT doc_id, lang,
              CASE WHEN greatest(s_en,s_de,s_fr,s_es) <= 0 THEN 'und'
                   WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
                   WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
                   WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
                   ELSE 'es' END AS lang_pred
            FROM scores
        """,
        "ngram_jaccard_pairs": """
            WITH words AS (
              SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
              FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
              FROM words, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)
            ), sizes AS (SELECT doc_id, count(*) n FROM grams GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
              FROM grams a JOIN grams b USING (gram)
              WHERE a.doc_id < b.doc_id GROUP BY 1,2
            )
            SELECT id_a, id_b,
              CAST(floor(n_common * 1000.0 / (sa.n + sb.n - n_common)) AS BIGINT)
                  AS jaccard_permille
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
        """,
        "near_dup_groups": """
            WITH RECURSIVE words AS (
              SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
              FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
              FROM words, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)
            ), sizes AS (SELECT doc_id, count(*) n FROM grams GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
              FROM grams a JOIN grams b USING (gram)
              WHERE a.doc_id < b.doc_id GROUP BY 1,2
            ), pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
            ), und AS (
              SELECT id_a a, id_b b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ), reach(a, b) AS (
              SELECT a, b FROM und
              UNION
              SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
            )
            SELECT a AS id, least(a, min(b)) AS component
            FROM reach GROUP BY a
        """,
        "ann_cosine_topk": """
            SELECT vec_id FROM (
                SELECT e.vec_id,
                       list_cosine_similarity(e.embedding, q.embedding) AS cosine
                FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            ) t
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        "embedding_near_dup": """
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings),
            pert AS (
                SELECT vec_id + 100000 AS vec_id, pe AS embedding FROM (
                    SELECT vec_id,
                           list_transform(CAST(embedding AS DOUBLE[]),
                               x -> x + 0.005 * sin(x * 1000 + vec_id)) AS pe
                    FROM embeddings)),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
        """,
        "ann_cosine_topk_lsh": """
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings),
            cop AS (
                SELECT c + 200000 AS vec_id,
                       list_transform(
                           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                            WHERE vec_id = 0),
                           x -> x + 0.002 * c * sin(x * 1000 + c)) AS embedding
                FROM generate_series(1, 12) t(c)),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM cop),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
                  WHERE vec_id = 0)
            SELECT vec_id FROM allv, q
            ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id
            LIMIT 10
        """,
        "ann_ivf_topk": """
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings),
            cop AS (
                SELECT c + 200000 AS vec_id,
                       list_transform(
                           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                            WHERE vec_id = 0),
                           x -> x + 0.002 * c * sin(x * 1000 + c)) AS embedding
                FROM generate_series(1, 12) t(c)),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM cop),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
                  WHERE vec_id = 0)
            SELECT vec_id FROM allv, q
            ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id
            LIMIT 10
        """,
    }
