"""Live-crawl analogue on Structured Streaming.

The reference's live crawler is a micro-batch RSS poller with "no concept
of a crawl frontier" (ref: code/processes/live-crawling-process/java/nu/
marginalia/livecrawler/SimpleLinkScraper.java:34-120): it receives feed
items, skips URLs already present in the main crawl data, applies robots
and the blocklist, fetches politely, and appends to the live table.

Spark-first mapping: a ``readStream`` of feed items →
canonicalize+hash (Arrow UDF) → *stream-static left-anti
join* against the frontier seen-set (the already-crawled skip) →
blocklist Column filter → sink.  A watermarked tumbling-window rollup
gives per-domain ingest metrics with late-data tolerance.

Sinks use ``foreachBatch`` so each micro-batch lands as an atomic
parquet append — the streaming counterpart of the wave snapshot.

``polite_schedule`` is the package's one pandas boundary: its pandas-free
4.1 successor ``transformWithState`` needs the RocksDB state-store
provider in the session conf, which this operator does not own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import canonicalize
from ..operators.blocklist import blocked_col

FEED_ITEM_SCHEMA = "ts timestamp, feed_domain string, url string, title string"


def live_candidates(feed_items: DataFrame, seen: DataFrame) -> DataFrame:
    """feed items → canonicalized, deduped (vs the static seen-set),
    blocklist-filtered candidates.  Works identically on a static or a
    streaming ``feed_items`` DataFrame (stream-static anti-join is
    supported natively by Structured Streaming)."""
    c = feed_items.withColumn("c", canonicalize(F.col("url")))
    enriched = c.select(
        "ts",
        "feed_domain",
        "url",
        "title",
        F.col("c.url_canon").alias("url_canon"),
        F.col("c.domain").alias("domain"),
        F.col("c.top_domain").alias("top_domain"),
        F.col("c.path").alias("path"),
        F.col("c.url_hash").alias("url_hash"),
    ).filter(F.col("url_canon").isNotNull())

    deduped = enriched.join(
        seen.select("url_hash").distinct(), "url_hash", "left_anti"
    )
    return deduped.filter(~blocked_col(F.col("top_domain"), F.col("path")))


def ingest_rollup(candidates: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Watermarked per-domain tumbling-window ingest counts (late data up
    to 10 minutes)."""
    return (
        candidates.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window).alias("w"), "domain")
        .agg(F.count("*").alias("n_new_urls"))
        .select(F.col("w.start").alias("bucket_start"), "domain", "n_new_urls")
    )


def polite_schedule(candidates: DataFrame, delay_ms: int = 1000) -> DataFrame:
    """Custom stateful streaming operator: per-domain politeness scheduling
    via ``applyInPandasWithState``.

    State per domain = the virtual next-allowed fetch time; each micro-batch
    assigns every candidate URL a ``scheduled_ms`` ≥ state, spaced
    ``delay_ms`` apart (the CrawlDelayTimer cadence), and persists the new
    watermark into the group state.  This is the streaming counterpart of
    the batch engine's per-domain serialized fetch loop.

    Works on a streaming DataFrame (update mode); on a static frame use the
    batch engine instead.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "domain string, url_canon string, url_hash long, scheduled_ms long"
    state_schema = "next_allowed_ms long"

    def schedule(key, pdfs, state):
        (domain,) = key
        next_allowed = state.get[0] if state.exists else 0
        rows = {"domain": [], "url_canon": [], "url_hash": [], "scheduled_ms": []}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "url_canon"])
            for _, r in pdf.iterrows():
                rows["domain"].append(domain)
                rows["url_canon"].append(r["url_canon"])
                rows["url_hash"].append(int(r["url_hash"]))
                rows["scheduled_ms"].append(int(next_allowed))
                next_allowed += delay_ms
        state.update((int(next_allowed),))
        yield pd.DataFrame(rows)

    return (
        candidates.select("domain", "ts", "url_canon", "url_hash")
        .groupBy("domain")
        .applyInPandasWithState(
            schedule,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_live_sink(candidates: DataFrame, out_path: str, checkpoint: str):
    """Exactly-once parquet sink via foreachBatch: each epoch lands in its
    own ``epoch=N`` directory through a write-to-temp + atomic-rename, and
    a retried epoch (foreachBatch is at-least-once) is a no-op because the
    directory already exists — no duplicate rows on micro-batch retry.

    The commit step uses driver-local rename, i.e. ``out_path`` must be a
    locally-mounted filesystem visible to both driver and executors —
    ENFORCED below (local master + local path), not just documented: on a
    multi-node cluster the executors' tmp parquet would land where the
    driver's os.rename cannot see it and the sink would corrupt silently.
    On HDFS/S3 swap the exists/rename pair for the Hadoop FileSystem API
    (or an Iceberg append with epoch_id as the idempotency key) — the
    structure of the sink does not change."""
    import os

    master = candidates.sparkSession.conf.get("spark.master", "")
    if not master.startswith("local"):
        raise ValueError(
            f"start_live_sink requires a local master (driver-side rename "
            f"commit); got spark.master={master!r} — use the Hadoop "
            f"FileSystem API / Iceberg append sink on a cluster"
        )
    if "://" in out_path and not out_path.startswith("file://"):
        raise ValueError(
            f"start_live_sink requires a local filesystem out_path; got "
            f"{out_path!r}"
        )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        final = os.path.join(out_path, f"epoch={epoch_id}")
        if os.path.exists(final):
            return  # retried epoch — already committed
        tmp = os.path.join(out_path, f"_tmp-epoch-{epoch_id}")
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(final):
                raise

    return (
        candidates.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(write_batch)
        .start()
    )
