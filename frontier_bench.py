#!/usr/bin/env python
"""Frontier-scale bench — the dedup path at millions of rows.

Exercises the scale-critical pieces of the north rule on a large
generator-backed frontier (FIXTURES.md §6): Zipf-skewed domains, the
*bit-exact* URL hash computed distributed (Arrow batches over the numpy
murmur kernel), cuckoo-prefiltered anti-join dedup vs the exact anti-join,
and politeness wave selection (rank-per-domain window).

Nothing is materialized driver-side: rows derive from `spark.range(N)`
inside mapInPandas, the same ladder that reaches 10^10 by raising N.

Prints one JSON line and appends a section to BENCH.md.

Env: SPARK_GRAFT_FRONTIER_ROWS (default 10_000_000),
SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Iterator

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from bench import build_spark  # noqa: E402

N_DOMAINS = 100_000


def gen_frontier(spark, n_rows: int, parts: int, lo: int = 0):
    """Distributed deterministic frontier: (id) → (domain, url, url_hash).

    Domain sizes are Zipf-skewed (quadratic transform of a uniform hash);
    the url_hash is the real reference hash via the vectorized kernel.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("domain", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("url_hash", T.LongType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("seq", T.LongType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from marginaliasearch_spark.canon.murmur import hash_url_parts_batch

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            # uniform hash of id → quadratic skew → Zipf-ish domain sizes
            u = ((ids * 2654435761) % (1 << 31)) / float(1 << 31)
            dom_ids = (N_DOMAINS * u * u).astype(np.int64)
            domains = [f"site{d}.example.com" for d in dom_ids]
            paths = [f"/p/{i}" for i in ids]
            hashes = hash_url_parts_batch(domains, paths, [None] * len(ids))
            yield pd.DataFrame(
                {
                    "id": ids,
                    "domain": domains,
                    "url": [f"https://{d}{p}" for d, p in zip(domains, paths)],
                    "url_hash": hashes,
                    "bucket": (dom_ids % 64).astype(np.int32),
                    "seq": ids,
                }
            )

    return spark.range(lo, lo + n_rows).repartition(parts).mapInPandas(gen, schema)


def main() -> None:
    n_rows = int(os.environ.get("SPARK_GRAFT_FRONTIER_ROWS", "10000000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from marginaliasearch_spark.operators.cuckoo import (
        build_cuckoo_per_bucket,
        cuckoo_anti_join,
    )

    spark = build_spark(cpus)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    parts = cpus * 2

    t0 = time.perf_counter()
    frontier = gen_frontier(spark, n_rows, parts).cache()
    n = frontier.count()
    t_gen = time.perf_counter() - t0

    seen = frontier.select("bucket", "url_hash")
    # realistic discovery regime: a wave's candidate batch is a small
    # fraction of the historical seen-set (~5% here), ~half already seen —
    # the exact join must shuffle ALL of seen every wave; the cuckoo path
    # probes candidates and only scans seen for the maybe-positives
    n_cand = max(n_rows // 20, 10_000)
    cand_lo = n_rows - n_cand // 2
    cands = gen_frontier(spark, n_cand, parts, lo=cand_lo).select(
        "bucket", "url_hash", "url"
    ).cache()
    n_cands = cands.count()

    t0 = time.perf_counter()
    exact_new = cands.join(seen.select("url_hash"), "url_hash", "left_anti").count()
    t_exact = time.perf_counter() - t0

    # snapshot-amortized path: filters are maintained incrementally across
    # waves (cuckoo_insert_new_keys), so the steady-state wave cost is the
    # probe
    t0 = time.perf_counter()
    cfilters = build_cuckoo_per_bucket(seen).cache()
    cfilters.count()
    t_cbuild = time.perf_counter() - t0

    transients: list = []
    t0 = time.perf_counter()
    cuckoo_new = cuckoo_anti_join(
        cands, seen, filters=cfilters, transients=transients
    ).count()
    t_cuckoo = time.perf_counter() - t0
    assert cuckoo_new == exact_new, (cuckoo_new, exact_new)
    for df in transients:  # release the probe intermediate (result counted)
        df.unpersist()

    # politeness wave selection: first 5 queued URLs per domain
    t0 = time.perf_counter()
    w = Window.partitionBy("domain").orderBy("seq")
    wave = frontier.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    n_wave = wave.count()
    t_wave = time.perf_counter() - t0

    result = {
        "metric": "frontier-scale dedup + wave selection (generator-backed, real hash kernel)",
        "rows": n,
        "cpus": cpus,
        "gen_hash_sec": round(t_gen, 2),
        "gen_hash_urls_per_sec": round(n / t_gen, 0),
        "candidates": n_cands,
        "exact_antijoin_sec": round(t_exact, 2),
        "dedup_rows_per_sec_exact": round(n_cands / t_exact, 0),
        "cuckoo_build_sec": round(t_cbuild, 2),
        "cuckoo_antijoin_sec": round(t_cuckoo, 2),
        "dedup_rows_per_sec_cuckoo": round(n_cands / t_cuckoo, 0),
        "new_urls": exact_new,
        "wave_selection_sec": round(t_wave, 2),
        "wave_rows": n_wave,
    }
    print(json.dumps(result))

    md = (
        "\n## Frontier-scale dedup bench\n\n"
        f"{n:,}-row generator-backed frontier (Zipf-skewed over {N_DOMAINS:,} "
        "domains), bit-exact URL hashes computed distributed:\n\n"
        f"- generate+hash: {t_gen:.1f}s ({n / t_gen:,.0f} URLs/s)\n"
        f"- exact anti-join dedup ({n_cands:,} candidates, ~50% already seen, vs {n:,} seen; "
        f"full seen-set shuffled): {t_exact:.1f}s ({n_cands / t_exact:,.0f} URLs deduped/s) "
        f"→ {exact_new:,} new\n"
        f"- Cuckoo build (16-bit fp, 4-slot buckets; once, then incremental "
        f"inserts per snapshot): {t_cbuild:.1f}s\n"
        f"- Cuckoo-cogrouped anti-join (steady-state wave cost; seen scanned, "
        f"never shuffled; FPR ~0.01%; supports forget()): "
        f"{t_cuckoo:.1f}s ({n_cands / t_cuckoo:,.0f} URLs deduped/s; result identical)\n"
        f"- politeness wave selection (top-5 per domain window): {t_wave:.1f}s\n"
    )
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.md"), "a") as f:
        f.write(md)
    spark.stop()


if __name__ == "__main__":
    main()
