#!/usr/bin/env python
"""Per-stage breakdown bench (guide §1.1/§1.4): isolates the pieces of the
expensive bench rows with the noop sink so each sub-plan is timed on its
own.  Does NOT replace bench.py (which is frozen for measurement) — this
is the diagnostic harness whose numbers OPTIMIZATION_r06.md cites.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [row ...]
Rows: minhash, compose, simhash, revenue, crawl
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"  {label:46s} {dt:7.3f}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    return out, dt


def docs_with_copies(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.9) as int))").alias(
            "text"
        ),
    )
    return docs.unionByName(copies)


def breakdown_minhash(spark, sf_dir):
    from pyspark.sql import functions as F

    from marginaliasearch_spark.operators.dedup import minhash_lsh_pairs, with_minhash

    print("== minhash_lsh_pairs breakdown ==")
    allv = docs_with_copies(spark, sf_dir)
    timed(spark, "input: union scan only", lambda: noop(allv))
    sig = with_minhash(allv, "text").select("doc_id", "minhash")
    timed(spark, "signatures (with_minhash, noop)", lambda: noop(sig))
    sigp = sig.persist()
    timed(spark, "signatures persist+count", lambda: sigp.count())
    timed(spark, "signatures reread from cache", lambda: noop(sigp))
    sigp.unpersist()
    pairs = minhash_lsh_pairs(allv, jaccard_threshold=0.6)
    timed(spark, "full minhash_lsh_pairs count", lambda: pairs.count())
    spark.catalog.clearCache()


def breakdown_compose(spark, sf_dir):
    from pyspark.sql import functions as F

    from marginaliasearch_spark.operators.dedup import minhash_lsh_pairs
    from marginaliasearch_spark.operators.graph import connected_components
    from marginaliasearch_spark.operators.sampling import dedup_keep_best
    from marginaliasearch_spark.plans.corpus_pipeline import compose_training_set

    print("== compose_pathological breakdown ==")
    boiler = F.lit(
        " copyright example site all rights reserved navigation home about contact"
    )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.concat(F.col("text"), boiler).alias("text"))
    )
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.9) as int))").alias(
            "text"
        ),
    )
    enriched = docs.unionByName(copies).select(
        "doc_id",
        "text",
        F.length("text").cast("long").alias("quality_score"),
        F.lit(0).alias("is_dup_copy"),
    )
    base = enriched.filter(F.col("is_dup_copy") == 0).withColumn(
        "_id", F.col("doc_id").cast("long")
    )
    sub = base.select(F.col("_id").alias("doc_id"), "text")
    pairs, _ = timed(
        spark,
        "pairs: minhash_lsh_pairs build+count",
        lambda: (lambda p: (p, p.count()))(
            minhash_lsh_pairs(sub, jaccard_threshold=0.6)
        )[0:2][0],
    )
    pc = pairs.persist()
    pc.count()
    groups, _ = timed(
        spark,
        "connected_components over pairs",
        lambda: (lambda g: (g, g.count()))(connected_components(pc))[0],
    )
    timed(
        spark,
        "dedup_keep_best window",
        lambda: dedup_keep_best(base, groups, quality_col="quality_score", id_col="_id").count(),
    )
    pc.unpersist()
    spark.catalog.clearCache()
    timed(
        spark,
        "FULL compose_training_set",
        lambda: compose_training_set(
            enriched, near_dup_threshold=0.6, id_col="doc_id"
        ).count(),
    )
    spark.catalog.clearCache()


def breakdown_simhash(spark, sf_dir):
    from pyspark.sql import functions as F

    from marginaliasearch_spark.operators.dedup import simhash_pairs, with_simhash

    print("== simhash_pairs breakdown ==")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").rlike(r"\A[ -~]*\z"))
        .select("doc_id", "text")
    )
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    allv = docs.unionByName(copies)
    sig = with_simhash(allv).select("doc_id", "simhash")
    timed(spark, "signatures (with_simhash, noop)", lambda: noop(sig))
    transients: list = []
    pairs = simhash_pairs(allv, max_hamming=3, transients=transients)
    timed(spark, "full simhash_pairs count", lambda: pairs.count())
    for df in transients:
        df.unpersist()
    spark.catalog.clearCache()


def breakdown_cc(spark, sf_dir):
    """Scale-adaptive CC on the pathological pair graph: wall + Spark
    job count."""
    from pyspark.sql import functions as F

    from marginaliasearch_spark.operators.dedup import minhash_lsh_pairs
    from marginaliasearch_spark.operators.graph import connected_components

    print("== connected_components breakdown (pathological pairs) ==")
    boiler = F.lit(
        " copyright example site all rights reserved navigation home about contact"
    )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.concat(F.col("text"), boiler).alias("text"))
    )
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.9) as int))").alias(
            "text"
        ),
    )
    pairs = minhash_lsh_pairs(
        docs.unionByName(copies), jaccard_threshold=0.6
    ).persist()
    print(f"  pairs: {pairs.count()}")
    sc = spark.sparkContext
    label = "connected_components"
    sc.setJobGroup(label, label)
    t0 = time.perf_counter()
    n = connected_components(pairs).count()
    dt = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(label))
    sc.setJobGroup(None, None)
    print(f"  {label:46s} {dt:7.3f}s  rows={n}  spark_jobs={jobs}")
    pairs.unpersist()
    spark.catalog.clearCache()


def breakdown_revenue(spark, sf_dir):
    from pyspark.sql import functions as F

    import __spark_entry__ as E

    print("== revenue_topn breakdown ==")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    timed(spark, "lineitem full scan (noop)", lambda: noop(li))
    timed(
        spark,
        "lineitem 3-col scan (noop)",
        lambda: noop(li.select("l_orderkey", "l_extendedprice", "l_discount")),
    )
    rev = E.q_revenue_topn(spark, sf_dir)
    timed(spark, "full revenue_topn count", lambda: rev.count())
    print(rev._jdf.queryExecution().explainString("formatted")[:4000])


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    import bench as B

    spark = B.build_spark(cpus)
    spark.sparkContext.setLogLevel("WARN")

    # same warm-up as bench.py
    def _noop_it(it):
        yield from it

    spark.range(cpus * 2).repartition(cpus).mapInPandas(_noop_it, "id long").count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()

    rows = sys.argv[1:] or ["minhash", "compose", "simhash", "revenue", "cc"]
    fns = {
        "minhash": breakdown_minhash,
        "compose": breakdown_compose,
        "simhash": breakdown_simhash,
        "revenue": breakdown_revenue,
        "cc": breakdown_cc,
    }
    for r in rows:
        fns[r](spark, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
