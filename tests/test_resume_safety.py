"""Snapshot/resume safety regressions: re-init over a used out_dir, resume
with a different bucket config, and fault-barrier lineage preservation."""

import json
import os

import pyspark.sql.functions as F

from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.sources.synthetic_web import (
    generate_web,
    spark_schemas,
    web_to_frames,
)

SEED = 42


def _frames(spark, n_domains=6, mean_pages=8):
    web, _ = generate_web(seed=SEED, n_domains=n_domains, mean_pages=mean_pages)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    return (
        spark.createDataFrame(pages_pdf, schema=ps),
        spark.createDataFrame(domains_pdf, schema=ds),
    )


def _visits(e):
    return sorted((r["domain"], r["url"]) for r in e.read_table("visits").collect())


def test_reinit_over_used_outdir_starts_clean(spark, tmp_path):
    pages, domains = _frames(spark)
    specs = domains.select("domain", "crawl_depth", "seed_urls")
    out = str(tmp_path / "r")

    e1 = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e1.init_run(domains, specs)
    e1.run_waves(pages, wave_budget=5, max_waves=3)  # leave mid-run snapshots

    # the natural rerun gesture: same out dir, fresh init
    e2 = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e2.init_run(domains, specs)
    e2.run_waves(pages, wave_budget=None)

    # a pristine-dir run must be identical — no stale wave_out paths leaking
    g = SparkCrawlEngine(spark, str(tmp_path / "g"), seed=SEED, n_buckets=4)
    g.init_run(domains, specs)
    g.run_waves(pages, wave_budget=None)
    assert _visits(e2) == _visits(g)
    # and snapshot 0 of the re-init claims no prior wave data
    m0 = e2.catalog.load(0)
    assert m0["tables"]["wave_out"] == []


def test_resume_adopts_persisted_bucket_layout(spark, tmp_path):
    pages, domains = _frames(spark)
    specs = domains.select("domain", "crawl_depth", "seed_urls")
    out = str(tmp_path / "b")

    e1 = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e1.init_run(domains, specs)
    e1.run_waves(pages, wave_budget=5, max_waves=2)  # interrupted

    # resume with a DIFFERENT constructor n_buckets (the default-config
    # trap); the engine must adopt the persisted layout
    e2 = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=32)
    assert e2.n_buckets == 4
    e2.run_waves(pages, wave_budget=5)

    g = SparkCrawlEngine(spark, str(tmp_path / "g"), seed=SEED, n_buckets=4)
    g.init_run(domains, specs)
    g.run_waves(pages, wave_budget=5)
    assert _visits(e2) == _visits(g)


def test_fault_barrier_preserves_frontier_lineage(spark, tmp_path):
    pages, domains = _frames(spark)
    specs = domains.select("domain", "crawl_depth", "seed_urls")
    out = str(tmp_path / "f")

    e = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e.init_run(domains, specs)
    e.run_waves(pages, wave_budget=5, max_waves=1)

    fr_before = e.read_table("frontier")
    victim = fr_before.groupBy("domain").count().orderBy(F.desc("count")).first()["domain"]
    rows_before = fr_before.filter(
        (F.col("domain") == victim) & (F.col("state") != "QUEUED")
    ).count()
    assert rows_before > 0

    # corrupt the victim's persisted state_json (its latest domain_state
    # row, in wave_out) so the next wave's UDF throws and the per-domain
    # fault barrier fires
    dpath = os.path.join(e.catalog.paths("wave_out")[-1], "row_kind=domain_state")
    ds = spark.read.parquet(dpath)
    mangled = ds.withColumn(
        "state_json",
        F.when(F.col("domain") == victim, F.lit("{not json")).otherwise(
            F.col("state_json")
        ),
    )
    tmp_out = str(tmp_path / "mangled")
    mangled.write.mode("overwrite").parquet(tmp_out)
    import shutil

    shutil.rmtree(dpath)
    shutil.copytree(tmp_out, dpath)

    e2 = SparkCrawlEngine(spark, out, seed=SEED, n_buckets=4)
    e2.run_waves(pages, wave_budget=5)

    phases = {r["domain"]: r["phase"] for r in e2.read_table("domain_state").collect()}
    assert phases[victim] == "error"
    # the accumulated seen/REFUSED lineage survives the fault
    rows_after = (
        e2.read_table("frontier")
        .filter((F.col("domain") == victim) & (F.col("state") != "QUEUED"))
        .count()
    )
    assert rows_after >= rows_before
