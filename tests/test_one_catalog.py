"""One snapshot catalog: every persisted manifest in the package is
committed by ``plans/checkpoints.py::SnapshotCatalog``.  No other module
calls ``os.replace`` or writes JSON to a file (``json.dump``, or
``json.dumps`` handed to a ``write``/``write_text`` call), so the crawl
engine and the URL-seen store cannot grow private manifest writers again.

Manifests hold root-relative paths: a copied root (a URL-seen store or a
crawl run) is a store of its own, and expiring the copy leaves the
original's files alone."""

import ast
import os
import pathlib
import shutil

import pyspark.sql.functions as F
import pytest

from marginaliasearch_spark.plans import frontier_dedup
from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup
from marginaliasearch_spark.sources.synthetic_web import (
    generate_web,
    spark_schemas,
    web_to_frames,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "marginaliasearch_spark"
CATALOG = PKG / "plans" / "checkpoints.py"
FORBIDDEN = {("os", "replace"), ("json", "dump")}

MODULE_FILES = sorted(p for p in PKG.rglob("*.py") if p != CATALOG)


def _dotted(node) -> tuple:
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        return (node.value.id, node.attr)
    return ()


def _writers(tree) -> list:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in ("os", "json"):
            found += [
                (node.lineno, f"from {node.module} import {a.name}")
                for a in node.names
                if (node.module, a.name) in FORBIDDEN
            ]
        if not isinstance(node, ast.Call):
            continue
        if _dotted(node.func) in FORBIDDEN:
            found.append((node.lineno, ".".join(_dotted(node.func))))
        elif isinstance(node.func, ast.Attribute) and node.func.attr in ("write", "write_text"):
            if any(
                isinstance(a, ast.Call) and _dotted(a.func) == ("json", "dumps")
                for arg in node.args
                for a in ast.walk(arg)
            ):
                found.append((node.lineno, f"{node.func.attr}(json.dumps(...))"))
    return found


def test_the_catalog_is_a_manifest_writer():
    """The guard looks for the right thing: the catalog's own commit is
    found by it."""
    found = {what for _, what in _writers(ast.parse(CATALOG.read_text()))}
    assert found == {"os.replace", "json.dump"}


@pytest.mark.parametrize("path", MODULE_FILES, ids=lambda p: str(p.relative_to(PKG)))
def test_no_manifest_writer_outside_the_catalog(path):
    found = _writers(ast.parse(path.read_text(), filename=str(path)))
    assert not found, f"{path.relative_to(PKG)} writes a manifest outside SnapshotCatalog: {found}"


def _listing(root) -> list:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.xxhash64("id").alias("url_hash"), F.col("id").cast("string").alias("url")
    )


def test_copied_seen_store_leaves_the_template_alone(spark, tmp_path, monkeypatch):
    """Planted: the copy is driven past MAX_SEEN_PATHS through
    auto-compaction and expiry; the template's files and keys stay."""
    monkeypatch.setattr(frontier_dedup, "MAX_SEEN_PATHS", 2)
    tpl, copy = str(tmp_path / "tpl"), str(tmp_path / "copy")
    fd = FrontierDedup(spark, tpl, n_buckets=4, cuckoo_m_buckets=1 << 10)
    for i in range(2):
        fd.ingest(_keys(spark, i * 100, (i + 1) * 100))
    listing = _listing(tpl)
    keys = sorted(r["url_hash"] for r in fd.seen().collect())

    shutil.copytree(tpl, copy)
    fc = FrontierDedup(spark, copy, n_buckets=4, cuckoo_m_buckets=1 << 10)
    assert all(p.startswith(copy) for p in fc._load()["seen_paths"])
    for i in range(2, 6):
        fc.ingest(_keys(spark, i * 100, (i + 1) * 100))
    assert fc.seen().count() == 600
    assert not any(f.startswith("accepted-000000") for f in _listing(copy))  # expired

    assert _listing(tpl) == listing
    again = FrontierDedup(spark, tpl, n_buckets=4, cuckoo_m_buckets=1 << 10)
    assert sorted(r["url_hash"] for r in again.seen().collect()) == keys


def test_copied_crawl_root_leaves_the_template_alone(spark, tmp_path):
    """Planted: the copy of a half-done run is resumed, compacted and
    expired; the template's files and views stay, and it still resumes."""
    web, _ = generate_web(seed=42, n_domains=6, mean_pages=8)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    tpl, copy = str(tmp_path / "tpl"), str(tmp_path / "copy")
    eng = SparkCrawlEngine(spark, tpl, seed=42, n_buckets=4)
    eng.init_run(domains, domains.select("domain", "crawl_depth", "seed_urls"))
    eng.run_waves(pages, wave_budget=3, max_waves=2)
    listing = _listing(tpl)

    def views(e):
        return {
            t: sorted((tuple(r) for r in e.read_table(t).collect()), key=repr)
            for t in ("visits", "fetch_log", "frontier", "domain_state")
        }

    before = views(eng)
    shutil.copytree(tpl, copy)
    ec = SparkCrawlEngine(spark, copy, seed=42, n_buckets=4)
    assert views(ec) == before
    ec.run_waves(pages, wave_budget=3)
    ec.compact_wave_out()
    removed = ec.expire_snapshots(keep_last=1)
    assert removed and all(p.startswith(copy) for p in removed)

    assert _listing(tpl) == listing
    assert views(SparkCrawlEngine(spark, tpl, seed=42, n_buckets=4)) == before
