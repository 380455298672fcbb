"""Physical-plan regression tests: the properties PLANS.md documents must
survive refactors — pushdown reaches the scan, small dims broadcast,
pure-Column operators stay out of Python, LSH pruning precedes arithmetic."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _names(node) -> set:
    """Node names of a physical plan subtree (an adaptive plan counts as
    its current plan)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        return _names(node.executedPlan())
    out = {node.nodeName()}
    for c in _children(node):
        out |= _names(c)
    return out


def _nodes(node, name: str) -> list:
    """Every node called ``name`` in a physical plan tree."""
    if node.nodeName() == "AdaptiveSparkPlan":
        return _nodes(node.executedPlan(), name)
    found = [node] if node.nodeName() == name else []
    for c in _children(node):
        found += _nodes(c, name)
    return found


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only 3 columns reach the scan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate" in plan


def test_broadcast_join_for_dimension(spark):
    dim = spark.createDataFrame([(1, "x")], "o_custkey long, seg string")
    j = spark.read.parquet(f"{SF}/orders.parquet").join(F.broadcast(dim), "o_custkey")
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_blocklist_is_pure_column_plan(spark):
    """The blocklist must compile to JVM expressions — no Python eval."""
    import __spark_entry__ as E

    plan = _plan(E.q_blocklist_filter(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "codegen id" in plan  # whole-stage codegen spans the filter stack


def test_simhash_exact_check_is_jvm_side(spark):
    """Signatures via Arrow UDF once; the hamming check is bit_count(xor)
    in codegen, and candidate joins are equi-joins (no cartesian)."""
    from marginaliasearch_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    transients: list = []
    plan = _plan(simhash_pairs(docs, transients=transients))
    for df in transients:
        df.unpersist()
    assert "ArrowEvalPython" in plan  # signature computation
    assert "bit_count" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject, not a full sort."""
    import __spark_entry__ as E

    plan = _plan(E.q_priority_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_aggregation(spark):
    import __spark_entry__ as E

    plan = _plan(E.q_q1_pricing_summary(spark, SF))
    # map-side partial + final agg = two HashAggregate operators
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_cuckoo_anti_join_plan(spark):
    """Cuckoo admission (round 5): the exact-check joins on the small
    maybe-positive key set must be broadcast, the per-bucket filter
    build/probe must be cogrouped Arrow stages, and the seen-set must
    never appear on the build side of a shuffled join."""
    import numpy as np

    from marginaliasearch_spark.operators.cuckoo import cuckoo_anti_join

    rng = np.random.default_rng(1)
    seen = spark.createDataFrame(
        [(int(k), int(k % 4)) for k in rng.integers(0, 2**40, 2000)],
        "url_hash long, bucket int",
    )
    cand = spark.createDataFrame(
        [(int(k), int(k % 4), "u") for k in rng.integers(0, 2**40, 500)],
        "url_hash long, bucket int, url string",
    )
    transients: list = []
    out = cuckoo_anti_join(cand, seen, transients=transients)
    plan = _plan(out)
    # the exact check's broadcast build sides read the persisted probe
    # output directly: no aggregate and no shuffle on that branch
    exact_check = [
        b for b in _nodes(out._jdf.queryExecution().executedPlan(), "BroadcastExchange")
        if "InMemoryTableScan" in _names(b)
    ]
    for df in transients:
        df.unpersist()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "FlatMapCoGroupsInArrow" in plan
    assert "InPandas" not in plan
    assert "SortMergeJoin" not in plan  # seen is never shuffle-joined
    assert exact_check
    for b in exact_check:
        assert not {"HashAggregate", "Exchange"} & _names(b)


def test_domain_state_read_aggregates_integers_only(spark, tmp_path):
    """The merge-on-read domain_state view aggregates only the wave numbers
    per domain (a hash aggregate); phase/state_json come through the
    broadcast (domain, wave) pin, so no frontier row is sorted and no
    state string is aggregated."""
    from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
    from marginaliasearch_spark.sources.synthetic_web import (
        generate_web,
        spark_schemas,
        web_to_frames,
    )

    web, _ = generate_web(seed=7, n_domains=4, mean_pages=6)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    eng = SparkCrawlEngine(spark, str(tmp_path / "run"), seed=7, n_buckets=4)
    eng.init_run(domains, domains.select("domain", "crawl_depth", "seed_urls"))
    assert eng.run_waves(pages, wave_budget=2, max_waves=2) == 2

    state = eng.read_table("domain_state")
    names = _names(state._jdf.queryExecution().executedPlan())
    assert "SortAggregate" not in names
    assert "HashAggregate" in names
    assert "BroadcastHashJoin" in names
