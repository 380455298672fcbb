"""Link-graph operators: PageRank vs a numpy power-iteration oracle,
connected components vs a union-find oracle, edges emitted by the crawl."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.operators.graph import (
    connected_components,
    dedup_groups_from_pairs,
    domain_pagerank_priority,
    pagerank,
)


def _numpy_pagerank(edges, n_nodes, iterations=10, d=0.85):
    """Reference power iteration matching the operator's update rule."""
    out_deg = np.zeros(n_nodes)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.ones(n_nodes)
    for _ in range(iterations):
        contrib = np.zeros(n_nodes)
        for s, t in edges:
            contrib[t] += r[s] / out_deg[s]
        linked_mass = r[out_deg > 0].sum()
        dangling = n_nodes - linked_mass
        r = (1 - d) + d * dangling / n_nodes + d * contrib
    return r


def test_pagerank_matches_numpy(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=10).collect()}
    want = _numpy_pagerank(edges, 4, iterations=10)
    for node in range(4):
        assert got[node] == pytest.approx(want[node], rel=1e-9), node
    # the hub (node 2) outranks everything
    assert got[2] == max(got.values())


def test_connected_components_vs_union_find(spark):
    rng = np.random.default_rng(5)
    ids = np.arange(200)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 200, size=(150, 2)) if a != b]

    # union-find oracle
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical component = min member id
    members: dict = {}
    touched = {x for p in pairs for x in p}
    for x in touched:
        members.setdefault(find(x), set()).add(x)
    want = {}
    for comp in members.values():
        m = min(comp)
        for x in comp:
            want[x] = m

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


def _union_find_labels(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict = {}
    for x in list(parent):
        members.setdefault(find(x), set()).add(x)
    want = {}
    for comp in members.values():
        m = min(comp)
        for x in comp:
            want[x] = m
    return want


def test_connected_components_contraction_path(spark):
    """The large-graph mixed-key contraction rounds (forced via a tiny
    rows_per_task) must agree with a union-find oracle — including long
    chains, which need multiple contraction rounds — and with the
    single-task path."""
    rng = np.random.default_rng(11)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 300, size=(200, 2)) if a != b]
    pairs += [(1000 + i, 1000 + i + 1) for i in range(400)]  # a 400-chain
    want = _union_find_labels(pairs)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    single = {r["id"]: r["component"] for r in connected_components(df).collect()}
    multi = {
        r["id"]: r["component"]
        for r in connected_components(df, rows_per_task=50).collect()
    }
    assert single == want
    assert multi == want


def test_connected_components_warns_when_iterations_run_out(spark):
    """The 400-chain cannot contract to its fixpoint in one round: the
    capped loop must say so instead of returning plausible labels."""
    pairs = [(1000 + i, 1000 + i + 1) for i in range(400)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="no fixpoint after 1"):
        connected_components(df, rows_per_task=50, max_iterations=1).collect()


def test_connected_components_rejects_string_ids(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    with pytest.raises(TypeError, match="integral ids"):
        connected_components(df)


def test_numpy_cc_kernel():
    """The in-task kernel alone: chain, ring, clique, self-loop, dup edges."""
    from marginaliasearch_spark.operators.graph import _numpy_cc

    edges = [(i, i + 1) for i in range(100)]          # chain
    edges += [(500 + i, 500 + (i + 1) % 40) for i in range(40)]  # ring
    edges += [(900, 901), (901, 902), (900, 902), (900, 900), (902, 901)]
    want = _union_find_labels(edges)
    a = np.array([e[0] for e in edges])
    b = np.array([e[1] for e in edges])
    nodes, roots = _numpy_cc(a, b)
    assert {int(n): int(r) for n, r in zip(nodes, roots)} == want


def test_dedup_groups(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    groups = {r["component"]: (list(r["member_ids"]), r["group_size"])
              for r in dedup_groups_from_pairs(pairs).collect()}
    assert groups[1] == ([1, 2, 3], 3)
    assert groups[10] == ([10, 11], 2)


def test_crawl_emits_edges_and_domain_priority(spark, tmp_path):
    from marginaliasearch_spark.plans.crawl import SparkCrawlEngine
    from marginaliasearch_spark.sources.synthetic_web import (
        generate_web,
        spark_schemas,
        web_to_frames,
    )

    web, _ = generate_web(seed=42, n_domains=8, mean_pages=10)
    pages_pdf, domains_pdf = web_to_frames(web)
    ps, ds = spark_schemas()
    pages = spark.createDataFrame(pages_pdf, schema=ps)
    domains = spark.createDataFrame(domains_pdf, schema=ds)
    specs = domains.select("domain", "crawl_depth", "seed_urls")
    engine = SparkCrawlEngine(spark, str(tmp_path / "g"), seed=42, n_buckets=4)
    engine.init_run(domains, specs)
    engine.run_waves(pages, wave_budget=None)

    edges = engine.read_table("edges")
    assert edges is not None
    n_edges = edges.count()
    assert n_edges > 50
    # cross-domain edges exist in the graph even though the frontier drops them
    dom = F.regexp_extract(F.col("src"), r"^[a-z]+://([^/]+)", 1)
    dom2 = F.regexp_extract(F.col("dst"), r"^[a-z]+://([^/]+)", 1)
    assert edges.filter(dom != dom2).count() > 0

    pr = domain_pagerank_priority(edges).collect()
    assert len(pr) > 1
    assert all(r["priority"] > 0 for r in pr)


def test_cc_gate_oracle_matches_union_find():
    """The connected_components gate's recursive-closure oracle equals a
    union-find ground truth over the planted shape mix — pins the fixture
    and the oracle SQL independently of the Spark operator."""
    import duckdb

    from marginaliasearch_spark.sources.gate_web import (
        cc_oracle_sql,
        generate_cc_fixture,
    )

    rows = dict(duckdb.sql(cc_oracle_sql()).fetchall())
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for e in generate_cc_fixture():
        ra, rb = find(e["id_a"]), find(e["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {x: find(x) for x in parent}
    assert rows == truth


def test_pagerank_gate_order_is_strict():
    """The pagerank gate's planted order is reproduced by an independent
    numpy power iteration with the same update rule, with a wide margin
    between adjacent positions (no tie fragility)."""
    import numpy as np

    from marginaliasearch_spark.sources.gate_web import (
        PR_N_HUBS,
        generate_pagerank_fixture,
    )

    edges, expected = generate_pagerank_fixture()
    nodes = sorted({e["src"] for e in edges} | {e["dst"] for e in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out: dict = {}
    for e in edges:
        out[e["src"]] = out.get(e["src"], 0) + 1
    rank = np.ones(n)
    for _ in range(10):
        contrib = np.zeros(n)
        dangling = sum(rank[idx[v]] for v in nodes if v not in out)
        for e in edges:
            contrib[idx[e["dst"]]] += rank[idx[e["src"]]] / out[e["src"]]
        rank = (1 - 0.85) + 0.85 * dangling / n + 0.85 * contrib
    order = sorted(
        (v for v in nodes if v <= PR_N_HUBS), key=lambda v: (-rank[idx[v]], v)
    )
    got = sorted(
        ({"node": v, "pos": i + 1} for i, v in enumerate(order)),
        key=lambda r: r["node"],
    )
    assert got == sorted(expected, key=lambda r: r["node"])
    ranked = sorted((rank[idx[v]] for v in order), reverse=True)
    gaps = [a - b for a, b in zip(ranked, ranked[1:])]
    assert min(gaps) > 0.1  # no near-ties anywhere in the planted order
