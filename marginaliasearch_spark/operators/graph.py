"""Link-graph operators over the crawl's edges table.

The reference keeps the link graph only inside the frontier (SURVEY §1.1);
we materialize it as (src, dst) rows and provide the two classic iterative
operators a crawl pipeline builds on it:

- ``pagerank`` — damped PageRank via iterative join+agg (the NDP priority
  analogue: the new-domain queue orders candidates by a priority score —
  DomainTestingQueue.java:105-112; link-derived rank is the natural
  source of that score);
- ``connected_components`` — min-id components by local contraction,
  used to collapse near-duplicate *pairs* (minhash/simhash/phash output)
  into dedup groups.

Scale notes: each iteration is one shuffle on the join key; intermediate
lineage is cut every few iterations (localCheckpoint) so plans stay flat;
convergence is detected with an aggregate, not a collect of the data.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """PageRank over an edge list → (node, rank).

    Dangling nodes (no out-links) redistribute uniformly, folded into the
    teleport term the standard way: rank = (1-d + d·dangling_mass)/N +
    d·Σ in(rank/out_degree) — with ranks kept sum≈N normalized.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct().cache()
    n = nodes.count()
    if n == 0:
        out = nodes.withColumn("rank", F.lit(0.0)).localCheckpoint()
        nodes.unpersist()
        return out

    out_deg = e.groupBy("src").agg(F.count("*").alias("out_degree"))
    ranks = nodes.withColumn("rank", F.lit(1.0))

    cached: list = []
    for i in range(iterations):
        # ranks is referenced exactly ONCE per iteration (the contribs
        # join) so the lazy plan grows linearly, not 2^k, between
        # checkpoints.  The dangling mass needs no second pass:
        # Σ_dst in_rank = Σ_src rank/out_degree · out_degree = the total
        # rank of nodes WITH out-links, so linked_mass falls out of the
        # contribs aggregate itself (broadcast 1-row, no driver collect).
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .join(out_deg, "src")
            .select("dst", (F.col("rank") / F.col("out_degree")).alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_rank"))
            .persist()  # two consumers (join + mass agg); tiny: ≤ |nodes| rows
        )
        cached.append(contribs)
        linked = contribs.agg(
            F.coalesce(F.sum("in_rank"), F.lit(0.0)).alias("linked_mass")
        )
        base = (
            F.lit(1.0 - damping)
            + F.lit(damping) * (F.lit(float(n)) - F.col("linked_mass")) / F.lit(float(n))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(F.broadcast(linked))
            .select(
                "node",
                (base + F.lit(damping) * F.coalesce(F.col("in_rank"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()  # cut lineage: plans stay flat
            for c in cached:
                c.unpersist()
            cached = []
    ranks = ranks.localCheckpoint()  # materialize before releasing caches
    for c in cached:
        c.unpersist()
    nodes.unpersist()
    return ranks


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    rows_per_task: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected pair list → (id, component)
    where component = min id in the component.

    Scale-adaptive contraction (optimization guide §1.2/§2.4 — fix the
    distributed algorithm, remove shuffles outright):

    - The edge projection is cached and COUNTED once (the count doubles
      as the materialization action the old seed-label aggregation
      performed, so an expensive upstream pair pipeline still runs
      exactly once).
    - Small graphs (≤ ``rows_per_task`` edges — a per-task memory/compute
      bound, ~32 MB of longs, not a cluster-size tune): ONE task solves
      the whole edge list with a vectorized numpy min-propagation /
      pointer-jumping kernel — zero iterative Spark rounds.  The old
      min-label loop paid ~3 exchanges + 2 jobs per round for 8+ rounds
      on the pathological near-dup graph; measured 9.3–12.7 s → 0.7 s at
      sf1.0 with bit-identical labels.
    - Large graphs: mixed-key local-contraction rounds — each mapping
      row (n, l) is hashed to BOTH partition(n) and partition(l), every
      task solves its local subgraph exactly (same numpy kernel) and
      emits (node, local-root) star rows plus a changed flag.  A round
      that must continue pays two exchanges (the contraction repartition
      plus the dedup of the star rows; the final round skips the dedup),
      and contracts whole local subgraphs instead of single label hops.
      Exhausting ``max_iterations`` before the fixpoint emits a
      ``RuntimeWarning``: the labels are then not final.  The flag compares
      NON-TRIVIAL (n ≠ root) row sets only (a partition keyed by a
      member node legitimately emits the root's self-row it never
      received); all-tasks-unchanged ⇔ the relation is a function whose
      labels are roots — every node's rows co-locate under key=n and
      every label's under key=l — i.e. the global fixpoint.

    Scale boundary (documented, not silent): a contraction task
    materializes its partition's rows, so a SINGLE component whose
    incident mapping rows exceed executor memory would concentrate on
    its root's partition (the old spillable-aggregation loop degraded
    more gracefully there).  The near-dup pair graphs this operator
    serves are bounded upstream — candidate generation is per-bucket
    capped (``max_bucket``), so component incident degree is capped by
    construction; ``rows_per_task`` sizes the average partition.

    Ids must be integral; map other id types to longs first (e.g.
    ``xxhash64``, as ``compose_training_set`` does)."""
    id_type = dict(pairs.dtypes).get(a_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"connected_components needs integral ids; {a_col!r} is {id_type}"
        )

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = pairs.sparkSession
    edges = pairs.select(
        F.col(a_col).cast("long").alias("n"), F.col(b_col).cast("long").alias("l")
    ).cache()
    ne = edges.count()
    out_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("component", T.LongType())]
    )

    def _restore(df: DataFrame) -> DataFrame:
        if id_type == "bigint":
            return df
        return df.select(
            F.col("id").cast(id_type), F.col("component").cast(id_type)
        )

    if ne == 0:
        edges.unpersist()
        return _restore(spark.createDataFrame([], out_schema))

    def _edge_arrays(it):
        """The task's (n, l) edge columns as int64 arrays."""
        batches = list(it)
        return tuple(
            pa.chunked_array([b.column(c) for b in batches], pa.int64()).to_numpy()
            for c in ("n", "l")
        )

    if ne <= rows_per_task:
        out_arrow = to_arrow_schema(out_schema)

        def solve(it):
            nodes, roots = _numpy_cc(*_edge_arrays(it))
            yield pa.RecordBatch.from_arrays([nodes, roots], schema=out_arrow)

        out = edges.coalesce(1).mapInArrow(solve, out_schema).localCheckpoint()
        edges.unpersist()
        return _restore(out)

    it_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("l", T.LongType()),
            T.StructField("ch", T.IntegerType()),
        ]
    )

    it_arrow = to_arrow_schema(it_schema)

    def contract(it):
        a, b = _edge_arrays(it)
        nodes, roots = _numpy_cc(a, b)
        before = _nontrivial_sorted(a, b)
        after = _nontrivial_sorted(nodes, roots)
        ch = np.int32(
            0 if before.shape == after.shape and np.array_equal(before, after) else 1
        )
        yield pa.RecordBatch.from_arrays(
            [nodes, roots, np.full(len(nodes), ch, dtype=np.int32)], schema=it_arrow
        )

    R = edges
    nparts = max(2, -(-2 * ne // rows_per_task))
    for i in range(max_iterations):
        # duplicate (n,n) self-rows from the explode are harmless to the
        # UF kernel and excluded from the fixpoint compare (both sides of
        # ch go through np.unique), so no intra-round dedup exchange
        doubled = R.select(
            F.explode(F.array(F.col("n"), F.col("l"))).alias("key"), "n", "l"
        )
        R = (
            doubled.repartition(nparts, "key")
            .select("n", "l")
            .mapInArrow(contract, it_schema)
            .localCheckpoint()
        )
        if i == 0:
            edges.unpersist()  # round 1 is materialized; nothing reads edges again
        if R.agg(F.max("ch")).collect()[0][0] == 0:
            break
        R = R.dropDuplicates(["n", "l"])
    else:
        warnings.warn(
            f"connected_components: no fixpoint after {max_iterations} "
            f"contraction rounds; component labels are not final",
            RuntimeWarning,
            stacklevel=2,
        )
    # at the fixpoint each id carries exactly one distinct component row;
    # min-agg (not dropDuplicates) keeps the extraction deterministic
    return _restore(
        R.groupBy(F.col("n").alias("id")).agg(F.min("l").alias("component"))
    )


def _numpy_cc(a, b):
    """Exact CC over an edge list: (nodes, root_of_node), root = min id.
    Vectorized min-propagation over the edge arrays with full pointer-
    jumping between passes; passes are O(log diameter), all numpy."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea = inv[: len(a)].astype(np.int64)
    eb = inv[len(a):].astype(np.int64)
    lbl = np.arange(len(nodes), dtype=np.int64)
    while True:
        m = np.minimum(lbl[ea], lbl[eb])
        new = lbl.copy()
        np.minimum.at(new, ea, m)
        np.minimum.at(new, eb, m)
        while True:
            nn = new[new]
            if np.array_equal(nn, new):
                break
            new = nn
        if np.array_equal(new, lbl):
            break
        lbl = new
    return nodes, nodes[lbl]


def _nontrivial_sorted(a, b):
    import numpy as np

    keep = a != b
    arr = np.stack([a[keep], b[keep]], axis=1)
    if len(arr) == 0:
        return arr
    return np.unique(arr, axis=0)


def dedup_groups_from_pairs(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Collapse near-dup pairs into dedup groups: (component=keeper id,
    member_ids, group_size).  The keeper is the minimum id (first-wins,
    matching exact_dedup's min-id policy)."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.groupBy("component").agg(
        F.sort_array(F.collect_list("id")).alias("member_ids"),
        F.count("*").alias("group_size"),
    )


def domain_pagerank_priority(edges: DataFrame) -> DataFrame:
    """Domain-level priority from the URL link graph: collapse edges to
    domain→domain (dropping self-links), PageRank, return (domain,
    priority) — the NDP priority-queue input."""
    dom = F.regexp_extract(F.col("src"), r"^[a-z]+://([^/]+)", 1)
    dom2 = F.regexp_extract(F.col("dst"), r"^[a-z]+://([^/]+)", 1)
    de = (
        edges.select(dom.alias("src"), dom2.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    pr = pagerank(de, iterations=8)
    return pr.select(F.col("node").alias("domain"), F.col("rank").alias("priority"))
