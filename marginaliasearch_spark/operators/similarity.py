"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce`` — exact top-k against a query vector, pure
  built-in expressions (zip_with/aggregate dot product, JVM-side); the
  correctness baseline and perfectly scan-parallel (no shuffle except the
  final top-k, which is a tiny global sort of per-partition heads thanks
  to Spark's TakeOrdered).
- ``cosine_topk_lsh`` — random-hyperplane LSH prefilter: probe only the
  buckets whose sign-signature is within ``probe_hamming`` of the query's
  (multi-probe), then exact re-rank.  The scale path: touches a fraction
  of rows with no shuffle at all (bucket pruning via a broadcast set).
- ``cosine_pairs_lsh`` — all-pairs near-dup by bucketed self-join.
- ``ivf_topk`` — IVF-style variant: k-means-lite centroids sampled from
  the data, vectors assigned to nearest centroid (one Arrow-UDF pass),
  query probes the ``n_probe`` nearest centroids.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cosine_col(vec_col: str, query: list[float]):
    """cosine(vec, lit(query)) as a pure Column expression (JVM-side)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_v = F.sqrt(
        F.aggregate(F.transform(F.col(vec_col), lambda a: a * a), F.lit(0.0), lambda acc, v: acc + v)
    )
    qn = float(np.sqrt(np.dot(query, query))) or 1.0
    return (dot / (norm_v * F.lit(qn))).cast("double")


def cosine_topk_bruteforce(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k; ties broken by id for determinism."""
    return (
        emb.withColumn("cosine", _cosine_col(vec_col, query))
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 2718])
    return rng.standard_normal((n_planes, dim))


def _vec_matrix(vecs: pa.Array) -> np.ndarray:
    """[n × dim] float64 view of an Arrow batch of equal-length vectors."""
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(len(vecs), -1).astype(np.float64, copy=False)


def _sign_sig(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    proj = mat @ planes.T  # [B, n_planes]
    bits = (proj > 0).astype(np.uint64)
    sig = np.zeros(mat.shape[0], dtype=np.uint64)
    for j in range(planes.shape[0]):
        sig |= bits[:, j] << np.uint64(j)
    return sig.view(np.int64)


def with_lsh_bucket(
    emb: DataFrame, vec_col: str, dim: int, n_planes: int, seed: int
) -> DataFrame:
    planes = _planes(dim, n_planes, seed)

    @F.arrow_udf(T.LongType())
    def bucket(vecs: pa.Array) -> pa.Array:
        return pa.array(_sign_sig(_vec_matrix(vecs), planes), pa.int64())

    return emb.withColumn("lsh_bucket", bucket(F.col(vec_col)))


def cosine_topk_lsh(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    probe_hamming: int = 2,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: multi-probe sign-LSH prune + exact re-rank.

    The probe set (all signatures within ``probe_hamming`` of the query's)
    is computed driver-side and broadcast as an isin filter, so the scan
    prunes rows before any arithmetic; no shuffle until the final top-k.
    """
    dim = len(query)
    planes = _planes(dim, n_planes, seed)
    qsig = int(_sign_sig(np.asarray([query], dtype=np.float64), planes)[0])

    probes = [qsig]
    if probe_hamming >= 1:
        probes += [qsig ^ (1 << i) for i in range(n_planes)]
    if probe_hamming >= 2:
        probes += [
            qsig ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]

    bucketed = with_lsh_bucket(emb, vec_col, dim, n_planes, seed)
    pruned = bucketed.filter(F.col("lsh_bucket").isin(probes))
    return (
        pruned.withColumn("cosine", _cosine_col(vec_col, query))
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def cosine_pairs_lsh(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    n_planes: int = 8,
    n_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via BANDED hyperplane LSH + exact check.

    OR-amplification: ``n_bands`` independent signatures of ``n_planes``
    hyperplanes each; a pair is a candidate iff it shares a signature in
    ANY band, then the exact cosine recheck removes false candidates.
    Miss probability per true pair = (1 - p^r)^B with p = 1 - θ/π — at
    near-dup thresholds (θ small) it is astronomically small (e.g.
    cosine ≥ 0.999, r=8, B=8 → ~1e-12), which is what lets the gate
    compare this plan's result against the exact oracle pair set.
    Shuffle shape: explode ×B on (band, sig) → self-join within buckets —
    never all-pairs."""
    first = emb.select(vec_col).first()
    if first is None:
        return emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    dim = len(first[0])
    planes = _planes(dim, n_planes * n_bands, seed)

    @F.arrow_udf(T.ArrayType(T.LongType()))
    def band_sigs(vecs: pa.Array) -> pa.Array:
        mat = _vec_matrix(vecs)
        sigs = []
        for b in range(n_bands):
            sigs.append(_sign_sig(mat, planes[b * n_planes : (b + 1) * n_planes]))
        arr = np.stack(sigs, axis=1)  # [B, n_bands]
        offsets = np.arange(len(arr) + 1, dtype=np.int32) * n_bands
        return pa.ListArray.from_arrays(offsets, arr.reshape(-1))

    bucketed = (
        emb.withColumn("_sigs", band_sigs(F.col(vec_col)))
        .select(id_col, vec_col, F.posexplode("_sigs").alias("band", "sig"))
    )
    a = bucketed.select(
        "band", "sig", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = bucketed.select(
        "band", "sig", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda a_, v: a_ + v))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda a_, v: a_ + v))
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # same pair may collide in >1 band
        .withColumn("cosine", (dot / (na * nb)).cast("double"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) variant
# ---------------------------------------------------------------------------


def ivf_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN: deterministic sampled centroids, one assignment pass
    (vectorized Arrow UDF), query probes the n_probe nearest lists.

    At scale the assignment is written once (partitioned by centroid_id =
    partition pruning on every query); here it is computed inline.
    """
    sample = emb.select(vec_col).orderBy(F.col(id_col)).limit(n_centroids * 8).collect()
    if not sample:  # schema-preserving empty result (id type follows the input)
        return emb.select(id_col).limit(0).withColumn("cosine", F.lit(0.0))
    mat = np.vstack([r[0] for r in sample]).astype(np.float64)
    rng = np.random.default_rng([seed, 1618])
    idx = rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)
    centroids = mat[idx]
    centroids /= np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @F.arrow_udf(T.IntegerType())
    def assign(vecs: pa.Array) -> pa.Array:
        m = _vec_matrix(vecs)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pa.array(np.argmax(m @ centroids.T, axis=1).astype(np.int32), pa.int32())

    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_ids = np.argsort(-(centroids @ qn))[:n_probe].tolist()
    probe_ids = [int(p) for p in probe_ids]

    assigned = emb.withColumn("centroid_id", assign(F.col(vec_col)))
    pruned = assigned.filter(F.col("centroid_id").isin(probe_ids))
    return (
        pruned.withColumn("cosine", _cosine_col(vec_col, query))
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )
