"""Training-data operators over the driver-provided testdata tables:
dedup families, similarity search, text stats — correctness vs plain
numpy/pandas oracles at sf0.001."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup(docs):
    from marginaliasearch_spark.operators.dedup import exact_dedup

    pdf = docs.toPandas()
    got = exact_dedup(docs).toPandas()
    assert len(got) == pdf["text"].nunique()
    # keeper is the min doc_id of each group
    keep = pdf.groupby("text")["doc_id"].min().sort_values().tolist()
    assert sorted(got["doc_id"].tolist()) == sorted(keep)


def test_minhash_estimates_jaccard(spark):
    from marginaliasearch_spark.operators.dedup import minhash_signature_batch

    a = "the quick brown fox jumps over the lazy dog and runs away fast"
    b = "the quick brown fox jumps over the lazy cat and runs away fast"
    c = "completely different text with no overlap whatsoever here now"
    sa, sb, sc = minhash_signature_batch([a, b, c], num_hashes=128, k=5)
    sim_ab = float(np.mean(sa == sb))
    sim_ac = float(np.mean(sa == sc))
    assert sim_ab > 0.6
    assert sim_ac < 0.2


def test_minhash_lsh_pairs_finds_near_dups(spark, docs):
    from marginaliasearch_spark.operators.dedup import minhash_lsh_pairs

    # plant two near-duplicates of an existing doc
    base = docs.limit(1).collect()[0]
    long_text = (base["text"] or "x") * 3
    extra = spark.createDataFrame(
        [
            (99990001, long_text, "en", "synthetic", len(long_text)),
            (99990002, long_text + " tail", "en", "synthetic", len(long_text) + 5),
        ],
        schema=docs.schema,
    )
    aug = docs.union(extra)
    pairs = minhash_lsh_pairs(aug, jaccard_threshold=0.8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (99990001, 99990002) in found


def test_minhash_estimate_tracks_exact_jaccard(spark, docs):
    """Estimator-accuracy band over the gate corpus (documents ∪ 90%-prefix
    copies): every emitted pair's 64-hash jaccard_est stays within 0.15 of
    the exact Jaccard over the hashed char-5-shingle sets — the numeric
    half of the minhash_lsh_pairs gate (its pair SET is oracle-checked by
    the driver against exact SQL Jaccard)."""
    import numpy as np
    from pyspark.sql import functions as F

    from marginaliasearch_spark.operators.dedup import (
        _shingle_hashes,
        minhash_lsh_pairs,
    )

    base = docs.select("doc_id", "text")
    copies = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.9) as int))").alias(
            "text"
        ),
    )
    allv = base.unionByName(copies)
    texts = {r["doc_id"]: r["text"] for r in allv.collect()}
    pairs = minhash_lsh_pairs(allv, jaccard_threshold=0.6).collect()
    assert pairs
    sets = {
        i: set(np.unique(_shingle_hashes(t.lower(), 5)).tolist())
        for i, t in texts.items()
    }
    worst = 0.0
    for r in pairs:
        sa, sb = sets[r["id_a"]], sets[r["id_b"]]
        inter = len(sa & sb)
        exact = inter / (len(sa) + len(sb) - inter)
        worst = max(worst, abs(r["jaccard_est"] - exact))
    assert worst <= 0.15, worst


def test_simhash_pairs(spark, docs):
    from marginaliasearch_spark.operators.dedup import simhash_pairs, simhash_batch

    t = (
        "the quick brown fox jumps over the lazy dog and many other words "
        "are here to make the shingle set larger and more stable " * 8
    )
    h1, h2 = simhash_batch([t, t + " x"])
    assert bin((int(h1) ^ int(h2)) & (2**64 - 1)).count("1") < 12

    extra = spark.createDataFrame(
        [
            (99990001, t, "en", "s", len(t)),
            (99990002, t, "en", "s", len(t)),
        ],
        schema=docs.schema,
    )
    transients: list = []
    pairs = simhash_pairs(
        docs.union(extra), max_hamming=3, transients=transients
    ).collect()
    assert len(transients) == 1
    for df in transients:
        df.unpersist()
    assert any(r["id_a"] == 99990001 and r["id_b"] == 99990002 for r in pairs)


def test_simhash_batch_matches_shift_and_mask_reference():
    """The unpackbits vote kernel against an endian-neutral reference that
    reads bit b of each hash as (h >> b) & 1, over a few hundred texts of
    mixed lengths (empty, shorter than a shingle, multi-byte UTF-8)."""
    import numpy as np

    from marginaliasearch_spark.operators.dedup import _shingle_hashes, simhash_batch

    rng = np.random.default_rng(5)
    words = ["alpha", "beta", "gamma", "délta", "ε", "zeta", "eta", "θeta", "iota", "kappa"]
    texts = ["", "ab", "abcd", None] + [
        " ".join(rng.choice(words, size=int(n))) for n in rng.integers(1, 120, 300)
    ]
    salt = np.uint64(np.random.default_rng([42, 911]).integers(1, 1 << 62))
    shifts = np.arange(64, dtype=np.uint64)
    want = []
    with np.errstate(over="ignore"):
        for text in texts:
            sh = np.unique(_shingle_hashes(text or "", 4)) * salt
            sh ^= sh >> np.uint64(33)
            sh *= np.uint64(0xFF51AFD7ED558CCD)
            sh ^= sh >> np.uint64(29)
            ones = ((sh[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sig = sum(1 << b for b in range(64) if 2 * int(ones[b]) > len(sh))
            want.append(sig - (1 << 64) if sig >= 1 << 63 else sig)
    assert simhash_batch(texts).tolist() == want


def test_ngram_jaccard_exact(spark):
    from marginaliasearch_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),  # identical → jaccard 1
        (3, "z y x w v u t s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(df, n=3).collect()}
    assert got[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) not in got


def test_cosine_topk_bruteforce_matches_numpy(spark, emb):
    from marginaliasearch_spark.operators.similarity import cosine_topk_bruteforce

    pdf = emb.toPandas()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    q = mat[0].tolist()
    got = cosine_topk_bruteforce(emb, q, k=10).collect()

    qn = np.asarray(q)
    cos = mat @ qn / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qn))
    order = sorted(zip(-cos, pdf["vec_id"].to_numpy()))[:10]
    want_ids = [int(v) for _, v in order]
    assert [r["vec_id"] for r in got] == want_ids
    assert got[0]["cosine"] == pytest.approx(1.0)


def test_cosine_topk_lsh_recall(spark, emb):
    """LSH must recover true near neighbors: plant a cluster of noisy
    copies of the query vector and check recall on the planted set.
    (On uniformly random vectors the 'top-10' are barely above random
    similarity — not what an ANN index is for.)"""
    from marginaliasearch_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    base = emb.limit(1).collect()[0]["embedding"]
    q = [float(x) for x in base]
    rng = np.random.default_rng(7)
    planted = [
        (int(888800 + i), (np.asarray(q) + rng.normal(0, 0.01, len(q))).astype(np.float32).tolist(), 0)
        for i in range(6)
    ]
    aug = emb.union(spark.createDataFrame(planted, schema=emb.schema))

    exact = [r["vec_id"] for r in cosine_topk_bruteforce(aug, q, k=7).collect()]
    approx = [r["vec_id"] for r in cosine_topk_lsh(aug, q, k=7, probe_hamming=2).collect()]
    assert exact[0] == approx[0]  # the self-match
    planted_ids = {p[0] for p in planted}
    assert len(planted_ids & set(approx)) >= 5  # recall on true near-dups


def test_ivf_topk(spark, emb):
    from marginaliasearch_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk

    q = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    exact = [r["vec_id"] for r in cosine_topk_bruteforce(emb, q, k=5).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, q, k=5, n_centroids=8, n_probe=4).collect()]
    assert exact[0] == approx[0]


def test_textstats(spark, docs):
    from marginaliasearch_spark.operators.textstats import (
        doc_fingerprint,
        lang_id,
        quality_score,
        token_counts,
    )

    sample = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and that is that"),
            (2, "der hund ist nicht mit der katze und das ist gut"),
            (3, "le chat est dans la maison pour le moment"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["lang_pred"] for r in lang_id(sample).collect()}
    assert langs[1] == "en"
    assert langs[2] == "de"
    assert langs[3] == "fr"
    assert langs[4] == "und"

    q = quality_score(sample).collect()
    qm = {r["doc_id"]: r for r in q}
    assert qm[1]["quality_score"] > qm[4]["quality_score"]
    assert qm[1]["n_words"] == 10

    t = {r["doc_id"]: r for r in token_counts(sample).collect()}
    assert t[1]["ws_tokens"] == 10
    assert t[1]["subword_est"] >= 10

    f = doc_fingerprint(sample).collect()
    fps = {r["doc_id"]: r["fingerprint"] for r in f}
    assert fps[1] != fps[2]
    # deterministic
    f2 = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(sample).collect()}
    assert fps == f2

    # runs on the real documents table too
    assert quality_score(docs).filter(F.col("quality_score") > 0).count() > 0


def test_minhash_lsh_pairs_matches_numpy_banded_reference(spark, docs):
    """Internals pin for the bucket-local numpy scoring stage (round 6):
    the distributed pair set AND every jaccard_est must equal a pure
    numpy/python replay of the banded-LSH contract — signatures → 16
    band buckets (bucketed by the band's raw 4-hash slice; xxhash64 is
    injective on these modulo astronomically unlikely collisions) →
    within-bucket candidates → est = equal-positions/64 ≥ threshold —
    including bucket runs that straddle Arrow batch boundaries
    (exercised by lowering maxRecordsPerBatch)."""
    from collections import defaultdict

    import numpy as np

    from marginaliasearch_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature_batch,
    )

    base = docs.select("doc_id", "text")
    copies = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.9) as int))").alias(
            "text"
        ),
    )
    # 24 identical planted docs: one full-band bucket of size 24, dropped
    # entirely under max_bucket=8 but fully paired under the default cap
    planted_text = (base.limit(1).collect()[0]["text"] or "planted text body") * 2
    planted = spark.createDataFrame(
        [(900000 + i, planted_text) for i in range(24)], "doc_id long, text string"
    )
    allv = base.unionByName(copies).unionByName(planted)
    rows = allv.collect()
    ids = [r["doc_id"] for r in rows]
    sigs = minhash_signature_batch([r["text"] for r in rows])

    def reference(max_bucket):
        buckets = defaultdict(list)
        for i, s in enumerate(sigs):
            for band in range(16):
                buckets[(band, tuple(s[band * 4 : band * 4 + 4]))].append(i)
        want = {}
        for members in buckets.values():
            if len(members) > max_bucket:
                continue
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    est = float(np.mean(sigs[i] == sigs[j]))
                    if est >= 0.6:
                        a, b = sorted((ids[i], ids[j]))
                        want[(a, b)] = est
        return want

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        for cap in (1000, 8):
            want = reference(cap)
            got = {
                (r["id_a"], r["id_b"]): r["jaccard_est"]
                for r in minhash_lsh_pairs(
                    allv, jaccard_threshold=0.6, max_bucket=cap
                ).collect()
            }
            assert set(got) == set(want), f"cap={cap}"
            assert all(abs(got[k] - want[k]) < 1e-12 for k in got), f"cap={cap}"
            if cap == 8:
                assert not any(a >= 900000 for a, _ in got)
            else:
                assert sum(1 for a, b in got if a >= 900000 and b >= 900000) == 276
    finally:
        if old_batch is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)


def test_spread_for_compute_kernel_weight(spark, docs, tmp_path):
    """The under-split guard's two modes: heavy kernels spread any small
    file input; light kernels leave sub-32MB inputs un-spread (no extra
    exchange in the plan) but still spread a big single-row-group file
    (threshold checked by monkey-shrinking the light cutoff via a large
    synthetic is too slow here, so we assert the decision on the real
    small file + the non-file fallback)."""
    import os

    from marginaliasearch_spark.operators.dedup import _spread_for_compute

    small = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # precondition of the light-mode branch below: the fixture must stay
    # under the light kernel's 32 MB un-spread cutoff
    size = sum(os.path.getsize(f.removeprefix("file:")) for f in small.inputFiles())
    assert size < (32 << 20), f"fixture documents.parquet is {size} B, not < 32 MB"
    heavy = _spread_for_compute(small, always_spread_small=True)
    light = _spread_for_compute(small, always_spread_small=False)
    n = spark.sparkContext.defaultParallelism
    # heavy: repartitioned to cluster parallelism
    assert heavy.rdd.getNumPartitions() == n
    # light: plan untouched (identical partitioning, no exchange added)
    assert light is small
    # results identical either way
    assert heavy.count() == small.count() == light.count()
    # non-file plans keep the partition-count fallback in both modes
    rng_df = spark.range(100, numPartitions=1)
    assert _spread_for_compute(rng_df, always_spread_small=False).rdd.getNumPartitions() == n


def test_spread_for_compute_reads_non_local_uris(spark, monkeypatch):
    """The spread decision reads file sizes through pyarrow.fs, so a
    non-``file:`` input reaches the same decision as the same file opened
    by local path: a ``memfs://`` scheme served by a local
    SubTreeFileSystem (resolver patched, no network), in both kernel
    modes, with no warning."""
    import warnings

    import pyarrow.fs as pafs

    from marginaliasearch_spark.operators import dedup

    local = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = spark.sparkContext.defaultParallelism
    want = {
        mode: dedup._spread_for_compute(local, always_spread_small=mode)
        for mode in (True, False)
    }
    assert want[False] is local and want[True].rdd.getNumPartitions() == n

    served = pafs.SubTreeFileSystem(SF_DIR, pafs.LocalFileSystem())
    monkeypatch.setattr(
        type(local), "inputFiles", lambda self: ["memfs://bucket/documents.parquet"]
    )
    monkeypatch.setattr(
        dedup, "_resolve_uri", lambda uri: (served, uri.rsplit("/", 1)[1])
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        light = dedup._spread_for_compute(local, always_spread_small=False)
        heavy = dedup._spread_for_compute(local, always_spread_small=True)
    assert light is local
    assert heavy.rdd.getNumPartitions() == want[True].rdd.getNumPartitions() == n


def test_spread_for_compute_unresolvable_uri_warns_and_spreads(spark, monkeypatch):
    """An input URI pyarrow cannot open warns and spreads to
    defaultParallelism instead of trusting the partition count (here 2×
    the parallelism, which the old fallback would have kept)."""
    from marginaliasearch_spark.operators.dedup import _spread_for_compute

    n = spark.sparkContext.defaultParallelism
    split = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(2 * n)
    monkeypatch.setattr(
        type(split), "inputFiles", lambda self: ["nosuchfs://bucket/documents.parquet"]
    )
    with pytest.warns(RuntimeWarning, match="cannot read the input files' layout"):
        out = _spread_for_compute(split, always_spread_small=False)
    assert out.rdd.getNumPartitions() == n
