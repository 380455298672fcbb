"""Deduplication operators over document tables — the training-data side
of the engine (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
near-dup).  All hot paths are built-in Spark expressions or numpy-batch
Arrow UDFs; no per-row Python.

The crawler-side analogue is the reference's EasyLSH content-similarity
check (ref: code/libraries/easy-lsh/java/nu/marginalia/lsh/EasyLSH.java:
12-87, hamming < 4 ⇒ same document); ``simhash_pairs`` generalizes it to
corpus-wide near-dup detection.

Scale notes: every family is a shuffle-on-key design —
- exact:   groupBy(md5) with map-side combine; key cardinality ≈ rows.
- minhash: explode to (band_hash) buckets → ONE shuffle on the band hash,
           bucket-local vectorized scoring over contiguous sorted runs;
           band count k bounds the blow-up at k×rows; giant buckets
           (boilerplate collisions) are capped inside the scorer.
- simhash: 4×16-bit chunk index (pigeonhole: hamming ≤ 3 ⇒ ≥1 identical
           chunk) → candidate join on chunk equality → exact hamming check.
"""

from __future__ import annotations

import warnings
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row of each exact-duplicate group (hash-groupBy).

    One shuffle on the content hash; map-side partial min keeps it lean.
    """
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups with >1 member (the audit view)."""
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min(id_col).alias("keeper_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng([seed, 31337])
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Rolling polynomial hashes of the k-shingles (character level),
    vectorized: prefix-sum of byte polynomial over a fixed base."""
    data = np.frombuffer(text.lower().encode("utf-8", "ignore"), dtype=np.uint8)
    n = len(data)
    if n < k:
        data = np.pad(data, (0, k - n), constant_values=32)
        n = k
    base = np.uint64(1099511628211)
    with np.errstate(over="ignore"):
        powers = np.empty(k, dtype=np.uint64)
        powers[0] = 1
        for i in range(1, k):
            powers[i] = powers[i - 1] * base
        # windowed dot product via strided view
        windows = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.uint64)
        return (windows * powers[::-1]).sum(axis=1, dtype=np.uint64)


def minhash_signature_batch(texts, num_hashes: int = 64, k: int = 5, seed: int = 42) -> list:
    """MinHash signatures for a batch of texts (numpy, no per-row Python in
    the inner loop over hash functions).

    Deliberately per-document: the [H × n_shingles] work matrix stays
    cache-resident (~150 KB), which measured ~7× faster than a whole-batch
    concatenate + ``minimum.reduceat`` form whose multi-hundred-MB modular
    temporaries are memory-bandwidth-bound.  Don't "vectorize" this
    further without re-measuring."""
    a, b = _minhash_params(num_hashes, seed)
    out = []
    with np.errstate(over="ignore"):
        for text in texts:
            sh = np.unique(_shingle_hashes(text or "", k))
            # (a*x + b) mod p for all hash fns × shingles; min over shingles
            vals = (sh[None, :] * a[:, None] + b[:, None]) % np.uint64(_MERSENNE)
            out.append(vals.min(axis=1).astype(np.int64))
    return out


def _resolve_uri(uri: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, path) of an input-file URI in any scheme pyarrow opens."""
    return pafs.FileSystem.from_uri(uri)


def _spread_for_compute(df: DataFrame, always_spread_small: bool = True) -> DataFrame:
    """Signature computation is compute-bound, not byte-bound: an
    under-split input would serialize the UDF.  Spread to the cluster's
    parallelism first — but only when the input cannot already feed that
    many tasks (a big well-laid-out table must NOT be shuffled wholesale
    just to hash it).

    The partition COUNT alone is a trap: Spark splits a parquet file into
    byte ranges, but a ROW GROUP is the atomic read unit — a 160 MB file
    written as one row group yields 32 nominal splits of which one holds
    every row (measured: the signature stage ran 1-core at 10× scale, 209 s
    vs 6.6 s expected).  So decide from driver-side file metadata, read
    through ``pyarrow.fs``: a small input (< parallelism × 64 MB) is
    spread — the shuffle is trivially affordable and row balance is then
    guaranteed; a large one is spread only when its (sampled) row-group
    count cannot feed the cluster.  Input files pyarrow cannot open (an
    unknown scheme such as ``s3a:``, a missing client library) warn and
    spread: the partition count is exactly what cannot be trusted there.
    Non-file sources and non-parquet files keep the partition-count check
    (their splits are real).

    ``always_spread_small=False`` is the LIGHT-kernel variant (winnowing
    fingerprint ≈ 84 µs/doc vs minhash ≈ 170+ µs/doc on bigger shingle
    sets): a small input (< 32 MB) runs un-spread even when single-row-
    group — below that size the one-off serialized cost (≤ ~10 s worst
    case, typically well under a second) undercuts paying an extra
    exchange+stage on every call, and callers like the count-only bench
    probe never even evaluate the pruned UDF column.  The genuine trap —
    a BIG single-row-group file — still spreads."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = list(df.inputFiles())
    except Exception:  # noqa: BLE001 — non-file plans (e.g. createDataFrame)
        files = []
    if not files:
        if df.rdd.getNumPartitions() >= n:
            return df
        return df.repartition(n)
    try:
        located = [_resolve_uri(f) for f in files]
        infos = [fs.get_file_info(path) for fs, path in located]
        if any(i.type != pafs.FileType.File for i in infos):
            raise FileNotFoundError("an input file is missing")
        total = sum(i.size for i in infos)
    except (OSError, ValueError, pa.ArrowException) as e:
        warnings.warn(
            f"_spread_for_compute: cannot read the input files' layout ({e}); "
            f"spreading to {n} partitions",
            RuntimeWarning,
            stacklevel=3,
        )
        return df.repartition(n)
    if total < (n << 26):  # < n × 64 MB
        if always_spread_small:
            return df.repartition(n)
        if total < (32 << 20):
            return df  # light kernel, small input: serialization beats a shuffle
        # light kernel, mid-size input: spread only if row groups can't
        # feed the cluster (fall through to the sampled footer check)
    try:
        rgs = 0
        for fs, path in located[:64]:  # bounded footer reads
            with fs.open_input_file(path) as fh:
                rgs += pq.ParquetFile(fh).metadata.num_row_groups
            if rgs >= n:
                break
        if len(files) > 64 and rgs < n:
            rgs = int(rgs * len(files) / 64)
        if rgs >= n:
            return df
    except (OSError, ValueError, pa.ArrowException):  # non-parquet footers
        if df.rdd.getNumPartitions() >= n:
            return df
    return df.repartition(n)


def with_minhash(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    @F.arrow_udf(T.ArrayType(T.LongType()))
    def mh(texts: pa.Array) -> pa.Array:
        sigs = minhash_signature_batch(texts.to_pylist(), num_hashes, k, seed)
        # every signature is num_hashes long: one flat values buffer
        offsets = np.arange(len(sigs) + 1, dtype=np.int32) * num_hashes
        values = np.concatenate(sigs) if sigs else np.empty(0, np.int64)
        return pa.ListArray.from_arrays(offsets, values)

    return _spread_for_compute(docs).withColumn("minhash", mh(F.col(text_col)))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    seed: int = 42,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, verified by
    signature-estimated Jaccard.

    shingle→minhash (Arrow UDF) → explode to band keys →
    bucket-local pair scoring (one shuffle on the band hash, buckets
    contiguous via sortWithinPartitions, signatures compared as numpy
    matrices inside mapInArrow) → cross-band pair dedup.

    A bucket of size s yields s(s-1)/2 candidates, and boilerplate-heavy
    corpora emit tens of millions of sub-threshold candidates from
    legal-sized buckets (measured: 34.5M candidates → 60k pairs at sf1).
    Scoring them as a JVM expression join paid an interpreted
    per-array-element lambda per candidate; the bucket-local numpy form
    does the same comparisons vectorized and ships each signature into
    the shuffle ONCE instead of twice, and only above-threshold pairs
    ever leave the stage.  ``max_bucket`` caps degenerate buckets
    (boilerplate) to bound the blow-up at scale.
    """
    rows_per_band = num_hashes // bands
    # single consumer (the bucket partition stream) → no persist, no
    # census pass: the cap on degenerate buckets is enforced INSIDE the
    # scorer, which sees every bucket as one contiguous sorted run and
    # skips runs longer than max_bucket — identical semantics to the old
    # bucket-size census + broadcast anti-join, minus one full pass over
    # the banded table and the persist of the signature subtree
    sig = with_minhash(docs, text_col, num_hashes, k, seed).select(id_col, "minhash")

    band_cols = [
        F.xxhash64(
            F.lit(i), F.slice("minhash", i * rows_per_band + 1, rows_per_band)
        ).alias("band_hash")
        for i in range(bands)
    ]
    banded = sig.select(
        id_col, "minhash", F.explode(F.array(*band_cols)).alias("band_hash")
    )

    id_field = next(f for f in docs.schema.fields if f.name == id_col)
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
            T.StructField("jaccard_est", T.DoubleType()),
        ]
    )
    out_arrow = to_arrow_schema(out_schema)

    def score_buckets(it):
        """Partition stream sorted by band_hash: buckets arrive as
        contiguous runs, possibly split across Arrow batches — buffer the
        trailing (maybe-incomplete) run and score complete runs with one
        numpy broadcast compare per bucket.

        Arrow-native (mapInArrow, guide §4.2): the 64-long signature
        column is one contiguous int64 values buffer per batch, so the
        [n × 64] scoring matrix is a zero-copy flatten+reshape — a
        pandas-batch form paid a per-row python list materialization
        (``Series.tolist()`` → ``np.array``) that alone cost ~0.27 s per
        100k rows, ~4 core-seconds per sf1 scoring pass."""
        def process(hashes, ids, M):
            change = np.nonzero(hashes[1:] != hashes[:-1])[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(hashes)]))
            sizes = ends - starts
            out_a, out_b, out_e = [], [], []
            # size-2 buckets (the common case) scored in one vectorized op
            two = starts[sizes == 2] if max_bucket >= 2 else starts[:0]
            if len(two):
                est = (M[two] == M[two + 1]).sum(axis=1) / num_hashes
                keep = est >= jaccard_threshold
                ia, ib = ids[two[keep]], ids[two[keep] + 1]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_e.append(est[keep])
            # the max_bucket cap lives here: a degenerate (boilerplate)
            # bucket is one contiguous run, skipped whole — identical to
            # the old census + anti-join, without the extra pass
            for r in np.nonzero((sizes > 2) & (sizes <= max_bucket))[0]:
                s0, s1 = int(starts[r]), int(ends[r])
                C, cid = M[s0:s1], ids[s0:s1]
                s = s1 - s0
                iu, ju = np.triu_indices(s, 1)
                # row-chunked so the (chunk, s, num_hashes) temp stays small
                cnt = np.empty((s, s), dtype=np.int64)
                for c0 in range(0, s, 512):
                    c1 = min(c0 + 512, s)
                    cnt[c0:c1] = (C[c0:c1, None, :] == C[None, :, :]).sum(axis=2)
                est = cnt[iu, ju] / num_hashes
                keep = est >= jaccard_threshold
                ia, ib = cid[iu[keep]], cid[ju[keep]]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_e.append(est[keep])
            if not out_a:
                return None
            cols = (np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_e))
            return pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, out_arrow)], schema=out_arrow
            )

        buf_h = buf_i = buf_m = None
        skip_hash = None  # hash of an over-cap run being discarded
        for batch in it:
            if batch.num_rows == 0:
                continue
            hashes = batch.column("band_hash").to_numpy(zero_copy_only=False)
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            # zero-copy [n × num_hashes] view: the list column's values
            # buffer is contiguous and every list is exactly num_hashes
            M = (
                batch.column("minhash")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(batch.num_rows, num_hashes)
            )
            if skip_hash is not None:
                # continuation rows of a discarded over-cap run arrive as
                # a (sorted) prefix of this batch — drop them on sight
                keep = hashes != skip_hash
                if not keep.all():
                    hashes, ids, M = hashes[keep], ids[keep], M[keep]
                if len(hashes) == 0:
                    continue
                skip_hash = None
            if buf_h is not None:
                hashes = np.concatenate((buf_h, hashes))
                ids = np.concatenate((buf_i, ids))
                M = np.concatenate((buf_m, M))
            # hold back the trailing run — its bucket may continue in the
            # next batch
            cut = int(np.searchsorted(hashes, hashes[-1], side="left"))
            buf_h, buf_i, buf_m = hashes[cut:], ids[cut:], M[cut:]
            if len(buf_h) > max_bucket:
                # the trailing run already exceeds the cap: discard it now
                # so a degenerate bucket can never accumulate in memory
                skip_hash = buf_h[0]
                buf_h = buf_i = buf_m = None
            if cut:
                res = process(hashes[:cut], ids[:cut], M[:cut])
                if res is not None:
                    yield res
        if buf_h is not None and len(buf_h):
            res = process(buf_h, buf_i, buf_m)
            if res is not None:
                yield res

    scored = (
        banded.repartition(F.col("band_hash"))
        .sortWithinPartitions("band_hash")
        .mapInArrow(score_buckets, out_schema)
    )
    return scored.dropDuplicates(["id_a", "id_b"])


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


_BIT_WEIGHTS = (np.uint64(1) << np.arange(64, dtype=np.uint64))


def simhash_batch(texts, k: int = 4, seed: int = 42) -> np.ndarray:
    """64-bit SimHash over k-shingles: per-bit majority vote of shingle
    hashes, fully vectorized per document."""
    out = np.empty(len(texts), dtype=np.int64)
    rng_salt = np.uint64(np.random.default_rng([seed, 911]).integers(1, 1 << 62))
    with np.errstate(over="ignore"):
        for i, text in enumerate(texts):
            sh = np.unique(_shingle_hashes(text or "", k)) * rng_salt
            # fmix for bit diffusion
            sh ^= sh >> np.uint64(33)
            sh *= np.uint64(0xFF51AFD7ED558CCD)
            sh ^= sh >> np.uint64(29)
            # per-bit vote counts via unpackbits on the little-endian
            # byte view: column c IS bit c of the uint64, and the (n, 64)
            # temp is uint8 — 8× smaller than the old shift-and-mask
            # uint64 matrix (measured 140 → 115 µs/doc, bit-identical).
            # The explicit "<u8" makes the byte order hold on a big-endian
            # host too (a no-op view on a little-endian one)
            bits = np.unpackbits(
                sh.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8),
                axis=1,
                bitorder="little",
            )
            votes = bits.sum(axis=0, dtype=np.int64) * 2 > len(sh)
            # weighted sum folds the 64 votes in one vectorized op
            # (bit i of the signature = votes[i]); int64 view = the same
            # two's-complement conversion as the old per-bit Python fold
            v = (votes * _BIT_WEIGHTS).sum(dtype=np.uint64)
            out[i] = np.uint64(v).view(np.int64)
    return out


def with_simhash(docs: DataFrame, text_col: str = "text", seed: int = 42) -> DataFrame:
    @F.arrow_udf(T.LongType())
    def sh(texts: pa.Array) -> pa.Array:
        return pa.array(simhash_batch(texts.to_pylist(), seed=seed), pa.int64())

    return _spread_for_compute(docs).withColumn("simhash", sh(F.col(text_col)))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 42,
    transients: Optional[list] = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole blocking: split 64 bits into 4 chunks of 16; hamming ≤ 3 ⇒
    at least one chunk identical → ONE candidate self-join on the
    exploded (chunk_index, chunk_value) key → exact ``bit_count(xor)``
    verification, all JVM-side.  (Four per-chunk joins + a union compute
    the same pair set but pay 4× the join/stage fixed cost; the exploded
    single join shuffles the same bytes once.)

    The signature table feeds both sides of the self-join, so it is
    persisted; pass ``transients`` to own its release — the caller
    unpersists every entry once the pairs are materialized.  Without a
    list the cache lives until the session ends.
    """
    sigs = with_simhash(docs, text_col, seed=seed).select(id_col, "simhash")
    chunk_structs = [
        F.struct(
            F.lit(i).alias("ci"),
            F.shiftrightunsigned(F.col("simhash"), i * 16)
            .bitwiseAND(F.lit(0xFFFF))
            .alias("cv"),
        )
        for i in range(4)
    ]
    t = (
        sigs.select(
            id_col, "simhash", F.explode(F.array(*chunk_structs)).alias("c")
        )
        .select(id_col, "simhash", "c.ci", "c.cv")
        .persist()
    )
    if transients is not None:
        transients.append(t)

    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    a = t.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "ci", "cv"
    )
    b = t.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "ci", "cv"
    )
    return (
        # hamming filter inside the join stage: only true near-dup
        # pairs — not every chunk-collision candidate — reach the
        # cross-chunk dedup shuffle
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for verification / small candidate sets)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 0,
) -> DataFrame:
    """Exact word-n-gram Jaccard via shingle explode + pair aggregation.

    distinct (id, shingle) → self-join on shingle → |∩| per pair →
    |∪| = |A|+|B|−|∩|.  Pure built-in ops; the shingle join is the shuffle.

    The shingle self-join is quadratic in a shingle's document frequency:
    one boilerplate 3-gram shared by 10^6 docs would alone emit ~10^12
    intersection rows.  ``max_shingle_df > 0`` drops shingles appearing in
    more than that many documents BEFORE the join (and recomputes set
    sizes over the surviving shingles, so the ratio stays a true Jaccard
    over the non-boilerplate shingle space).  0 = exact Jaccard, no cap —
    the verification configuration; production corpora should set a cap
    or use ``minhash_lsh_pairs`` (the scale path, capped by design).
    """
    words = F.split(F.lower(F.col(text_col)), "\\s+")
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
                lambda i: F.array_join(F.slice(words, i + 1, n), " "),
            )
        ).alias("gram"),
    ).distinct()

    if max_shingle_df > 0:
        # hot-shingle list is tiny by construction (df > cap) → broadcast
        # anti-join; sizes computed AFTER the drop so |A|,|B| and |∩| live
        # in the same shingle space
        hot = (
            grams.groupBy("gram")
            .count()
            .filter(F.col("count") > max_shingle_df)
            .select("gram")
        )
        grams = grams.join(F.broadcast(hot), "gram", "left_anti")

    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))

    a = grams.select(F.col(id_col).alias("id_a"), "gram")
    b = grams.select(F.col(id_col).alias("id_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding near-dup (cosine over a similarity threshold)
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    n_planes: int = 8,
    n_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold, banded random-
    hyperplane-LSH bucketed so the self-join never goes all-pairs (see
    similarity.py for the shared plumbing)."""
    from .similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(
        emb, vec_col, id_col, threshold, n_planes=n_planes, n_bands=n_bands, seed=seed
    )
