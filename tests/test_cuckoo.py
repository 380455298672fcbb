"""Cuckoo-filter seen-set (operators/cuckoo.py, the filter behind
FrontierDedup).

Contracts pinned here:
- the filter NEVER has false negatives (stash overflow path included), so
  cuckoo_anti_join ≡ the exact left-anti join;
- deletion really removes (and only removes) the requested keys;
- FrontierDedup admits exactly the never-seen rows over multi-snapshot
  histories, forget() makes it re-admit expired keys and leaves no
  present-keys dir behind, and a reopened store adopts the persisted
  bucket layout.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.operators.cuckoo import (
    SLOTS,
    _contains,
    _delete,
    _deserialize,
    _insert_all,
    _serialize,
    cuckoo_anti_join,
    size_for,
)
from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup


def _mk(table_keys: int, seed: int = 7):
    rng = np.random.default_rng(seed)
    keys = np.unique(rng.integers(0, 2**63, table_keys, dtype=np.int64).view(np.uint64))
    m = size_for(len(keys))
    table = np.zeros((m, SLOTS), dtype=np.uint16)
    stash: list[int] = []
    _insert_all(table, stash, keys)
    return keys, table, stash


def test_no_false_negatives_at_design_load():
    keys, table, stash = _mk(200_000)
    assert len(keys) / (table.shape[0] * SLOTS) > 0.7  # meaningful load
    hit = _contains(table, np.array(stash, dtype=np.int64), keys)
    assert hit.all()


def test_fpr_bound():
    keys, table, stash = _mk(200_000)
    rng = np.random.default_rng(99)
    probe = np.setdiff1d(
        rng.integers(0, 2**63, 200_000, dtype=np.int64).view(np.uint64), keys
    )
    fpr = _contains(table, np.array(stash, dtype=np.int64), probe).mean()
    # theoretical ~ 2*SLOTS/2^16 = 0.012%; allow generous headroom
    assert fpr < 0.001


def test_stash_overflow_never_loses_keys():
    """Force a pathologically overloaded table: every key must still be
    found (stash is the no-false-negative backstop)."""
    rng = np.random.default_rng(3)
    keys = np.unique(rng.integers(0, 2**63, 5_000, dtype=np.int64).view(np.uint64))
    m = 64  # 256 slots for ~5k keys -> massive overflow
    table = np.zeros((m, SLOTS), dtype=np.uint16)
    stash: list[int] = []
    _insert_all(table, stash, keys)
    assert len(stash) > 0
    hit = _contains(table, np.array(stash, dtype=np.int64), keys)
    assert hit.all()


def test_delete_removes_exactly_requested():
    keys, table, stash = _mk(50_000)
    victims, survivors = keys[:5_000], keys[5_000:]
    removed = _delete(table, stash, victims)
    assert removed == len(victims)
    st = np.array(stash, dtype=np.int64)
    # survivors all present; victims reduced to FPR-level residue
    assert _contains(table, st, survivors).all()
    assert _contains(table, st, victims).mean() < 0.001


def test_serialize_roundtrip():
    keys, table, stash = _mk(10_000)
    stash = stash or [123456]  # exercise a non-empty stash payload
    t2, s2 = _deserialize(_serialize(table, stash))
    assert np.array_equal(t2, table)
    assert s2 == stash


def test_insert_is_deterministic():
    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(0, 2**63, 30_000, dtype=np.int64).view(np.uint64))
    m = size_for(len(keys))
    t1 = np.zeros((m, SLOTS), dtype=np.uint16)
    t2 = np.zeros((m, SLOTS), dtype=np.uint16)
    s1: list[int] = []
    s2: list[int] = []
    _insert_all(t1, s1, keys)
    _insert_all(t2, s2, keys)
    assert np.array_equal(t1, t2) and s1 == s2


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------


@pytest.fixture()
def dedup_frames(spark):
    rng = np.random.default_rng(21)
    seen_keys = rng.integers(0, 2**62, 20_000, dtype=np.int64)
    cand_keys = np.concatenate(
        [seen_keys[:5_000], rng.integers(0, 2**62, 15_000, dtype=np.int64)]
    )
    n_buckets = 8
    seen = spark.createDataFrame(
        [(int(k), int(k % n_buckets)) for k in seen_keys], "url_hash long, bucket int"
    )
    cand = spark.createDataFrame(
        [(int(k), int(k % n_buckets), f"u{k}") for k in cand_keys],
        "url_hash long, bucket int, url string",
    )
    return seen, cand


def test_cuckoo_anti_join_equals_exact(spark, dedup_frames):
    seen, cand = dedup_frames
    transients: list = []
    got = set(
        r["url_hash"]
        for r in cuckoo_anti_join(
            cand, seen, key_col="url_hash", transients=transients
        ).collect()
    )
    want = set(
        r["url_hash"] for r in cand.join(seen, "url_hash", "left_anti").collect()
    )
    assert len(transients) == 1
    for df in transients:
        df.unpersist()
    assert got == want


def _ingest_rows(store, spark, keys):
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    return store.ingest(df)


def test_frontier_dedup_multi_snapshot_equals_exact(spark, tmp_path):
    rng = np.random.default_rng(5)
    batches = [rng.integers(0, 2**62, 4_000, dtype=np.int64) for _ in range(3)]
    batches[1][:1_000] = batches[0][:1_000]  # cross-snapshot dupes
    batches[2][:500] = batches[1][2_000:2_500]

    store = FrontierDedup(
        spark, str(tmp_path / "c"), n_buckets=8, cuckoo_m_buckets=1 << 12
    )
    exact_seen: set[int] = set()
    for batch in batches:
        admitted = set(r["url_hash"] for r in _ingest_rows(store, spark, batch).collect())
        want = set(int(k) for k in batch) - exact_seen
        assert admitted == want
        exact_seen |= want
    assert store._load()["snapshot"] == 2


def test_frontier_dedup_forget_readmits(spark, tmp_path):
    store = FrontierDedup(
        spark, str(tmp_path / "c"), n_buckets=4, cuckoo_m_buckets=1 << 10
    )
    keys = list(range(1000, 2000))
    out1 = _ingest_rows(store, spark, keys)
    assert out1.count() == 1000
    # second ingest of the same keys admits nothing
    assert _ingest_rows(store, spark, keys).count() == 0
    # forget half -> they are re-admittable, the rest still dedup
    victims = keys[:500]
    n = store.forget(spark.createDataFrame([(k,) for k in victims], "url_hash long"))
    assert n == 500
    out2 = _ingest_rows(store, spark, keys)
    assert set(r["url_hash"] for r in out2.collect()) == set(victims)
    # and forgetting keys never ingested is a no-op
    assert store.forget(
        spark.createDataFrame([(999999,)], "url_hash long")
    ) == 0
    # both forgets dropped their present-keys dir (no manifest names it)
    assert not [f for f in os.listdir(store.root) if f.startswith("forgotten-")]


def test_reopen_adopts_persisted_bucket_layout(spark, tmp_path):
    root = str(tmp_path / "c2")
    store = FrontierDedup(spark, root, n_buckets=4, cuckoo_m_buckets=1 << 10)
    _ingest_rows(store, spark, range(0, 300))
    # a new instance constructed with a DIFFERENT bucket count must probe
    # the persisted 4-bucket filters, not re-bucket candidates by 16
    again = FrontierDedup(spark, root, n_buckets=16, cuckoo_m_buckets=1 << 10)
    got = set(r["url_hash"] for r in _ingest_rows(again, spark, range(200, 400)).collect())
    assert got == set(range(300, 400))
    assert again.n_buckets == 4
    assert again._load()["n_buckets"] == 4
