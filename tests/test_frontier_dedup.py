"""Global URL-seen dedup plan: snapshot-incremental cuckoo-filter admission
(plans/frontier_dedup.py) — correctness vs exact set semantics, resume
from disk, and only-new-keys snapshot appends."""

import pyspark.sql.functions as F

from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup


def _cand(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.xxhash64("id").alias("url_hash"),
        F.concat(F.lit("https://s"), (F.col("id") % 50).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url"),
    )


def test_ingest_admits_only_never_seen(spark, tmp_path):
    fd = FrontierDedup(spark, str(tmp_path / "fd"), n_buckets=8, cuckoo_m_buckets=1 << 10)

    a1 = fd.ingest(_cand(spark, 0, 5000))
    assert a1.count() == 5000

    # overlap [2500, 5000) must be rejected; [5000, 7500) admitted
    a2 = fd.ingest(_cand(spark, 2500, 7500))
    got = sorted(r["url_hash"] for r in a2.collect())
    want = sorted(r["url_hash"] for r in _cand(spark, 5000, 7500).collect())
    assert got == want

    # full replay admits nothing
    assert fd.ingest(_cand(spark, 0, 7500)).count() == 0

    # in-batch duplicates collapse to one admission
    dup = _cand(spark, 7500, 7600).unionByName(_cand(spark, 7500, 7600))
    assert fd.ingest(dup).count() == 100


def test_resume_from_disk(spark, tmp_path):
    root = str(tmp_path / "fd2")
    fd1 = FrontierDedup(spark, root, n_buckets=8, cuckoo_m_buckets=1 << 10)
    fd1.ingest(_cand(spark, 0, 3000))

    # a fresh instance over the same root sees the committed seen-set
    fd2 = FrontierDedup(spark, root, n_buckets=8, cuckoo_m_buckets=1 << 10)
    a = fd2.ingest(_cand(spark, 1000, 4000))
    assert a.count() == 1000  # only [3000, 4000)
    assert fd2.seen().count() == 4000


def test_snapshot_appends_only_new_keys(spark, tmp_path):
    root = str(tmp_path / "fd3")
    fd = FrontierDedup(spark, root, n_buckets=8, cuckoo_m_buckets=1 << 10)
    fd.ingest(_cand(spark, 0, 2000))
    fd.ingest(_cand(spark, 0, 2100))  # 100 new
    m = fd._load()
    assert len(m["seen_paths"]) == 2
    last = spark.read.parquet(m["seen_paths"][-1])
    assert last.count() == 100  # the snapshot holds only the new keys


def test_empty_ingest_is_a_noop(spark, tmp_path):
    """Steady-state flatness: a replay that admits nothing must not grow
    the table — no new seen path, no filter rewrite, no new snapshot."""
    import os

    root = str(tmp_path / "fd4")
    fd = FrontierDedup(spark, root, n_buckets=8, cuckoo_m_buckets=1 << 10)
    fd.ingest(_cand(spark, 0, 2000))
    m0 = fd._load()
    before = sorted(os.listdir(root))

    for _ in range(3):  # idle recrawl cycles
        assert fd.ingest(_cand(spark, 0, 2000)).count() == 0

    m1 = fd._load()
    assert m1["snapshot"] == m0["snapshot"]
    assert m1["seen_paths"] == m0["seen_paths"]
    assert m1["blooms_path"] == m0["blooms_path"]
    # only the transient accepted-* output may differ
    grown = set(sorted(os.listdir(root))) - set(before)
    assert all(f.startswith("accepted-") for f in grown)
    # and admission still works afterwards
    assert fd.ingest(_cand(spark, 2000, 2500)).count() == 500


def test_compact_seen_folds_paths(spark, tmp_path):
    root = str(tmp_path / "fd5")
    fd = FrontierDedup(spark, root, n_buckets=8, cuckoo_m_buckets=1 << 10)
    for i in range(4):
        fd.ingest(_cand(spark, i * 500, (i + 1) * 500))
    assert len(fd._load()["seen_paths"]) == 4

    fd.compact_seen()
    m = fd._load()
    assert len(m["seen_paths"]) == 1
    assert fd.seen().count() == 2000
    # semantics preserved: replay rejected, new keys admitted
    assert fd.ingest(_cand(spark, 0, 2000)).count() == 0
    assert fd.ingest(_cand(spark, 2000, 2200)).count() == 200

    # auto-compaction keeps the list bounded
    fd2 = FrontierDedup(
        spark, str(tmp_path / "fd6"), n_buckets=8,
        cuckoo_m_buckets=1 << 10, max_seen_paths=3,
    )
    for i in range(6):
        fd2.ingest(_cand(spark, i * 100, (i + 1) * 100))
    assert len(fd2._load()["seen_paths"]) <= 4
    assert fd2.seen().count() == 600
