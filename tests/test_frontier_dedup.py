"""Global URL-seen dedup plan: snapshot-incremental cuckoo-filter admission
(plans/frontier_dedup.py) — correctness vs exact set semantics, resume
from disk, only-new-keys snapshot appends, the fill watch, compaction
that keeps the returned accepted-* dirs, and snapshot-expiry retention."""

import os

import pyspark.sql.functions as F
import pytest

from marginaliasearch_spark.plans import frontier_dedup
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
    the store — no new seen path, no filter rewrite, no new snapshot, and
    no new file or dir under the root."""
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
    assert sorted(os.listdir(root)) == before
    # and admission still works afterwards
    assert fd.ingest(_cand(spark, 2000, 2500)).count() == 500


def test_compact_seen_folds_paths(spark, tmp_path, monkeypatch):
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
    monkeypatch.setattr(frontier_dedup, "MAX_SEEN_PATHS", 3)
    fd2 = FrontierDedup(spark, str(tmp_path / "fd6"), n_buckets=8, cuckoo_m_buckets=1 << 10)
    for i in range(6):
        fd2.ingest(_cand(spark, i * 100, (i + 1) * 100))
    assert len(fd2._load()["seen_paths"]) <= 4
    assert fd2.seen().count() == 600


def _keys(spark, keys):
    return spark.createDataFrame([(int(k),) for k in keys], "url_hash long")


def test_fill_warning_and_exact_max_fill(spark, tmp_path):
    """Plant an overloaded filter (64 slots per frontier bucket, ~100+
    keys each): the fill watch must warn, and the manifest's max_fill_est
    must be the worst bucket's n_keys / (m_buckets·SLOTS) read back from
    the committed filter table — also after an ingest that touches only
    bucket 0, when the worst bucket is an untouched (passed-through) one."""
    from marginaliasearch_spark.operators.cuckoo import SLOTS

    fd = FrontierDedup(spark, str(tmp_path / "fill"), n_buckets=4, cuckoo_m_buckets=1 << 4)

    def committed_max_fill():
        m = fd._load()
        t = spark.read.parquet(m["blooms_path"]).collect()
        return m["max_fill_est"], max(r["n_keys"] / (r["m_buckets"] * SLOTS) for r in t)

    # bucket 1 (k % 4 == 1) gets 40 extra keys: the worst bucket
    first = list(range(400)) + [1001 + 4 * i for i in range(40)]
    with pytest.warns(UserWarning, match="cuckoo filter load"):
        assert fd.ingest(_keys(spark, first)).count() == len(first)
    est, worst = committed_max_fill()
    assert worst == 140 / 64 and est == round(worst, 4)

    # bucket-0-only ingest: bucket 0 rises to 108 keys, bucket 1 is
    # untouched but stays the worst
    second = [2000 + 4 * i for i in range(8)]
    with pytest.warns(UserWarning, match="cuckoo filter load"):
        got = {r["url_hash"] for r in fd.ingest(_keys(spark, second + first[:50])).collect()}
    assert got == set(second)  # overloaded (stashing) filters stay exact
    est, worst = committed_max_fill()
    assert worst == 140 / 64 and est == round(worst, 4)


def test_compaction_keeps_returned_accepted_dirs(spark, tmp_path, monkeypatch):
    """The seen-set's paths are the ingests' own accepted-* dirs, which are
    also the DataFrames ingest returned: auto-compaction must fold them
    without deleting any, so an ingest that triggers it still returns a
    collectable, exact result."""
    monkeypatch.setattr(frontier_dedup, "MAX_SEEN_PATHS", 2)
    root = str(tmp_path / "fd7")
    fd = FrontierDedup(spark, root, n_buckets=8, cuckoo_m_buckets=1 << 10)
    returned = [fd.ingest(_cand(spark, 0, 300)), fd.ingest(_cand(spark, 200, 500))]
    assert len(fd._load()["seen_paths"]) == 2

    # the third admitting ingest makes 3 > MAX_SEEN_PATHS live paths
    last = fd.ingest(_cand(spark, 400, 700))
    m = fd._load()
    assert len(m["seen_paths"]) == 1 and "seen-compact-" in m["seen_paths"][0]
    got = sorted(r["url_hash"] for r in last.collect())
    assert got == sorted(r["url_hash"] for r in _cand(spark, 500, 700).collect())
    assert [d.count() for d in returned] == [300, 200]
    assert sorted(f for f in os.listdir(root) if f.startswith("accepted-")) == [
        "accepted-000000", "accepted-000001", "accepted-000002",
    ]
    assert fd.seen().columns == ["bucket", "url_hash"]
    assert fd.seen().count() == 700


def _store_dirs(root):
    return [d for d in os.listdir(root) if d.startswith(("accepted-", "blooms-", "seen-"))]


def test_expiry_reclaims_superseded_dirs(spark, tmp_path, monkeypatch):
    """Planted retention.  compact_seen then expire_snapshots(keep_last=1)
    leaves each key stored once under the root (the accepted-* copies are
    gone).  Over 12 admitting ingests with the path bound at 2, the
    store's dirs on disk stay bounded (without expiry they would reach 12
    accepted + 12 blooms + 5 compacted), and the frames the last ingests
    returned still collect exactly."""
    root = str(tmp_path / "fd8")
    fd = FrontierDedup(spark, root, n_buckets=8, cuckoo_m_buckets=1 << 10)
    for i in range(3):
        fd.ingest(_cand(spark, i * 100, (i + 1) * 100))
    fd.compact_seen()
    fd.catalog.expire_snapshots(keep_last=1)
    key_dirs = [os.path.join(root, d) for d in _store_dirs(root) if not d.startswith("blooms-")]
    stored = spark.read.schema("url_hash long").parquet(*key_dirs)
    assert stored.count() == stored.distinct().count() == 300
    assert fd.ingest(_cand(spark, 0, 400)).count() == 100

    monkeypatch.setattr(frontier_dedup, "MAX_SEEN_PATHS", 2)
    root = str(tmp_path / "fd9")
    fd = FrontierDedup(spark, root, n_buckets=8, cuckoo_m_buckets=1 << 10)
    returned, peak = [], 0
    for i in range(12):
        returned.append(fd.ingest(_cand(spark, i * 50, (i + 1) * 50)))
        peak = max(peak, len(_store_dirs(root)))
    # the two snapshots an expiry keeps reference the previous compacted
    # dir, 2 accepted dirs, their filter table and the new compacted dir;
    # the next ingest adds one accepted and one blooms dir before its own
    # compaction and expiry
    assert peak <= 7
    for i, frame in enumerate(returned[-2:], start=10):
        got = sorted(r["url_hash"] for r in frame.collect())
        assert got == sorted(r["url_hash"] for r in _cand(spark, i * 50, (i + 1) * 50).collect())
    assert fd.seen().count() == 600


def test_retired_manifest_layout_raises(spark, tmp_path):
    """A root that holds only the retired dedup-snap-*.json manifests must
    not open as an empty seen-set (which would re-admit every URL)."""
    root = tmp_path / "old"
    root.mkdir()
    (root / "dedup-snap-000000.json").write_text("{}")
    with pytest.raises(ValueError, match="dedup-snap"):
        FrontierDedup(spark, str(root))
