"""Partitioned cuckoo-filter dedup — the URL-seen filter behind
``FrontierDedup`` (north rule: "partitioned Bloom/cuckoo filter keyed by
canonicalized-URL hash").

One filter per frontier bucket, built/updated via ``applyInArrow``,
candidates probed through a bucket cogroup, maybe-positives resolved by
the scan-only exact check — result ≡ the exact anti-join.  Two properties
make it the seen-set representation:

- **deletion** (``cuckoo_delete_keys``): a stored fingerprint can be
  removed, so the seen-set can forget (expired 404 memos, retracted
  domains) without a full rebuild;
- **low false-positive rate per bit**: 16-bit fingerprints in 4-slot
  buckets give FPR ≈ 2·b·2⁻¹⁶ ≈ 0.012% at ~19 bits/key, so the
  exact-check traffic (the only shuffle the admission pays) stays small.

Construction is the standard partial-key cuckoo filter (Fan et al.,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014):
fingerprint fp(x) = 16 nonzero bits of the key hash; bucket
i₁ = h(x) mod m, i₂ = i₁ XOR h'(fp) mod m (m a power of two, so either
index is recoverable from the other + the fingerprint — that is what
makes eviction and deletion possible without the original key).

Insert is batch-vectorized: each round places every remaining key whose
candidate bucket has free slots using a rank-among-collisions trick
(sort by bucket, cumcount, stable argsort of occupancy for the physical
slot), falling back to the classic per-key eviction walk only for the
residue that found both buckets full (a few % at the 0.84 design load).
Keys whose eviction walk exceeds the kick budget land in a per-filter
STASH (serialized alongside the table and probed on lookup) — the filter
therefore NEVER has false negatives, which is what makes
``cuckoo_anti_join`` ≡ the exact anti-join.  Table and stash travel as
one zstd-compressed blob per filter row.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

SLOTS = 4  # slots per bucket (b)
_LOAD = 0.84  # design load factor for sizing
_MAX_KICKS = 500

def size_for(n_keys: int) -> int:
    """Number of buckets (power of two) for ``n_keys`` at the design load."""
    need = max(1, int(np.ceil(n_keys / (SLOTS * _LOAD))))
    return 1 << max(4, int(np.ceil(np.log2(need))))


def _mix(h: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = h ^ (h >> np.uint64(33))
        h = h * np.uint64(0xFF51AFD7ED558CCD)
        h = h ^ (h >> np.uint64(29))
        return h


def _fp_and_buckets(keys: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """keys uint64 → (fp uint16 nonzero, i1, i2) with i2 = i1 ^ hash(fp)."""
    h = _mix(keys.astype(np.uint64))
    fp = (h >> np.uint64(48)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty-slot sentinel
    mask = np.uint64(m - 1)
    i1 = (h & mask).astype(np.int64)
    with np.errstate(over="ignore"):
        fph = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & mask
    i2 = (i1.astype(np.uint64) ^ fph).astype(np.int64)
    return fp, i1, i2


def _place_round(table: np.ndarray, b: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """One vectorized placement round: try to put fp[k] into bucket b[k].
    Returns a bool mask of the keys that were placed."""
    n = len(b)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(b)  # any within-bucket order works for ranking
    bs = b[order]
    # cumcount within equal-bucket runs
    new_run = np.concatenate(([True], bs[1:] != bs[:-1]))
    run_id = np.cumsum(new_run) - 1
    run_start = np.nonzero(new_run)[0]
    cum = np.arange(n) - run_start[run_id]
    zeros = table[bs] == 0
    free = zeros.sum(axis=1)
    can = cum < free
    # physical slot = position of the (cum+1)-th empty slot; the running
    # zero-count per column is 3 vector adds (axis-1 cumsum over a (n,4)
    # array is pathologically slow in numpy), first match wins
    z = zeros[can].astype(np.int8)
    c0 = z[:, 0]
    c1 = c0 + z[:, 1]
    c2 = c1 + z[:, 2]
    target = (cum[can] + 1).astype(np.int8)
    slots = np.full(len(z), 3, dtype=np.int64)
    slots[c2 == target] = 2
    slots[c1 == target] = 1
    slots[c0 == target] = 0
    table[bs[can], slots] = fp[order[can]]
    placed = np.zeros(n, dtype=bool)
    placed[order[can]] = True
    return placed


def _insert_all(
    table: np.ndarray, stash: list[int], keys: np.ndarray, rng_seed: int = 12345
) -> None:
    """Insert every key (batch-vectorized rounds + per-key eviction walks
    for the residue).  Overflow goes to the stash — never dropped."""
    m = table.shape[0]
    fp, i1, i2 = _fp_and_buckets(keys, m)
    remaining = np.ones(len(keys), dtype=bool)
    for b_arr in (i1, i2):
        idx = np.nonzero(remaining)[0]
        if len(idx) == 0:
            return
        placed = _place_round(table, b_arr[idx], fp[idx])
        remaining[idx[placed]] = False
    # eviction walks for the residue — pure-Python ints (no numpy scalar
    # boxing per kick; the residue is a few % of keys at design load)
    import random

    pyrng = random.Random(rng_seed)
    mask = m - 1
    res_fp = fp[remaining].tolist()
    res_i1 = i1[remaining].tolist()
    res_i2 = i2[remaining].tolist()
    for cur_fp, b1, b2 in zip(res_fp, res_i1, res_i2):
        cur_b = b1 if pyrng.random() < 0.5 else b2
        ok = False
        for _ in range(_MAX_KICKS):
            row = table[cur_b]
            for j in range(SLOTS):
                if row[j] == 0:
                    row[j] = cur_fp
                    ok = True
                    break
            if ok:
                break
            victim = pyrng.randrange(SLOTS)
            cur_fp, row[victim] = int(row[victim]), cur_fp
            cur_b = cur_b ^ ((cur_fp * 0x5BD1E995) & mask)
        if not ok:
            # re-derive the stash entry as (bucket, fp) — enough to probe
            stash.append((int(cur_b) << 16) | int(cur_fp))


def _contains(table: np.ndarray, stash: np.ndarray, keys: np.ndarray) -> np.ndarray:
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    m = table.shape[0]
    fp, i1, i2 = _fp_and_buckets(keys, m)
    hit = (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)
    if len(stash):
        # stash entries are (bucket<<16)|fp at either candidate bucket
        e1 = (i1.astype(np.int64) << 16) | fp.astype(np.int64)
        e2 = (i2.astype(np.int64) << 16) | fp.astype(np.int64)
        st = np.sort(stash.astype(np.int64))
        hit |= st[np.searchsorted(st, e1).clip(0, len(st) - 1)] == e1
        hit |= st[np.searchsorted(st, e2).clip(0, len(st) - 1)] == e2
    return hit


def _delete(table: np.ndarray, stash: list[int], keys: np.ndarray) -> int:
    """Remove ONE stored copy per present key; returns how many were
    removed.  Per-key loop — deletes are the rare path (expiry sweeps)."""
    m = table.shape[0]
    fp, i1, i2 = _fp_and_buckets(keys, m)
    removed = 0
    for k in range(len(keys)):
        done = False
        for b in (int(i1[k]), int(i2[k])):
            hits = np.nonzero(table[b] == fp[k])[0]
            if len(hits):
                table[b, hits[0]] = 0
                removed += 1
                done = True
                break
        if not done:
            for b in (int(i1[k]), int(i2[k])):
                entry = (b << 16) | int(fp[k])
                if entry in stash:
                    stash.remove(entry)
                    removed += 1
                    done = True
                    break
    return removed


def _serialize(table: np.ndarray, stash: list[int]) -> bytes:
    """Table + stash, zstd-compressed behind their uncompressed length: a
    lightly loaded table is mostly empty (zero) slots, and every probe,
    insert and delete ships the whole blob through a shuffle and the
    Arrow boundary."""
    head = np.array([table.shape[0], len(stash)], dtype=np.int64).tobytes()
    raw = head + table.tobytes() + np.array(stash, dtype=np.int64).tobytes()
    return np.int64(len(raw)).tobytes() + pa.compress(raw, codec="zstd", asbytes=True)


def _deserialize(blob: bytes) -> tuple[np.ndarray, list[int]]:
    raw = pa.decompress(
        blob[8:],
        decompressed_size=int(np.frombuffer(blob[:8], dtype=np.int64)[0]),
        codec="zstd",
        asbytes=True,
    )
    head = np.frombuffer(raw[:16], dtype=np.int64)
    m, n_stash = int(head[0]), int(head[1])
    body = np.frombuffer(raw[16 : 16 + m * SLOTS * 2], dtype=np.uint16).reshape(m, SLOTS)
    stash = np.frombuffer(raw[16 + m * SLOTS * 2 :], dtype=np.int64)[:n_stash]
    return body.copy(), stash.astype(np.int64).tolist()


CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("m_buckets", T.LongType()),
        T.StructField("cuckoo", T.BinaryType()),
    ]
)
_CUCKOO_ARROW = to_arrow_schema(CUCKOO_SCHEMA)


def _u64(table: pa.Table, key_col: str) -> np.ndarray:
    """One group's key column as uint64 (the bits of the signed long)."""
    return table[key_col].to_numpy().astype(np.int64, copy=False).view(np.uint64)


def _keys(table: pa.Table, key_col: str) -> np.ndarray:
    """The distinct keys of one group as uint64."""
    return np.unique(_u64(table, key_col))


def _filter_row(bucket, n_keys: int, m: int, table: np.ndarray, stash: list[int]) -> pa.Table:
    return pa.Table.from_pydict(
        {
            "bucket": [bucket],
            "n_keys": [n_keys],
            "m_buckets": [m],
            "cuckoo": [_serialize(table, stash)],
        },
        schema=_CUCKOO_ARROW,
    )


def build_cuckoo_per_bucket(
    seen: DataFrame,
    key_col: str = "url_hash",
    bucket_col: str = "bucket",
    m_buckets: Optional[int] = None,
) -> DataFrame:
    """One cuckoo filter per frontier bucket over the seen-set keys.
    ``m_buckets`` fixes the table size (required for incremental inserts
    across snapshots); None sizes each to its key count."""

    def build(key, seen_t):
        keys = _keys(seen_t, key_col)
        m = m_buckets if m_buckets else size_for(len(keys))
        table = np.zeros((m, SLOTS), dtype=np.uint16)
        stash: list[int] = []
        _insert_all(table, stash, keys)
        return _filter_row(key[0].as_py(), len(keys), m, table, stash)

    return seen.select(bucket_col, key_col).groupBy(bucket_col).applyInArrow(
        build, CUCKOO_SCHEMA
    )


def cuckoo_insert_new_keys(
    filters: DataFrame,
    new_seen: DataFrame,
    key_col: str = "url_hash",
    bucket_col: str = "bucket",
    default_m_buckets: int = 1 << 17,
) -> DataFrame:
    """Incremental snapshot update: insert only the NEW keys into each
    bucket's existing table (cuckoo tables are mutable — the filter update
    never rescans the historical seen-set)."""

    def merge(key, old, new):
        if new.num_rows == 0:
            return old.select(_CUCKOO_ARROW.names)
        keys = _keys(new, key_col)
        if old.num_rows == 0:
            m = default_m_buckets
            table = np.zeros((m, SLOTS), dtype=np.uint16)
            stash: list[int] = []
            n_old = 0
        else:
            m = old["m_buckets"][0].as_py()
            table, stash = _deserialize(old["cuckoo"][0].as_py())
            n_old = old["n_keys"][0].as_py()
        _insert_all(table, stash, keys)
        return _filter_row(key[0].as_py(), n_old + len(keys), m, table, stash)

    return (
        filters.groupBy("bucket")
        .cogroup(new_seen.select(bucket_col, key_col).groupBy(bucket_col))
        .applyInArrow(merge, CUCKOO_SCHEMA)
    )


def cuckoo_delete_keys(
    filters: DataFrame,
    removed: DataFrame,
    key_col: str = "url_hash",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Remove keys from the per-bucket filters.  Caller contract
    (standard cuckoo semantics): only delete keys that were actually
    inserted, else a same-fingerprint twin may lose its slot.  Used for seen-set expiry sweeps (404 memo retirement)."""

    def drop(key, filt, rm):
        if filt.num_rows == 0 or rm.num_rows == 0:
            return filt.select(_CUCKOO_ARROW.names)
        table, stash = _deserialize(filt["cuckoo"][0].as_py())
        n_removed = _delete(table, stash, _keys(rm, key_col))
        return _filter_row(
            key[0].as_py(),
            max(0, filt["n_keys"][0].as_py() - n_removed),
            filt["m_buckets"][0].as_py(),
            table,
            stash,
        )

    return (
        filters.groupBy("bucket")
        .cogroup(removed.select(bucket_col, key_col).groupBy(bucket_col))
        .applyInArrow(drop, CUCKOO_SCHEMA)
    )


def cuckoo_anti_join(
    candidates: DataFrame,
    seen: DataFrame,
    key_col: str = "url_hash",
    bucket_col: str = "bucket",
    filters: Optional[DataFrame] = None,
    transients: Optional[list] = None,
) -> DataFrame:
    """candidates ∖ seen on key_col, cuckoo-prefiltered per bucket —
    ≡ ``candidates.join(seen, key, "left_anti")`` (stash ⇒ no false
    negatives).

    The flagged probe output feeds both the definitely-new and the
    exact-check branch, so it is persisted; pass ``transients`` to own
    its release — the caller unpersists every entry once the result is
    materialized.  Without a list the cache lives until the session
    ends."""
    if filters is None:
        filters = build_cuckoo_per_bucket(seen, key_col, bucket_col)

    flagged_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def probe(cand, filt):
        if cand.num_rows and filt.num_rows:
            table, stash = _deserialize(filt["cuckoo"][0].as_py())
            maybe = _contains(table, np.array(stash, dtype=np.int64), _u64(cand, key_col))
        else:
            maybe = np.zeros(cand.num_rows, dtype=bool)
        return cand.append_column("_maybe_seen", pa.array(maybe))

    flagged = (
        candidates.groupBy(bucket_col)
        .cogroup(filters.groupBy("bucket"))
        .applyInArrow(probe, flagged_schema)
        .persist()
    )
    if transients is not None:
        transients.append(flagged)
    definitely_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    needs_check = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")

    # no distinct(): a semi-join's build side ignores duplicates
    maybe_keys = needs_check.select(key_col)
    true_dupes = seen.select(key_col).join(F.broadcast(maybe_keys), key_col, "left_semi")
    checked = needs_check.join(F.broadcast(true_dupes), key_col, "left_anti")
    return definitely_new.unionByName(checked)
