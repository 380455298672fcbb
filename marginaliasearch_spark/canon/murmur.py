"""Bit-exact port of the reference's URL-seen hash function.

The reference hashes URLs with a modified MurmurHash3 x64-128 that

  1. operates on the *low byte of each UTF-16 code unit* of the string
     ("nearly ASCII" flattening),
  2. is seeded with Java ``String.hashCode()`` of the same string,
  3. folds the 128-bit result to 64 bits via ``h1 ^ h2``.

(ref semantics: third-party/commons-codec/src/main/java/nu/marginalia/hash/
MurmurHash3_128.java:56-58,85-175 — reimplemented from the published
MurmurHash3 algorithm + observed seeding/flattening behavior; golden vectors
generated from the reference live in tests/golden/murmur.tsv)

The URL-seen hash is then
    ``murmur(domain) ^ murmur(path) ^ (murmur(param) if param)``
(ref: code/processes/crawling-process/java/nu/marginalia/crawl/retreival/
DomainCrawlFrontier.java:144-151).

Two implementations are provided:

- scalar (``hash_nearly_ascii``) — reference implementation, used by the
  single-threaded oracle and for golden-vector verification;
- numpy batch (``hash_nearly_ascii_batch``) — vectorized over a padded byte
  matrix, used inside Arrow UDFs on the Spark side so the hot path does no
  per-row Python.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix64(h: int) -> int:
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & _M64
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & _M64
    h ^= h >> 33
    return h


def _utf16_units(s: str) -> bytes:
    """Low byte of each UTF-16 code unit (the 'nearly ASCII' flattening)."""
    return s.encode("utf-16-le")[::2]


def _utf16_codes(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-16-le"), dtype="<u2")


_POW31 = np.empty(0, dtype=np.uint64)


def _pow31(n: int) -> np.ndarray:
    """31^(n-1-i) mod 2^32 for i in [0,n) — grown on demand, cached."""
    global _POW31
    if len(_POW31) < n:
        m = max(n, 256)
        p = np.empty(m, dtype=np.uint64)
        p[m - 1] = 1
        for i in range(m - 2, -1, -1):
            p[i] = (p[i + 1] * np.uint64(31)) & np.uint64(0xFFFFFFFF)
        _POW31 = p
    return _POW31[len(_POW31) - n :]


def java_string_hashcode(s: str) -> int:
    """Java String.hashCode(): h = 31*h + c over UTF-16 code units, int32.
    Vectorized as a dot product with 31^k mod 2^32 (n·2^16·2^32 < 2^64,
    so the uint64 accumulator cannot overflow for any real URL)."""
    codes = _utf16_codes(s)
    n = len(codes)
    if n == 0:
        return 0
    if n >= (1 << 16):  # accumulator overflow guard: scalar fallback
        h = 0
        for c in codes:
            h = (h * 31 + int(c)) & 0xFFFFFFFF
        return h - (1 << 32) if h >= (1 << 31) else h
    h = int((codes.astype(np.uint64) * _pow31(n)).sum()) & 0xFFFFFFFF
    # sign-extend to Java int
    return h - (1 << 32) if h >= (1 << 31) else h


def _to_signed64(x: int) -> int:
    x &= _M64
    return x - (1 << 64) if x >= (1 << 63) else x


@lru_cache(maxsize=1 << 17)
def hash_nearly_ascii(s: str) -> int:
    """64-bit 'nearlyASCII' murmur of a Python string, as signed int64.

    LRU-cached: the crawl loop re-hashes the same domain/path strings many
    times (every membership probe hashes the domain again); the cache is
    per-process (per Spark python worker), bounded, and safe because the
    function is pure.
    """
    data = _utf16_units(s)
    length = len(data)
    seed = java_string_hashcode(s) & _M64  # sign-extends into 64 bits
    h1 = seed
    h2 = seed

    nblocks = length >> 4
    for i in range(nblocks):
        off = i << 4
        k1 = int.from_bytes(data[off : off + 8], "little")
        k2 = int.from_bytes(data[off + 8 : off + 16], "little")

        k1 = (k1 * _C1) & _M64
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _M64
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _M64
        h1 = (h1 * 5 + 0x52DCE729) & _M64

        k2 = (k2 * _C2) & _M64
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _M64
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _M64
        h2 = (h2 * 5 + 0x38495AB5) & _M64

    tail = data[nblocks << 4 :]
    tlen = len(tail)
    if tlen > 8:
        k2 = int.from_bytes(tail[8:], "little")
        k2 = (k2 * _C2) & _M64
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _M64
        h2 ^= k2
    if tlen > 0:
        k1 = int.from_bytes(tail[:8], "little")
        k1 = (k1 * _C1) & _M64
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _M64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64

    return _to_signed64(h1 ^ h2)


def hash_url_parts(domain: str, path: str, param: str | None) -> int:
    """The frontier's URL-seen hash (DomainCrawlFrontier.hashUrl semantics)."""
    h = hash_nearly_ascii(domain) ^ hash_nearly_ascii(path)
    if param is not None:
        h ^= hash_nearly_ascii(param)
    return _to_signed64(h)


# ---------------------------------------------------------------------------
# Vectorized batch implementation (numpy, used inside Arrow UDFs)
# ---------------------------------------------------------------------------

_U64 = np.uint64


def _pad_matrices(strings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(codes uint16 [B,L], lowbytes uint8 [B,L], lengths int64 [B]).

    One flat decode + vectorized scatter — no per-string numpy calls
    (the per-string frombuffer/assign loop was the batch kernel's
    bottleneck at ~150k strings/s; this form runs ~3× faster)."""
    encoded = [s.encode("utf-16-le") for s in strings]
    lengths = np.fromiter((len(e) >> 1 for e in encoded), dtype=np.int64, count=len(encoded))
    maxlen = int(lengths.max(initial=0))
    codes = np.zeros((len(encoded), max(maxlen, 1)), dtype="<u2")
    total = int(lengths.sum())
    if total:
        flat = np.frombuffer(b"".join(encoded), dtype="<u2")
        offsets = np.zeros(len(encoded), dtype=np.int64)
        np.cumsum(lengths[:-1], out=offsets[1:])
        rows = np.repeat(np.arange(len(encoded)), lengths)
        cols = np.arange(total) - np.repeat(offsets, lengths)
        codes[rows, cols] = flat
    low = (codes & 0xFF).astype(np.uint8)
    return codes, low, lengths


def _hashcode_batch(codes: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Vectorized Java String.hashCode over a padded code-unit matrix."""
    h = np.zeros(codes.shape[0], dtype=np.uint32)
    pos = np.arange(codes.shape[1])
    for j in range(codes.shape[1]):
        active = lengths > pos[j]
        nh = h * np.uint32(31) + codes[:, j].astype(np.uint32)
        h = np.where(active, nh, h)
    return h.astype(np.int32)


def _le_u64(mat: np.ndarray) -> np.ndarray:
    """Little-endian uint64 from an [B,8] uint8 slice."""
    out = np.zeros(mat.shape[0], dtype=_U64)
    for b in range(8):
        out |= mat[:, b].astype(_U64) << _U64(8 * b)
    return out


def _rotl_v(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _fmix64_v(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U64(33))
    h = h * _U64(0xFF51AFD7ED558CCD)
    h = h ^ (h >> _U64(33))
    h = h * _U64(0xC4CEB9FE1A85EC53)
    h = h ^ (h >> _U64(33))
    return h


def hash_nearly_ascii_batch(strings) -> np.ndarray:
    """Vectorized hash_nearly_ascii over a sequence of strings → int64 array.

    Processes all strings in lockstep over 16-byte blocks of a padded byte
    matrix; per-string state only advances while the string still has full
    blocks left.  Matches the scalar implementation bit-for-bit (tested with
    hypothesis in tests/test_murmur.py).
    """
    n = len(strings)
    if n == 0:
        return np.empty(0, dtype=np.int64)

    codes, low, lengths = _pad_matrices(strings)
    with np.errstate(over="ignore"):
        seed = _hashcode_batch(codes, lengths).astype(np.int64).astype(_U64)
        h1 = seed.copy()
        h2 = seed.copy()

        c1 = _U64(_C1)
        c2 = _U64(_C2)
        nblocks = (lengths >> 4).astype(np.int64)
        maxblocks = int(nblocks.max(initial=0))

        for i in range(maxblocks):
            off = i << 4
            active = nblocks > i
            k1 = _le_u64(low[:, off : off + 8])
            k2 = _le_u64(low[:, off + 8 : off + 16])

            k1 = k1 * c1
            k1 = _rotl_v(k1, 31)
            k1 = k1 * c2
            nh1 = h1 ^ k1
            nh1 = _rotl_v(nh1, 27)
            nh1 = nh1 + h2
            nh1 = nh1 * _U64(5) + _U64(0x52DCE729)
            h1 = np.where(active, nh1, h1)

            k2 = k2 * c2
            k2 = _rotl_v(k2, 33)
            k2 = k2 * c1
            nh2 = h2 ^ k2
            nh2 = _rotl_v(nh2, 31)
            nh2 = nh2 + h1  # note: uses the (possibly-updated) h1; inactive rows
            nh2 = nh2 * _U64(5) + _U64(0x38495AB5)
            h2 = np.where(active, nh2, h2)

        # tails: gather up to 15 bytes starting at 16*nblocks per string
        tail_start = (nblocks << 4).astype(np.int64)
        tail_len = lengths - tail_start
        idx = tail_start[:, None] + np.arange(16)
        idx_clamped = np.minimum(idx, low.shape[1] - 1)
        gathered = np.take_along_axis(low, idx_clamped, axis=1)
        valid = idx < lengths[:, None]
        gathered = np.where(valid, gathered, 0).astype(np.uint8)

        k2 = _le_u64(np.ascontiguousarray(gathered[:, 8:16]))
        # byte 15 is never included (max tail is 15 bytes → indices 8..14)
        k2 &= _U64(0x00FFFFFFFFFFFFFF)
        k2 = k2 * c2
        k2 = _rotl_v(k2, 33)
        k2 = k2 * c1
        h2 = np.where(tail_len > 8, h2 ^ k2, h2)

        k1 = _le_u64(np.ascontiguousarray(gathered[:, 0:8]))
        k1 = k1 * c1
        k1 = _rotl_v(k1, 31)
        k1 = k1 * c2
        h1 = np.where(tail_len > 0, h1 ^ k1, h1)

        ulen = lengths.astype(_U64)
        h1 = h1 ^ ulen
        h2 = h2 ^ ulen
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64_v(h1)
        h2 = _fmix64_v(h2)
        h1 = h1 + h2
        h2 = h2 + h1

        return (h1 ^ h2).view(np.int64).copy()


def hash_url_parts_batch(domains, paths, params) -> np.ndarray:
    """Vectorized DomainCrawlFrontier.hashUrl over parallel sequences.

    ``params`` entries may be None; those contribute nothing to the XOR.
    """
    hd = hash_nearly_ascii_batch(list(domains)).view(np.uint64)
    hp = hash_nearly_ascii_batch(list(paths)).view(np.uint64)
    out = hd ^ hp
    param_list = list(params)
    has_param = np.array([p is not None for p in param_list])
    if has_param.any():
        hq = hash_nearly_ascii_batch([p if p is not None else "" for p in param_list]).view(
            np.uint64
        )
        out = np.where(has_param, out ^ hq, out)
    return out.view(np.int64).copy()
