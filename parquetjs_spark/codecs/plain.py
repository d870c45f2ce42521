"""PLAIN encoding — vectorized re-expression of the reference's per-type
encoders (/root/reference/lib/codec/plain.js).

Byte-format parity (verified by golden tests pinned from
/root/reference/test/codec_plain.js):
  BOOLEAN               1 bit/value LSB-first within byte        (plain.js:5-28)
  INT32 / INT64         little-endian fixed-width arrays         (plain.js:30-68)
  FLOAT / DOUBLE        IEEE-754 little-endian arrays            (plain.js:105-143)
  BYTE_ARRAY            4-byte LE length prefix per value        (plain.js:145-162)

Deliberate deviations (documented per SURVEY.md §7.3):
  * INT64 is true 64-bit (the reference is 53-bit-limited via int53,
    plain.js:2,53).
  * INT96 (plain.js:70-103) is skipped — deprecated legacy-timestamp type.

All kernels are NumPy-vectorized: the reference loops per element
(plain.js:31-37); we never do.
"""

from __future__ import annotations

import numpy as np

# --- BOOLEAN ---------------------------------------------------------------


def encode_boolean(values: np.ndarray) -> bytes:
    return np.packbits(
        np.asarray(values, dtype=bool).view(np.uint8), bitorder="little"
    ).tobytes()


def decode_boolean(buf: bytes | memoryview, count: int) -> np.ndarray:
    raw = np.frombuffer(buf, dtype=np.uint8, count=(count + 7) // 8)
    return np.unpackbits(raw, bitorder="little", count=count).astype(bool)


# --- fixed-width numerics ---------------------------------------------------

_NUMERIC_DTYPES = {
    "INT32": "<i4",
    "INT64": "<i8",
    "FLOAT": "<f4",
    "DOUBLE": "<f8",
}


def encode_numeric(ptype: str, values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype=_NUMERIC_DTYPES[ptype]).tobytes()


def decode_numeric(ptype: str, buf: bytes | memoryview, count: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=_NUMERIC_DTYPES[ptype], count=count)


# --- BYTE_ARRAY -------------------------------------------------------------


def encode_byte_array(values: list[bytes]) -> bytes:
    """4-byte LE length prefix + payload per value (plain.js:145-162).

    Lengths and offsets are computed vectorized; the payload is a single
    join. One pass, no per-value struct packing.
    """
    n = len(values)
    if n == 0:
        return b""
    lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=n)
    total = int(lens.sum()) + 4 * n
    out = np.zeros(total, dtype=np.uint8)
    # positions of each length prefix
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(lens[:-1] + 4)
    len_le = lens.astype("<u4").view(np.uint8).reshape(n, 4)
    idx = starts[:, None] + np.arange(4)
    out[idx.reshape(-1)] = len_le.reshape(-1)
    payload = b"".join(values)
    pay = np.frombuffer(payload, dtype=np.uint8)
    # scatter payload between prefixes: build a mask of prefix positions
    mask = np.ones(total, dtype=bool)
    mask[idx.reshape(-1)] = False
    out[mask] = pay
    return out.tobytes()


def encode_int96(vals: "np.ndarray") -> bytes:
    """PLAIN INT96 (/root/reference/lib/codec/plain.js:70-103 parity):
    each value is 12 bytes — the two's-complement int64 little-endian in
    the low 8 bytes plus a 4-byte sign extension (0x00000000 /
    0xFFFFFFFF).  The reference "truncates to 64 actual precision";
    byte layout matches it exactly, built vectorized (one reshape +
    one broadcast, no per-value loop).  Deprecated in the Parquet spec
    — interop/parity codec only, never auto-selected (1.5x PLAIN
    INT64's size by construction)."""
    a = np.ascontiguousarray(vals, dtype="<i8")
    n = len(a)
    out = np.empty((n, 12), dtype=np.uint8)
    out[:, :8] = a.view(np.uint8).reshape(n, 8)
    out[:, 8:] = np.where(a < 0, 0xFF, 0).astype(np.uint8)[:, None]
    return out.tobytes()


def decode_int96(buf, n: int) -> "np.ndarray":
    """Inverse of encode_int96: the low 8 bytes carry the full
    two's-complement value (the sign-extension word is redundant,
    exactly as the reference's decoder treats it)."""
    raw = np.frombuffer(buf, dtype=np.uint8, count=n * 12).reshape(n, 12)
    return np.ascontiguousarray(raw[:, :8]).view("<i8").reshape(n)
