"""Byte-array stream wire format v2: FOR-bitpacked lengths + payload.

The reference's PLAIN BYTE_ARRAY interleaves a 4-byte length prefix with
each value (/root/reference/lib/codec/plain.js:145-175), which forces a
data-dependent sequential walk on decode — O(n) Python ints per chunk.
Our chunk format is our own, so PLAIN string/binary *payloads* (and the
dictionary page inside DICT_RLE chunks) use a split layout instead:

  u32 LE   len(lens_enc)
  lens_enc FOR+bitpack of the n value lengths (codecs/for_bp)
  payload  concatenated value bytes

Decode is then two vectorized steps (unpack lengths, cumsum offsets) —
no per-value work — and the lengths pack to ~1 byte/value for typical
strings vs the reference's fixed 4.  ``plain.encode_byte_array`` (the
reference-parity interleaved format) remains the size-model comparator;
this module is the wire.  The canonical sha-256 feed of a string chunk
is neither: it is payload ++ ``|`` ++ int64-LE lengths
(``arrow_chunk._sha_update_values``).
"""

from __future__ import annotations

import numpy as np

from . import for_bp


def encode_lens_payload(lens: np.ndarray, payload) -> bytes:
    """``payload`` is any bytes-like (bytes or a zero-copy memoryview of
    the arrow buffer); the join below is the single unavoidable copy
    that materializes the wire."""
    lens_enc = for_bp.encode(np.ascontiguousarray(lens, dtype=np.int64))
    return b"".join((len(lens_enc).to_bytes(4, "little"), lens_enc, payload))


def decode_lens_payload(buf: memoryview | bytes, n: int):
    """-> (offsets int64[n+1], payload) — payload is a ZERO-COPY
    memoryview into ``buf`` (which it keeps alive); callers needing
    real bytes wrap it themselves."""
    mv = memoryview(buf)
    lens_len = int.from_bytes(bytes(mv[:4]), "little")
    lens = for_bp.decode(mv[4 : 4 + lens_len], n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return offsets, mv[4 + lens_len :]


def encode_byte_arrays(values: list[bytes]) -> bytes:
    n = len(values)
    lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=n)
    return encode_lens_payload(lens, b"".join(values))


def decode_byte_arrays(buf: memoryview | bytes, n: int) -> list[bytes]:
    offsets, data = decode_lens_payload(buf, n)
    data = bytes(data)  # list-of-bytes API: values must be real bytes
    return [data[offsets[i] : offsets[i + 1]] for i in range(n)]
