"""Analytic model of parquetjs column-chunk sizes — the comparison side
of the north-rule gate "compressed output size must be <= parquetjs's
compressed column-chunk sizes on the same data" (BASELINE.json:2,6).

We cannot run node in this environment, so the reference's sizes are
reproduced from its format math (SURVEY.md §5d):

* PLAIN BYTE_ARRAY  = sum(4 + len(v))          /root/reference/lib/codec/plain.js:145-162
* PLAIN INT32/FLOAT = 4 * n                    /root/reference/lib/codec/plain.js:30-48,105-123
* PLAIN INT64/DOUBLE= 8 * n                    /root/reference/lib/codec/plain.js:50-68,125-143
* PLAIN BOOLEAN     = ceil(n / 8)              /root/reference/lib/codec/plain.js:5-28
* PLAIN DATE        = INT32 (days)             /root/reference/lib/types.js:54-59
* PLAIN TIMESTAMP_* = INT64                    /root/reference/lib/types.js:60-71
* GZIP              = node zlib.gzipSync, default level (6)
                                               /root/reference/lib/compression.js:52-54
* chunking          = one page per column chunk per row group of 4096
                      rows; DataPageV2 compresses the values section
                      per page                 /root/reference/lib/writer.js:26,355-419

The model is *conservative in the reference's favor*: per-page
overhead is counted as a 24-byte lower bound on the thrift-compact
PageHeader parquetjs actually writes per page (PageType + two sizes +
DataPageHeaderV2{num_values, num_nulls, num_rows, encoding,
definition/repetition level lengths, is_compressed} — serialized at
/root/reference/lib/writer.js:405-417 via TCompactProtocol, ~30-40
bytes in practice), while column/file metadata, level bytes and the
footer are still counted as zero. Our engine's totals include all of
our framing (chunk header, levels, codec payload).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterable, Sequence

import numpy as np

ROW_GROUP_SIZE = 4096  # /root/reference/lib/writer.js:26
PAGE_HEADER_BYTES = 24  # lower bound, thrift PageHeader (see module doc)

_FIXED_WIDTH = {
    "int32": 4,
    "float32": 4,
    "date": 4,
    "int64": 8,
    "float64": 8,
    "timestamp_us": 8,
}


def plain_bytes(values: Sequence, dtype: str) -> bytes:
    """The actual PLAIN byte stream (needed as gzip input)."""
    if dtype in _FIXED_WIDTH:
        np_dt = {
            "int32": "<i4",
            "float32": "<f4",
            "date": "<i4",
            "int64": "<i8",
            "float64": "<f8",
            "timestamp_us": "<i8",
        }[dtype]
        return np.asarray(values).astype(np_dt).tobytes()
    if dtype == "bool":
        return np.packbits(np.asarray(values, dtype=bool), bitorder="little").tobytes()
    if dtype in ("string", "binary"):
        bvals = _as_bytes(values)
        out = bytearray()
        for v in bvals:
            out += len(v).to_bytes(4, "little") + v
        return bytes(out)
    raise ValueError(f"unsupported dtype: {dtype}")


def _as_bytes(values: Iterable) -> list[bytes]:
    return [v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8") for v in values]


def _gzip_size(buf: bytes) -> int:
    # node zlib.gzipSync default: level 6, gzip wrapper (10B header + 8B
    # trailer) — compressobj(wbits=31) produces the identical framing.
    co = zlib.compressobj(level=6, wbits=31)
    return len(co.compress(buf)) + len(co.flush())


def chunked_size(
    values: Sequence,
    dtype: str,
    compression: str = "UNCOMPRESSED",
    row_group_size: int = ROW_GROUP_SIZE,
) -> int:
    """parquetjs total column-chunk bytes for one column: PLAIN encoding,
    one page per 4096-row group, optional per-page GZIP of the values
    section (DataPageV2 semantics, writer.js:355-419). Page/thrift
    overhead counted as zero (conservative, see module doc)."""
    total = 0
    for lo in range(0, len(values), row_group_size):
        group = values[lo : lo + row_group_size]
        raw = plain_bytes(group, dtype)
        if compression == "GZIP":
            total += _gzip_size(raw) + PAGE_HEADER_BYTES
        elif compression == "UNCOMPRESSED":
            total += len(raw) + PAGE_HEADER_BYTES
        else:
            raise ValueError(f"unsupported compression: {compression}")
    return total
