"""Block compression, applied to an encoded values section — the analogue
of the reference's per-column-chunk compression
(/root/reference/lib/compression.js:40-101).

Always available: UNCOMPRESSED (identity, compression.js:48-50), GZIP
(zlib, compression.js:52-54), ZLIB (raw deflate-with-header — cheaper
framing than gzip, our default).  SNAPPY and BROTLI — optional,
lazy-required in the reference (compression.js:33-35, :56-70) — are
served by pyarrow's bundled C++ codecs (no extra install); LZ4 and ZSTD
are added beyond the reference because they are standard Parquet codecs
a Spark-native engine is expected to speak.

Wire detail: pyarrow's one-shot ``Codec.decompress`` requires the exact
decompressed size up front, so every pyarrow-backed codec stores an
8-byte LE raw-length prefix ahead of the compressed bytes.  zlib/gzip
streams are self-terminating and stay prefix-free (blob compatibility
with round 1).
"""

from __future__ import annotations

import gzip
import zlib

import pyarrow as pa

UNCOMPRESSED = "UNCOMPRESSED"
ZLIB = "ZLIB"
GZIP = "GZIP"
SNAPPY = "SNAPPY"
BROTLI = "BROTLI"
LZ4 = "LZ4"
ZSTD = "ZSTD"

_IDS = {UNCOMPRESSED: 0, ZLIB: 1, GZIP: 2, SNAPPY: 3, BROTLI: 4, LZ4: 5, ZSTD: 6}
_NAMES = {v: k for k, v in _IDS.items()}

# pyarrow codec name per compression (brotli at the reference's quality 8,
# compression.js:64-70)
_PA_CODECS: dict[str, pa.Codec] = {}


def _pa_codec(name: str) -> pa.Codec:
    codec = _PA_CODECS.get(name)
    if codec is None:
        if name == SNAPPY:
            codec = pa.Codec("snappy")
        elif name == BROTLI:
            codec = pa.Codec("brotli", compression_level=8)
        elif name == LZ4:
            codec = pa.Codec("lz4")
        elif name == ZSTD:
            codec = pa.Codec("zstd")
        else:
            raise ValueError(f"unsupported compression: {name}")
        _PA_CODECS[name] = codec
    return codec


def available() -> list[str]:
    out = [UNCOMPRESSED, ZLIB, GZIP]
    for name in (SNAPPY, BROTLI, LZ4, ZSTD):
        try:
            _pa_codec(name)
            out.append(name)
        except Exception:  # pragma: no cover - codec not compiled in
            pass
    return out


def compress(name: str, data: bytes) -> bytes:
    if name == UNCOMPRESSED:
        return data
    if name == ZLIB:
        return zlib.compress(data, 6)
    if name == GZIP:
        return gzip.compress(data, 6)
    body = _pa_codec(name).compress(data, asbytes=True)
    return len(data).to_bytes(8, "little") + body


def _max_raw_len(name: str, body_len: int) -> int | None:
    """The most bytes ``body_len`` compressed bytes can decode to in
    ``name``'s format; None where no useful bound exists (BROTLI, whose
    commands copy megabytes from a few bits).
      ZSTD   every block carries a 3-byte header and yields at most
             128 KiB (the per-block bound ZSTD_decompressBound uses);
      SNAPPY a 3-byte copy element yields at most 64 bytes, and no
             element yields more per byte;
      LZ4    a match yields at most 255 bytes per compressed byte."""
    if name == ZSTD:
        return -(-body_len // 3) * (128 << 10)
    if name == SNAPPY:
        return -(-body_len // 3) * 64
    if name == LZ4:
        return body_len * 255
    return None


def decompress(name: str, data) -> bytes:
    """``data`` may be bytes or a zero-copy memoryview into the blob.  The
    8-byte raw-length prefix sizes the output buffer, so a prefix beyond
    what the body can yield raises ValueError before allocating."""
    if name == UNCOMPRESSED:
        return data
    if name == ZLIB:
        return zlib.decompress(data)
    if name == GZIP:
        return gzip.decompress(bytes(data))
    if len(data) < 8:
        raise ValueError(f"{name} section shorter than its 8-byte length prefix")
    raw_len = int.from_bytes(bytes(data[:8]), "little")
    bound = _max_raw_len(name, len(data) - 8)
    if bound is not None and raw_len > bound:
        raise ValueError(
            f"{name} length prefix {raw_len} exceeds the {bound} bytes a "
            f"{len(data) - 8}-byte body can yield"
        )
    return _pa_codec(name).decompress(data[8:], raw_len, asbytes=True)


_ZSTD_SMALL: pa.Codec | None = None


def auto_compress(data: bytes) -> tuple[str, bytes]:
    """The 'auto' block-compression policy: ZSTD — the pyarrow default
    level for large sections (measured on the documents corpus: matches
    zlib-6's size on FSST payloads at ~5x the encode speed and ~3x the
    decode speed), level 5 for sections <= 64 KB (numeric/RLE/DICT
    chunks).  Re-measured round 7 on the real per-column lineitem value
    sections: the previous level 9 bought only 0.5-4% size over mid
    levels while costing 2-4x the CPU — and the sections the 0.97 gate
    stores UNCOMPRESSED anyway (packed ids, high-entropy floats) still
    paid the slow attempt on every chunk; level 5 is smaller than 9 was
    nowhere worse than 0.3% and ~2.4x faster end-to-end (whole-table
    encode 1.38 s -> 1.17 s, ratio 0.2297 -> 0.2273).  Kept only if it
    buys >= 3% (decode isn't free); falls back to zlib if zstd isn't
    compiled in.  Explicit compression names bypass this policy.  The
    wire id is plain ZSTD either way — frames self-describe, decode is
    level-blind."""
    global _ZSTD_SMALL
    try:
        if len(data) <= 65536:
            if _ZSTD_SMALL is None:
                _ZSTD_SMALL = pa.Codec("zstd", compression_level=5)
            z = len(data).to_bytes(8, "little") + _ZSTD_SMALL.compress(
                data, asbytes=True
            )
        else:
            z = compress(ZSTD, data)
        name = ZSTD
    except Exception:  # pragma: no cover - zstd not compiled in
        z = zlib.compress(data, 6)
        name = ZLIB
    if len(z) < 0.97 * len(data) - 16:
        return name, z
    return UNCOMPRESSED, data


def size_estimate(data: bytes) -> int:
    """Post-block-compression size estimate for the codec selector —
    must measure with the same compressor auto_compress applies, or the
    selector optimizes candidates for the wrong target."""
    return len(auto_compress(data)[1])


def comp_id(name: str) -> int:
    return _IDS[name]


def comp_name(cid: int) -> str:
    return _NAMES[cid]
