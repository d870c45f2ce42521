"""Chunk wire constants and the numeric half of the column-chunk encoder.

A chunk is one column's values for one row group, encoded into a blob
(the analogue of parquetjs ``encodeColumnChunk``/``readColumnChunk``,
lib/writer.js:424-477 and lib/reader.js:237-262, with DataPageV2
semantics: values compressed, levels raw).  ``arrow_chunk`` builds and
reads blobs from Arrow arrays and owns the string codecs.  This module
holds what both sides of the wire agree on, and the numeric codecs:

* the blob header (``pack_header``/``parse_header``) and the logical
  dtype ids;
* ``codec_supports``, the static codec/dtype compatibility table;
* the value-section dispatch for numeric, temporal and bool values
  (``_encode_values``/``_decode_values``);
* the numeric codec selector (``select_codec``) and what it shares with
  the string selector: sample bounds and the per-column decision cache.

Chunk blob layout (version 1), little-endian:

  0..3   magic  b"PCH1"
  4      dtype id   (logical column dtype, DTYPE_IDS)
  5      codec id   (value encoding, codecs.CODEC_IDS)
  6      compression id (applied to the values section only, like
         DataPageV2 — parquetjs lib/writer.js:392-395)
  7      flags: bit0 = has nulls (set iff n_nulls > 0; no other bit)
  8..11  u32 n_values (incl. nulls)
  12..15 u32 n_nulls
  16..19 u32 len(levels)   — definition levels as RLE bitWidth=1, no
         envelope (degenerate Dremel: dLevelMax=1, SURVEY.md §1.3)
  20..23 u32 len(values_compressed)
  levels bytes ++ values bytes

Null handling is Parquet's: the values section stores non-null values
only; the levels rebuild the mask (parquetjs lib/shred.js:100-114).
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import (
    BSS,
    CODEC_IDS,
    CODEC_NAMES,
    DICT_RLE,
    FLBA,
    FOR_BITPACK,
    FSST,
    INCR,
    INT96,
    PLAIN,
    RLE,
    bss,
    compress as comp,
    dictionary,
    for_bp,
    plain,
    rle,
)
from .codecs.util import bit_width

MAGIC = b"PCH1"

# logical dtypes of the engine (SURVEY.md §1.2 Spark-equivalent column)
DTYPE_IDS = {
    "int64": 0,
    "int32": 1,
    "float64": 2,
    "float32": 3,
    "bool": 4,
    "string": 5,
    "binary": 6,
    "date": 7,  # int32 days since epoch (lib/types.js:54-59 semantics)
    "timestamp_us": 8,  # int64 micros (lib/types.js:60-71 semantics)
    # one-level repeated fields (Dremel rLevelMax=1, SURVEY.md §1.3 /
    # /root/reference/lib/shred.js:28-73 for `repeated` leaves): stored
    # as per-row element counts (the repetition-level run-length form)
    # + the flattened elements under any scalar codec. Element-level
    # nulls are not supported (reference repeated fields are non-null
    # per value too: a missing value just ends the repetition).
    "list_int64": 9,
    "list_int32": 10,
    "list_float64": 11,
    "list_float32": 12,
    "list_string": 13,
    "list_bool": 15,
    "list_binary": 16,
    # DECIMAL(p<=18, s) carried as unscaled int64 under any int codec;
    # precision/scale live in the values header (the reference lacks
    # DECIMAL entirely — parquet.thrift:79 enum only, no lib/types.js
    # entry — this is a Spark-first extension)
    "decimal": 14,
    # INTERVAL (reference lib/types.js:124-130: FLBA(12) of
    # {months,days,millis}) — Spark's representable slice is
    # DayTimeIntervalType, carried as int64 MICROS under any int codec
    # (the months component has no Spark day-time equivalent;
    # YearMonthIntervalType is unsupported by Spark's Arrow bridge —
    # UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION — so it stays n-a)
    "interval_dt": 18,
    # TIME_MICROS analogue (reference lib/types.js:44-53): Spark 4's
    # TimeType crosses the Arrow bridge as time64[ns]; carried as int64
    # NANOS-since-midnight under any int codec
    "time_ns": 19,
    # multi-level repetition (Dremel rLevelMax > 1, the reference's
    # nested-repeated shapes — /root/reference/lib/shred.js:75-135
    # recursion, test/shred.js nested-repeated cases): one id for ANY
    # list-of-list dtype ("list_list_int64", "list_list_list_string",
    # ...).  The values payload is outer per-row counts + a complete
    # recursive inner chunk blob, which carries its own dtype byte —
    # so the id does not need to encode the element type or depth.
    "list_nested": 17,
}
DTYPE_NAMES = {v: k for k, v in DTYPE_IDS.items()}


def dtype_id(dtype: str) -> int:
    # chunk-header id; parametrized decimals share one id (p/s travel
    # in the values header), nested lists share one id (the element
    # dtype travels in the embedded inner chunk's own header)
    if dtype.startswith("decimal("):
        return DTYPE_IDS["decimal"]
    if dtype.startswith("list_list_"):
        return DTYPE_IDS["list_nested"]
    return DTYPE_IDS[dtype]


_HEADER = struct.Struct("<4s4B4I")


def pack_header(
    dtype: str, codec: str, compression: str, flags: int,
    n: int, n_nulls: int, levels_len: int, values_len: int,
) -> bytes:
    """The 24-byte blob header (layout in the module docstring)."""
    return _HEADER.pack(
        MAGIC, dtype_id(dtype), CODEC_IDS[codec], comp.comp_id(compression),
        flags, n, n_nulls, levels_len, values_len,
    )


def parse_header(mv: memoryview):
    """Blob header -> (dtype, codec, compression, flags, n, n_nulls,
    levels_len, values_len).  ``dtype`` is the header's dtype name:
    decimals read as "decimal" and nested lists as "list_nested", their
    parameters travel in the values section.  ``mv`` must be the whole
    blob: a header that disagrees with it raises ValueError."""
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("bad chunk magic")
    if len(mv) < _HEADER.size:
        raise ValueError("truncated chunk header")
    _, d, c, z, flags, n, n_nulls, levels_len, values_len = _HEADER.unpack_from(mv)
    if _HEADER.size + levels_len + values_len != len(mv):
        raise ValueError(
            f"chunk section lengths {levels_len} + {values_len} do not "
            f"match the {len(mv)}-byte blob"
        )
    if n_nulls > n:
        raise ValueError(f"chunk n_nulls {n_nulls} exceeds n {n}")
    if flags & ~1:
        raise ValueError(f"unknown chunk flags {flags:#x}")
    if bool(flags & 1) != (n_nulls > 0):
        raise ValueError(f"chunk has-nulls flag {flags & 1} disagrees with n_nulls {n_nulls}")
    if levels_len and not flags & 1:
        raise ValueError(f"chunk has {levels_len} level bytes but no has-nulls flag")
    try:
        names = DTYPE_NAMES[d], CODEC_NAMES[c], comp.comp_name(z)
    except KeyError:
        raise ValueError(
            f"unknown chunk dtype/codec/compression id {d}/{c}/{z}"
        ) from None
    return (*names, flags, n, n_nulls, levels_len, values_len)


_INT_LIKE = {
    "int64", "int32", "date", "timestamp_us", "interval_dt", "time_ns", "bool",
}
_PTYPE = {
    "int64": "INT64",
    "int32": "INT32",
    "float64": "DOUBLE",
    "float32": "FLOAT",
    "date": "INT32",
    "timestamp_us": "INT64",
    "interval_dt": "INT64",
    "time_ns": "INT64",
}

def codec_supports(codec: str, dtype: str) -> bool:
    """Static codec/dtype compatibility — used by encode_columns to
    reject a forced codec that cannot encode one of its leaves with one
    ValueError before any job starts, instead of a raw executor
    traceback mid-encode (the CLI exits 2 on it).  Mirrors
    the ``_encode_values`` and ``arrow_chunk._encode_string_block``
    dispatch: list dtypes check their leaf
    element, decimals ride the int64 unscaled path.  Data-dependent
    constraints (RLE non-negativity, FLBA equal lengths) are not
    static and still raise at encode time."""
    while dtype.startswith("list_"):
        dtype = dtype[len("list_"):]
    if dtype.startswith("decimal("):
        dtype = "int64"
    if dtype in _INT_LIKE:
        if codec in (PLAIN, FOR_BITPACK, DICT_RLE, RLE):
            return True
        return codec in (BSS, INT96) and dtype != "bool"
    if dtype in ("float64", "float32"):
        return codec in (PLAIN, DICT_RLE, BSS)
    return codec in (PLAIN, FLBA, DICT_RLE, FSST, INCR)


SAMPLE_VALUES = 4096  # selector cardinality/run sample
# selector FSST-vs-zlib measurement sample: must be >> zlib's 32 KB
# window or PLAIN+zlib looks artificially strong (measured on the
# synthetic content column: fsst/plain size ratio reads 0.997 at 64 KB
# vs 0.867 ground truth at 8 MB; 512 KB reads 0.895). The cost is
# amortized by the per-column selector decision cache (SEL_CACHE_USES).
SAMPLE_BYTES = 1 << 19
# FSST selector-probe bounds: the PROBE table trains on a small slice
# (training cost is ~linear in sample bytes and dominates the per-task
# cost of string encode; a probe-quality table reads ~3-10% pessimistic
# for FSST, a bias AGAINST the slow-decode codec) and the probe
# compresses a mid-size slice (the symbol-table ratio has no
# compression window to fill, so unlike the PLAIN+zstd side it
# converges at ~128 KB).  If FSST WINS, the actual encoder trains a
# full-quality table from SAMPLE_BYTES.
PROBE_TRAIN_BYTES = 8192
PROBE_FSST_BYTES = 1 << 17
SEL_CACHE_USES = 16  # chunks per task re-using one selector decision


# --------------------------------------------------------------------------
# selector decision cache, shared by the numeric and string selectors
# --------------------------------------------------------------------------


def _rle_fits(vmin: int, vmax: int) -> bool:
    """RLE's data precondition: non-negative values of at most 32 bits."""
    return vmin >= 0 and bit_width(vmax) <= 32


def cached_selection(fsst_state: dict | None, ints=None, lens=None) -> str | None:
    """The column's cached codec decision if this chunk may reuse it.

    One column's chunks within a task are near-i.i.d., so re-measuring
    every chunk wastes encode CPU; a decision is reused for
    SEL_CACHE_USES chunks, then measured again to bound drift.  Two
    picks carry a data precondition that a later chunk may break, and
    are re-validated on this chunk's values first (a valid input must
    not crash the encode): RLE on ``ints``, FLBA's uniform widths on
    ``lens``.  A stale or invalid decision is dropped."""
    if fsst_state is None or "sel" not in fsst_state:
        return None
    sel = fsst_state["sel"]
    ok = fsst_state["sel_uses"] < SEL_CACHE_USES
    if ok and sel == RLE:
        ok = _rle_fits(int(ints.min()), int(ints.max()))
    elif ok and sel == FLBA:
        ok = bool((lens == lens[0]).all())
    if not ok:
        del fsst_state["sel"]
        return None
    fsst_state["sel_uses"] += 1
    return sel


def cache_selection(fsst_state: dict | None, choice: str) -> None:
    if fsst_state is not None:
        fsst_state["sel"] = choice
        fsst_state["sel_uses"] = 0


# --------------------------------------------------------------------------
# value-section codecs for numeric, temporal and bool values (string and
# binary values are StrBlocks, encoded in arrow_chunk)
# --------------------------------------------------------------------------


def _encode_int_values(vals: np.ndarray, dtype: str, codec: str) -> bytes:
    work = np.ascontiguousarray(vals, dtype=np.int64)
    if codec == PLAIN:
        if dtype == "bool":
            return plain.encode_boolean(vals)
        return plain.encode_numeric(_PTYPE[dtype], vals)
    if codec == FOR_BITPACK:
        return for_bp.encode(work)
    if codec == DICT_RLE:
        return dictionary.encode(vals, _PTYPE.get(dtype, "INT64"))
    if codec == RLE:
        if len(work) and work.min() < 0:
            raise ValueError("RLE requires non-negative values")
        width = bit_width(int(work.max())) if len(work) else 0
        return bytes([width]) + rle.encode(
            work.astype(np.uint64), width, disable_envelope=True
        )
    if codec == BSS and dtype != "bool":
        # natural storage width (INT32 dtypes -> 4-byte planes)
        nt = np.int32 if _PTYPE.get(dtype) == "INT32" else np.int64
        return bss.encode(np.ascontiguousarray(vals, dtype=nt))
    if codec == INT96 and dtype != "bool":
        return plain.encode_int96(work)
    raise ValueError(f"codec {codec} unsupported for {dtype}")


def _decode_int_values(buf: memoryview, n: int, dtype: str, codec: str):
    if codec == PLAIN:
        if dtype == "bool":
            return plain.decode_boolean(buf, n)
        return plain.decode_numeric(_PTYPE[dtype], buf, n)
    if codec == FOR_BITPACK:
        return for_bp.decode(buf, n)
    if codec == DICT_RLE:
        return dictionary.decode(buf, n, _PTYPE.get(dtype, "INT64"))
    if codec == RLE:
        width = buf[0]
        return rle.decode(memoryview(buf)[1:], n, width, disable_envelope=True).view(
            np.int64
        )
    if codec == BSS and dtype != "bool":
        nt = np.int32 if _PTYPE.get(dtype) == "INT32" else np.int64
        return bss.decode(buf, n, nt)
    if codec == INT96 and dtype != "bool":
        return plain.decode_int96(buf, n)
    raise ValueError(f"codec {codec} unsupported for {dtype}")


def _encode_values(vals, dtype: str, codec: str) -> bytes:
    if dtype in _INT_LIKE:
        return _encode_int_values(np.asarray(vals), dtype, codec)
    if codec == PLAIN:
        return plain.encode_numeric(_PTYPE[dtype], np.asarray(vals))
    if codec == DICT_RLE:
        return dictionary.encode(np.asarray(vals), _PTYPE[dtype])
    if codec == BSS:
        dt = np.float64 if dtype == "float64" else np.float32
        return bss.encode(np.asarray(vals, dtype=dt))
    raise ValueError(f"codec {codec} unsupported for {dtype}")


def _decode_values(buf: memoryview, n: int, dtype: str, codec: str):
    if dtype in _INT_LIKE:
        return _decode_int_values(buf, n, dtype, codec)
    if codec == PLAIN:
        return plain.decode_numeric(_PTYPE[dtype], buf, n)
    if codec == DICT_RLE:
        return dictionary.decode(buf, n, _PTYPE[dtype])
    if codec == BSS:
        return bss.decode(buf, n, np.float64 if dtype == "float64" else np.float32)
    raise ValueError(f"codec {codec} unsupported for {dtype}")


# --------------------------------------------------------------------------
# numeric codec auto-selector (SURVEY.md §7.1 step 3): sampled
# cardinality / run-length statistics, then a measured post-compression
# comparison -> cheapest codec per chunk.  This replaces the reference's
# static per-schema declaration (parquetjs lib/schema.js:129-135) with a
# runtime decision.  arrow_chunk._select_string_codec is its string half.
# --------------------------------------------------------------------------


def select_codec(vals, dtype: str, fsst_state: dict | None = None) -> tuple[str, dict]:
    """Return (codec_name, selector_stats) for the non-null values of a
    numeric, temporal or bool chunk.

    ``fsst_state`` is the optional per-task, per-column state dict that
    holds the decision cache (``cached_selection``).  The smallest
    measured candidate wins."""
    n = len(vals)
    info: dict = {"n_sampled": min(n, SAMPLE_VALUES)}
    if n == 0 or dtype == "bool":
        return PLAIN, info
    arr = np.asarray(vals)
    sel = cached_selection(fsst_state, ints=arr)
    if sel is not None:
        return sel, {"cached": True}
    sample = arr[:SAMPLE_VALUES]
    ds = dictionary.stats(sample, _PTYPE[dtype])
    scale = n / len(sample)
    width = arr.dtype.itemsize
    raw_cands = {
        PLAIN: len(sample) * width,
        DICT_RLE: int(ds["est_size"]),
    }
    # BSS is size-neutral raw (same n*width bytes as PLAIN) — its
    # win is post-compression only, so it always enters the
    # measured z-comparison below rather than the analytic cut.
    # Floats AND int-likes: byte planes of sorted timestamps or
    # zipf ints compress ~16% past FOR/PLAIN (measured), and the
    # comparison rejects it where they don't
    raw_cands[BSS] = len(sample) * width
    if dtype in _INT_LIKE:
        vmin, vmax = int(arr.min()), int(arr.max())
        raw_cands[FOR_BITPACK] = for_bp.estimated_size(len(sample), vmin, vmax)
        if _rle_fits(vmin, vmax):
            runs = ds["runs"]
            raw_cands[RLE] = int(runs * (2 + (bit_width(vmax) + 7) // 8)) + 1
    # The analytic sizes rank pre-compression, but blocks get zlib'd
    # afterwards and codecs respond to it very differently (PLAIN on
    # zipf ints often beats DICT post-zlib).  Measure post-zlib on the
    # sample for every candidate within 3x of the analytic best; the
    # decision cache bounds the cost to ~1 measurement per 16 chunks.
    best_raw = min(raw_cands.values())
    cands: dict[str, int] = {}
    for c, est in raw_cands.items():
        if est > 3 * best_raw + 64:
            cands[c] = int(est * scale)
            continue
        try:
            enc = _encode_values(sample, dtype, c)
        except ValueError:
            continue
        z_len = comp.size_estimate(enc)
        cands[c] = int(min(len(enc), z_len + 16) * scale)
    info.update(cardinality=ds["cardinality"], runs=ds["runs"], sizes=cands)
    choice = min(cands, key=cands.get)
    cache_selection(fsst_state, choice)
    return choice, info
