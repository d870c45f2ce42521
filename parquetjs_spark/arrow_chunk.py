"""Arrow-native column-chunk encode, decode and verify: the engine's one
chunk path.

``encode_arrow_column`` turns one Arrow column chunk into a blob plus
its manifest stats (codec, sizes, canonical sha256, bloom);
``decode_arrow_column`` and ``verify_arrow`` read it back.  The blob
header and the dtype ids are defined in ``chunk``, which also owns the
numeric codecs and their selector; this module owns the string side.
Values never round-trip through Python objects: string columns are
consumed as their Arrow buffers (one contiguous data buffer + an offsets
vector, a ``StrBlock``), numeric columns as zero-copy NumPy views.  This
is the hot path behind ``pipeline.encode_columns`` and the decode and
verify jobs (``df.mapInArrow``).

Citations: parquetjs ``encodeColumnChunk`` (lib/writer.js:424-477),
``readColumnChunk`` (lib/reader.js:237-262), DataPageV2 layout
(lib/writer.js:355-419).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import chunk as chunklib
from .chunk import (
    PROBE_FSST_BYTES,
    PROBE_TRAIN_BYTES,
    SAMPLE_BYTES,
    SAMPLE_VALUES,
    _PTYPE,
)
from .codecs import (
    DICT_RLE,
    FLBA,
    FSST,
    INCR,
    PLAIN,
    bloom as bloomlib,
    compress as comp,
    for_bp,
    fsst,
    incr as incrlib,
    plain,
    rle,
    strstream,
)
from .codecs.util import bit_width

# --------------------------------------------------------------------------
# string block: (data: bytes, offsets: int64[n+1]) of the NON-NULL values
# --------------------------------------------------------------------------


class StrBlock:
    __slots__ = ("data", "offsets")

    def __init__(self, data: bytes, offsets: np.ndarray):
        self.data = data
        self.offsets = offsets

    @property
    def n(self) -> int:
        return len(self.offsets) - 1

    @property
    def lens(self) -> np.ndarray:
        return np.diff(self.offsets)

    @property
    def total(self) -> int:
        return int(self.offsets[-1] - self.offsets[0])

    def slice_values(self, k: int) -> "StrBlock":
        k = min(k, self.n)
        offs = self.offsets[: k + 1]
        return StrBlock(self.data[self.offsets[0] : offs[-1]], offs - offs[0])

    def concat_bytes(self) -> bytes:
        if self.offsets[0] == 0 and self.offsets[-1] == len(self.data):
            return self.data
        return self.data[self.offsets[0] : self.offsets[-1]]

    def to_pa(self, binary: bool = False) -> pa.Array:
        offs = self.offsets - self.offsets[0]
        typ = pa.large_binary() if binary else pa.large_utf8()
        return pa.Array.from_buffers(
            typ,
            self.n,
            [None, pa.py_buffer(offs.astype(np.int64)), pa.py_buffer(self.concat_bytes())],
        )


def binary_views(arr: pa.Array) -> list[memoryview]:
    """Zero-copy memoryview per value of a (non-null) binary array —
    replaces per-value ``.as_py()`` on the decode/verify hot path, which
    memcpy'd every compressed blob once before decoding it."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    off_dtype = (
        np.int64
        if pa.types.is_large_binary(t) or pa.types.is_large_string(t)
        else np.int32
    )
    if len(arr) == 0:
        return []
    bufs = arr.buffers()
    if bufs[1] is None:
        return [memoryview(b"")] * len(arr)
    offs = np.frombuffer(
        bufs[1], dtype=off_dtype, count=len(arr) + 1 + arr.offset
    )[arr.offset :]
    # an all-empty binary array may carry no data buffer at all
    data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    return [data[offs[i] : offs[i + 1]] for i in range(len(arr))]


def _strblock_from_pa(arr: pa.Array) -> StrBlock:
    """arr must contain no nulls (drop_null upstream). Zero-copy where the
    arrow layout allows."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        off_dtype = np.int64
    else:
        off_dtype = np.int32
    bufs = arr.buffers()
    if len(arr) == 0 or bufs[1] is None:
        # empty child (e.g. every list in the chunk null/empty): pyarrow
        # may hand back a zero-length or absent offsets buffer.  An
        # absent offsets buffer with len(arr) > 0 means len(arr)
        # all-empty values — NOT zero values (returning 0 strings there
        # would silently lose rows; round-4 ADVICE)
        return StrBlock(b"", np.zeros(len(arr) + 1, dtype=np.int64))
    offsets = np.frombuffer(bufs[1], dtype=off_dtype, count=len(arr) + 1 + arr.offset)[
        arr.offset :
    ].astype(np.int64)
    # zero-copy view (the memoryview keeps the arrow buffer alive):
    # to_pybytes() here cost one full memcpy per string chunk on the
    # encode hot path — pure memory-bandwidth burn at 32-way parallelism
    data = memoryview(bufs[2]) if bufs[2] is not None else b""
    return StrBlock(data, offsets)


def _str_stream(block: StrBlock) -> bytes:
    """PLAIN string/binary wire v2 (codecs/strstream): FOR-packed lengths
    + concatenated payload — both encode and decode fully vectorized."""
    return strstream.encode_lens_payload(block.lens, block.concat_bytes())


def _str_stream_decode(buf: memoryview, n: int) -> StrBlock:
    offsets, data = strstream.decode_lens_payload(buf, n)
    return StrBlock(data, offsets)


def _encode_flba_block(block: StrBlock) -> bytes:
    """Fixed-length byte arrays: u32 width + raw concatenation
    (/root/reference/lib/codec/plain.js:179-209).  Valid only when every
    non-null value has the same length (the selector checks)."""
    lens = block.lens
    width = int(lens[0]) if block.n else 0
    if block.n and not (lens == width).all():
        raise ValueError("FLBA requires uniform value lengths")
    return b"".join((width.to_bytes(4, "little"), block.concat_bytes()))


def _decode_flba_block(buf: memoryview, n: int) -> StrBlock:
    width = int.from_bytes(bytes(buf[:4]), "little")
    offsets = np.arange(n + 1, dtype=np.int64) * width
    return StrBlock(buf[4 : 4 + n * width], offsets)


# --------------------------------------------------------------------------
# string codecs over StrBlock
# --------------------------------------------------------------------------


def _encode_dict_block(block: StrBlock) -> bytes:
    """RLE_DICTIONARY wire format (see codecs/dictionary.py) computed with
    Arrow's C++ dictionary_encode — no Python-object factorize."""
    arr = block.to_pa(binary=True)
    denc = pc.dictionary_encode(arr)
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
    uniq = _strblock_from_pa(denc.dictionary)
    dict_page = _str_stream(uniq)
    n_dict = uniq.n
    width = bit_width(max(0, n_dict - 1))
    idx_rle = rle.encode(codes, width, disable_envelope=True)
    return (
        n_dict.to_bytes(4, "little")
        + len(dict_page).to_bytes(4, "little")
        + dict_page
        + bytes([width])
        + idx_rle
    )


def _decode_dict_block(buf: memoryview, n: int) -> StrBlock:
    n_dict = int.from_bytes(bytes(buf[0:4]), "little")
    dict_len = int.from_bytes(bytes(buf[4:8]), "little")
    uniq = _str_stream_decode(buf[8 : 8 + dict_len], n_dict)
    width = buf[8 + dict_len]
    idx = rle.decode(buf[9 + dict_len :], n, width, disable_envelope=True).astype(
        np.int64
    )
    lens = uniq.lens
    out_lens = lens[idx]
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_lens, out=offsets[1:])
    # gather: for each value, copy uniq bytes — grouped per dictionary code
    data = np.empty(int(offsets[-1]), dtype=np.uint8)
    src = np.frombuffer(uniq.concat_bytes(), dtype=np.uint8)
    uoff = uniq.offsets
    order = np.argsort(idx, kind="stable")
    sorted_idx = idx[order]
    sorted_starts = offsets[:-1][order]
    bounds = np.searchsorted(sorted_idx, np.arange(n_dict + 1))
    for d in range(n_dict):
        lo, hi = bounds[d], bounds[d + 1]
        if lo == hi:
            continue
        ln = int(lens[d])
        if ln == 0:
            continue
        piece = src[uoff[d] : uoff[d] + ln]
        dst = sorted_starts[lo:hi]
        data[dst[:, None] + np.arange(ln)] = piece
    return StrBlock(data.tobytes(), offsets)


def _encode_fsst_block(block: StrBlock, fsst_state: dict | None) -> bytes:
    concat = block.concat_bytes()
    table = None if fsst_state is None else fsst_state.get("table")
    if table is None:
        # bytes(): train factorizes per-byte slices — hand it a real
        # bytes object (bounded copy), not the zero-copy memoryview
        table = fsst.train(bytes(concat[:SAMPLE_BYTES]))
        if fsst_state is not None:
            fsst_state["table"] = table
    lens_enc = for_bp.encode(block.lens.astype(np.int64))
    payload = fsst.compress(concat, table)
    return (
        len(lens_enc).to_bytes(4, "little")
        + lens_enc
        + fsst.serialize_table(table)
        + payload
    )


def _decode_fsst_block(buf: memoryview, n: int) -> StrBlock:
    lens_len = int.from_bytes(bytes(buf[:4]), "little")
    lens = for_bp.decode(buf[4 : 4 + lens_len], n)
    table, consumed = fsst.deserialize_table(buf[4 + lens_len :])
    concat = fsst.decompress(buf[4 + lens_len + consumed :], table)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return StrBlock(concat, offsets)


def _encode_incr_block(block: StrBlock) -> bytes:
    """Front-coded byte arrays (codecs/incr): selected only through the
    measured post-compression comparison — sorted/clustered paths, URLs,
    ids (where it measured 0.57-0.69x of PLAIN+zstd)."""
    return incrlib.encode_offsets(block.offsets, block.data)


def _decode_incr_block(buf: memoryview, n: int) -> StrBlock:
    offsets, payload = incrlib.decode_offsets(buf, n)
    return StrBlock(payload, offsets)


def _encode_string_block(
    block: StrBlock, codec: str, fsst_state: dict | None, dtype: str
) -> bytes:
    if codec == PLAIN:
        return _str_stream(block)
    if codec == FLBA:
        return _encode_flba_block(block)
    if codec == DICT_RLE:
        return _encode_dict_block(block)
    if codec == FSST:
        return _encode_fsst_block(block, fsst_state)
    if codec == INCR:
        return _encode_incr_block(block)
    raise ValueError(f"codec {codec} unsupported for {dtype}")


def _decode_string_block(values_raw, nn: int, codec: str, dtype: str) -> StrBlock:
    if codec == PLAIN:
        return _str_stream_decode(memoryview(values_raw), nn)
    if codec == FLBA:
        return _decode_flba_block(memoryview(values_raw), nn)
    if codec == DICT_RLE:
        return _decode_dict_block(memoryview(values_raw), nn)
    if codec == FSST:
        return _decode_fsst_block(memoryview(values_raw), nn)
    if codec == INCR:
        return _decode_incr_block(memoryview(values_raw), nn)
    raise ValueError(f"codec {codec} unsupported for {dtype}")


def _encode_leaf(values, dtype: str, codec: str, fsst_state):
    """Select (when ``codec`` is "auto") and encode the non-null values of
    one leaf column -> (codec, values section, content bytes, selector
    info).  ``values`` is a StrBlock for string/binary, else an ndarray."""
    sel_info: dict = {}
    if dtype in ("string", "binary"):
        if codec == "auto":
            codec, sel_info = _select_string_codec(values, fsst_state)
        raw = _encode_string_block(values, codec, fsst_state, dtype)
        return codec, raw, values.total, sel_info
    if codec == "auto":
        codec, sel_info = chunklib.select_codec(values, dtype, fsst_state)
    raw = chunklib._encode_values(values, dtype, codec)
    content = (len(values) + 7) // 8 if dtype == "bool" else int(np.asarray(values).nbytes)
    return codec, raw, content, sel_info


def _decode_leaf(values_raw, nn: int, dtype: str, codec: str):
    """Inverse of ``_encode_leaf``: StrBlock for string/binary, else an
    ndarray of the ``nn`` non-null values."""
    if dtype in ("string", "binary"):
        return _decode_string_block(values_raw, nn, codec, dtype)
    return chunklib._decode_values(memoryview(values_raw), nn, dtype, codec)


# --------------------------------------------------------------------------
# string codec selector over StrBlock (the numeric half is
# chunk.select_codec; both share its sample bounds and decision cache)
# --------------------------------------------------------------------------


def _select_string_codec(block: StrBlock, fsst_state: dict | None) -> tuple[str, dict]:
    n = block.n
    info: dict = {}
    if n == 0:
        return PLAIN, info
    lens = block.lens
    sel = chunklib.cached_selection(fsst_state, lens=lens)
    if sel is not None:
        return sel, {"cached": True}
    total = block.total
    uniform = bool((lens == lens[0]).all())
    # sample bounded by VALUES and BYTES: a 4096-value sample of long
    # documents is MBs, and the pc.dictionary_encode cardinality probe
    # over it costs more than the chunk encode itself (the FSST/INCR
    # probes below were always byte-capped; the dict probe was not).
    # Long-value columns probe ~SAMPLE_BYTES worth of values instead —
    # cardinality ratios at that size are as decisive, and short-string
    # columns (where dict actually wins) never hit the byte cap.  The
    # sample ends at the first value that reaches SAMPLE_BYTES, so the
    # probe reads at most SAMPLE_BYTES plus one value.
    k = min(n, SAMPLE_VALUES)
    rel = block.offsets - block.offsets[0]
    if rel[k] > SAMPLE_BYTES:
        k = min(k, int(np.searchsorted(rel, SAMPLE_BYTES)))
    sample = block.slice_values(k)
    arr = sample.to_pa(binary=True)
    denc = pc.dictionary_encode(arr)
    card = len(denc.dictionary)
    codes = denc.indices.to_numpy(zero_copy_only=False)
    runs = 1 + int(np.count_nonzero(np.diff(codes))) if len(codes) else 0
    dict_bytes = _strblock_from_pa(denc.dictionary).total + card
    width = bit_width(max(0, card - 1))
    # same RLE-hybrid estimate as dictionary.stats: better of bit-packed
    # groups vs repeated runs
    est_idx = min(
        (len(codes) * width + 7) // 8 + 2 * (len(codes) // 504 + 1),
        runs * (2 + (width + 7) // 8),
    ) + 2
    scale = n / sample.n
    cands = {
        PLAIN: total + n,
        DICT_RLE: int((9 + dict_bytes + est_idx) * scale),
    }
    if uniform:
        # dominates PLAIN raw on fixed-width values (hashes, ids); PLAIN
        # stays as the FSST comparison anchor below
        cands[FLBA] = total + 4
    # Evaluate FSST unless dictionary is *clearly* winning: low sample
    # cardinality alone is no reason to skip — when the uniques carry
    # most of the bytes (long repeated documents), dict saves little and
    # FSST still competes on the byte content itself.
    plain_post_z = False
    if total > 0 and cands[DICT_RLE] > 0.35 * cands[PLAIN]:
        # bounded bytes copy of the sample (train slices per byte)
        concat = bytes(sample.concat_bytes()[:SAMPLE_BYTES])
        if len(concat) >= 256:
            # probe-quality table (PROBE_TRAIN_BYTES) for the measured
            # comparison; the real FSST encoder trains full-quality on
            # demand if FSST wins — see chunk.PROBE_TRAIN_BYTES rationale.
            # An empty table (training on incompressible bytes) is a
            # table, not a miss: reuse it rather than retrain per chunk.
            table = None
            if fsst_state is not None:
                table = fsst_state.get("table")
                if table is None:
                    table = fsst_state.get("probe_table")
            if table is None:
                table = fsst.train(concat[:PROBE_TRAIN_BYTES])
                if fsst_state is not None:
                    fsst_state["probe_table"] = table
            plain_z = comp.size_estimate(concat) / len(concat)
            probe_slice = concat[:PROBE_FSST_BYTES]
            payload = fsst.compress(probe_slice, table)
            fsst_z = min(len(payload), comp.size_estimate(payload)) / len(probe_slice)
            cands[PLAIN] = int(plain_z * total) + n
            cands[FSST] = int(fsst_z * total) + 2 * len(table) + n + 16
            if cands[FSST] > 0.9 * cands[PLAIN]:
                cands.pop(FSST)
            plain_post_z = True
    # INCREMENTAL candidacy: cheap adjacent-lcp probe first (prefix
    # structure is the entire win; unsorted data measured ~1.03x of
    # PLAIN post-z), then the same measured post-compression comparison
    # BSS/FSST use.  INCR decode is the one non-O(1)-numpy string
    # decode, so demand a clear (>8%) win over post-z PLAIN.
    if total > 0 and n >= 2:
        probe = incrlib.mean_lcp_probe(sample.offsets, sample.data)
        if probe >= 8.0:
            # measured candidate bounded like FSST's: at most SAMPLE_BYTES
            # of values (a 4096-value sample of long documents is MBs —
            # encoding + zstd-probing all of it per selector call costs
            # more than the chunk encode itself)
            rel = sample.offsets - sample.offsets[0]
            k = max(2, int(np.searchsorted(rel, SAMPLE_BYTES)))
            sub = sample.slice_values(k) if k < sample.n else sample
            enc_i = incrlib.encode_offsets(sub.offsets, sub.data)
            incr_z = min(len(enc_i), comp.size_estimate(enc_i)) / max(
                1, sub.total
            )
            if not plain_post_z:
                concat_p = bytes(sample.concat_bytes()[:SAMPLE_BYTES])
                if len(concat_p):
                    pz = comp.size_estimate(concat_p) / len(concat_p)
                    cands[PLAIN] = int(pz * total) + n
                    plain_post_z = True
            info["mean_lcp"] = round(probe, 1)
            cands[INCR] = int(incr_z * total) + n
            if cands[INCR] > 0.92 * cands[PLAIN]:
                cands.pop(INCR)
    info.update(cardinality=card, runs=runs, sizes=cands)
    choice = min(cands, key=cands.get)
    chunklib.cache_selection(fsst_state, choice)
    return choice, info


# --------------------------------------------------------------------------
# arrow array <-> (values, valid) per dtype
# --------------------------------------------------------------------------


def _split_nulls(arr: pa.Array):
    """-> (the non-null values as one Array, bool validity ndarray)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if not arr.null_count:
        return arr, np.ones(len(arr), dtype=bool)
    return arr.drop_null(), pc.is_valid(arr).to_numpy(zero_copy_only=False)


def _with_nulls(dense: pa.Array, valid: np.ndarray) -> pa.Array:
    """Inverse of ``_split_nulls``: spread the dense values over the rows
    ``valid`` marks; the other rows are null."""
    if valid.all():
        return dense
    idx = np.full(len(valid), -1, dtype=np.int64)
    idx[valid] = np.arange(len(dense))
    return dense.take(pa.array(idx, mask=~valid))


def _arrow_to_values(arr: pa.Array, dtype: str):
    """Return (values, valid) where values is StrBlock for strings/binary
    and an np array otherwise; valid is a bool ndarray."""
    if pa.types.is_null(arr.type):
        # void column (NullType source): all definition levels, no values
        arr = arr.cast(pa.string())
    nn, valid = _split_nulls(arr)
    if dtype in ("string", "binary"):
        return _strblock_from_pa(nn), valid
    if dtype == "timestamp_us":
        np_vals = nn.cast(pa.timestamp("us")).to_numpy(zero_copy_only=False)
        return np_vals.view(np.int64), valid
    if dtype == "interval_dt":
        np_vals = nn.cast(pa.duration("us")).to_numpy(zero_copy_only=False)
        return np_vals.astype("timedelta64[us]").view(np.int64), valid
    if dtype == "time_ns":
        # nanos-since-midnight straight from the value buffer (to_numpy
        # would materialize datetime.time objects)
        if nn.type != pa.time64("ns"):
            nn = nn.cast(pa.time64("ns"))
        bufs = nn.buffers()
        vals = np.frombuffer(bufs[1], "<i8", count=len(nn) + nn.offset)[nn.offset :]
        return vals, valid
    if dtype == "date":
        np_vals = nn.to_numpy(zero_copy_only=False)  # datetime64[D]
        return np_vals.astype("datetime64[D]").view(np.int64).astype(np.int32), valid
    return nn.to_numpy(zero_copy_only=False), valid


_PA_TYPES = {
    "int64": pa.int64(),
    "int32": pa.int32(),
    "float64": pa.float64(),
    "float32": pa.float32(),
    "bool": pa.bool_(),
    "string": pa.string(),
    "binary": pa.binary(),
    "date": pa.date32(),
    "timestamp_us": pa.timestamp("us"),
    "interval_dt": pa.duration("us"),
    "time_ns": pa.time64("ns"),
}


def pa_type_of(dtype: str) -> pa.DataType:
    """Arrow type for a logical dtype string, recursive over list_ depth."""
    if dtype.startswith("list_"):
        return pa.list_(pa_type_of(dtype[len("list_") :]))
    if dtype.startswith("decimal("):
        p, s = dtype[len("decimal(") : -1].split(",")
        return pa.decimal128(int(p), int(s))
    return _PA_TYPES[dtype]


def _values_to_arrow(values, valid: np.ndarray, dtype: str) -> pa.Array:
    n = len(valid)
    has_nulls = not valid.all()
    mask = ~valid if has_nulls else None
    if dtype in ("string", "binary"):
        block: StrBlock = values
        dense = block.to_pa(binary=(dtype == "binary"))
        if dtype == "string":
            dense = dense.cast(pa.large_utf8()) if dense.type != pa.large_utf8() else dense
        out = _with_nulls(dense, valid)
        return out.cast(pa.string() if dtype == "string" else pa.binary())
    if dtype == "timestamp_us":
        full = np.zeros(n, dtype=np.int64)
        full[valid] = np.asarray(values, dtype=np.int64)
        return pa.array(full.view("datetime64[us]"), type=pa.timestamp("us"), mask=mask)
    if dtype == "interval_dt":
        full = np.zeros(n, dtype=np.int64)
        full[valid] = np.asarray(values, dtype=np.int64)
        return pa.array(full.view("timedelta64[us]"), type=pa.duration("us"), mask=mask)
    if dtype == "time_ns":
        full = np.zeros(n, dtype=np.int64)
        full[valid] = np.asarray(values, dtype=np.int64)
        return pa.array(full, type=pa.time64("ns"), mask=mask)
    if dtype == "date":
        full = np.zeros(n, dtype=np.int32)
        full[valid] = np.asarray(values, dtype=np.int32)
        return pa.array(full, type=pa.date32(), mask=mask)
    np_dtype = {"int64": np.int64, "int32": np.int32, "float64": np.float64,
                "float32": np.float32, "bool": bool}[dtype]
    full = np.zeros(n, dtype=np_dtype)
    full[valid] = np.asarray(values, dtype=np_dtype)
    return pa.array(full, type=_PA_TYPES[dtype], mask=mask)


# --------------------------------------------------------------------------
# canonical sha256 — the per-row bit-identity invariant (BASELINE.json:15)
# --------------------------------------------------------------------------


def _sha_update_values(h, values, dtype: str) -> None:
    """Canonical feed of the non-null values.  Strings: payload ++ '|' ++
    int64-LE lengths — the same information as the interleaved PLAIN
    stream, fed without materializing it.  Numerics: their PLAIN LE
    bytes; bools: PLAIN bit-packed."""
    if dtype in ("string", "binary"):
        h.update(values.concat_bytes())
        h.update(b"|")
        h.update(np.ascontiguousarray(values.lens, dtype="<i8").tobytes())
    elif dtype == "bool":
        h.update(plain.encode_boolean(np.asarray(values)))
    else:
        h.update(plain.encode_numeric(_PTYPE[dtype], np.asarray(values)))


def _valid_bits(valid: np.ndarray) -> bytes:
    return np.packbits(valid.view(np.uint8), bitorder="little").tobytes()


def _canonical_sha256_block(values, valid: np.ndarray, dtype: str) -> str:
    h = hashlib.sha256()
    _sha_update_values(h, values, dtype)
    h.update(b"|")
    h.update(_valid_bits(valid))
    return h.hexdigest()


# --------------------------------------------------------------------------
# list and decimal columns
# --------------------------------------------------------------------------


def _split_list(arr: pa.Array):
    """ListArray -> (per-row lens of NON-NULL rows, flat child array
    incl. element nulls, row validity) — the repetition-level pivot:
    r-levels collapse to per-row counts at each nesting level
    (/root/reference/lib/shred.js:75-135 semantics)."""
    nn, valid = _split_nulls(arr)
    if len(nn) == 0 or nn.buffers()[1] is None:
        # pyarrow SEGFAULTS flattening a list array whose offsets buffer
        # is absent — IPC delivers such arrays for empty children (e.g.
        # the 2nd+ nesting level of a chunk holding only empty lists).
        # With len(nn) > 0 that layout means len(nn) all-EMPTY lists:
        # return one zero-length per row, not zero rows (round-4 ADVICE)
        return (
            np.zeros(len(nn), dtype=np.int64),
            pa.array([], type=nn.type.value_type),
            valid,
        )
    lens = pc.list_value_length(nn).to_numpy(zero_copy_only=False).astype(np.int64)
    return lens, nn.flatten(), valid


def _list_parts(arr: pa.Array, dtype: str):
    """Split a ListArray into (lens int64[nn], flat_values, elem_valid,
    valid) — the one-level Dremel pivot (repetition levels collapse to
    per-row counts when rLevelMax=1; element validity is the inner
    definition level; /root/reference/lib/shred.js:100-135 semantics)."""
    lens, flat, valid = _split_list(arr)
    elem_dtype = dtype[len("list_") :]
    # _arrow_to_values drops element nulls and returns their validity
    elem_values, elem_valid = _arrow_to_values(flat, elem_dtype)
    return lens, elem_values, elem_valid, valid, elem_dtype


def _canonical_sha256_list(
    lens: np.ndarray, elem_values, elem_valid: np.ndarray, valid, elem_dtype
) -> str:
    h = hashlib.sha256()
    _sha_update_values(h, elem_values, elem_dtype)
    h.update(b"|")
    h.update(lens.astype("<i8").tobytes())
    h.update(b"|")
    h.update(_valid_bits(elem_valid))
    h.update(b"|")
    h.update(_valid_bits(valid))
    return h.hexdigest()


def _canonical_sha256_nested(
    lens: np.ndarray, inner_sha: str, valid: np.ndarray
) -> str:
    h = hashlib.sha256(inner_sha.encode("ascii"))
    h.update(b"|")
    h.update(lens.astype("<i8").tobytes())
    h.update(b"|")
    h.update(_valid_bits(valid))
    return h.hexdigest()


def _list_from_lens(lens: np.ndarray, child: pa.Array, valid: np.ndarray) -> pa.Array:
    """Rebuild a ListArray from per-row counts of the non-null rows, the
    flat child and the row validity."""
    if int(lens.sum()) >= 2**31:
        # int32 ListArray offsets would silently wrap (unreachable at the
        # default 4096-row chunking; guards callers passing huge
        # chunk_rows with wide arrays)
        raise ValueError(
            "list chunk flattens to >= 2^31 elements; reduce chunk_rows"
        )
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    dense = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), child)
    return _with_nulls(dense, valid)


def _encode_nested_list_column(arr: pa.Array, dtype: str, codec: str, fsst_state: dict | None):
    """Multi-level repetition (rLevelMax > 1 — the reference's
    nested-repeated shred recursion, /root/reference/lib/shred.js:75-135):
    each list level peels one count stream off and recurses on the
    flattened child, which is a complete embedded chunk blob carrying its
    own dtype/levels (so inner-list nulls ride the inner blob's own
    definition levels).  Payload: u32 lens_len ++ FOR-packed outer
    per-row counts ++ u32 inner_len ++ inner chunk blob.  The inner blob
    is stored UNCOMPRESSED — the OUTER block compression spans the whole
    payload once (no double compression)."""
    lens, flat, valid = _split_list(arr)
    elem_dtype = dtype[len("list_") :]
    inner_blob, inner_stats = encode_arrow_column(
        flat, elem_dtype, codec=codec, compression="UNCOMPRESSED",
        fsst_state=fsst_state,
    )
    lens_enc = for_bp.encode(lens)
    values_raw = (
        len(lens_enc).to_bytes(4, "little")
        + lens_enc
        + len(inner_blob).to_bytes(4, "little")
        + inner_blob
    )
    sha = _canonical_sha256_nested(lens, inner_stats["sha256"], valid)
    content = inner_stats["content_bytes"] + 8 * len(lens)
    return (
        values_raw, valid, inner_stats["codec"], content, sha,
        inner_stats.get("selector", {}),
    )


def _decode_nested_list_column(
    values_raw: bytes, nn: int, valid: np.ndarray
) -> tuple[pa.Array, str]:
    mv = memoryview(values_raw)
    lens_len = int.from_bytes(bytes(mv[:4]), "little")
    lens = for_bp.decode(mv[4 : 4 + lens_len], nn)
    pos = 4 + lens_len
    inner_len = int.from_bytes(bytes(mv[pos : pos + 4]), "little")
    child, child_dtype = decode_arrow_column(mv[pos + 4 : pos + 4 + inner_len])
    return _list_from_lens(lens, child, valid), f"list_{child_dtype}"


def _encode_list_column(arr: pa.Array, dtype: str, codec: str, fsst_state: dict | None):
    """Payload: u32 lens_len ++ FOR-encoded per-row counts ++
    u32 evalid_len ++ element-validity RLE (w=1; len 0 = no element
    nulls) ++ flattened NON-NULL elements under a scalar codec
    (recorded in the chunk codec byte)."""
    if dtype[len("list_") :].startswith("list_"):
        return _encode_nested_list_column(arr, dtype, codec, fsst_state)
    lens, elem_values, elem_valid, valid, elem_dtype = _list_parts(arr, dtype)
    codec, elem_raw, content, sel_info = _encode_leaf(
        elem_values, elem_dtype, codec, fsst_state
    )
    lens_enc = for_bp.encode(lens)
    if elem_valid.all():
        ev_enc = b""
    else:
        ev_enc = rle.encode(elem_valid.astype(np.uint64), 1, disable_envelope=True)
    values_raw = (
        len(lens_enc).to_bytes(4, "little")
        + lens_enc
        + len(ev_enc).to_bytes(4, "little")
        + ev_enc
        + elem_raw
    )
    sha = _canonical_sha256_list(lens, elem_values, elem_valid, valid, elem_dtype)
    return values_raw, valid, codec, content + 8 * len(lens), sha, sel_info


def _decode_list_column(
    values_raw: bytes, nn: int, dtype: str, codec: str, valid: np.ndarray
) -> pa.Array:
    mv = memoryview(values_raw)
    lens_len = int.from_bytes(bytes(mv[:4]), "little")
    lens = for_bp.decode(mv[4 : 4 + lens_len], nn)
    pos = 4 + lens_len
    ev_len = int.from_bytes(bytes(mv[pos : pos + 4]), "little")
    n_elems = int(lens.sum())
    if ev_len:
        elem_valid = rle.decode(
            mv[pos + 4 : pos + 4 + ev_len], n_elems, 1, disable_envelope=True
        ).astype(bool)
    else:
        elem_valid = np.ones(n_elems, dtype=bool)
    elem_dtype = dtype[len("list_") :]
    elems = _decode_leaf(
        mv[pos + 4 + ev_len :], int(elem_valid.sum()), elem_dtype, codec
    )
    child = _values_to_arrow(elems, elem_valid, elem_dtype)
    return _list_from_lens(lens, child, valid)


def _decimal_parts(arr: pa.Array):
    """decimal128 arrow array -> (unscaled int64 of non-nulls, valid).
    p <= 18 guarantees the unscaled value fits the low 8 bytes."""
    nn, valid = _split_nulls(arr)
    raw = np.frombuffer(nn.buffers()[1], dtype="<i8")
    # 16-byte little-endian int128 per value: even lanes = low 8 bytes
    vals = raw[nn.offset * 2 :][: 2 * len(nn)][0::2].copy()
    return vals, valid


def _decimal_to_arrow(vals: np.ndarray, valid: np.ndarray, p: int, sc: int) -> pa.Array:
    nn = len(vals)
    pairs = np.empty((nn, 2), dtype=np.int64)
    pairs[:, 0] = vals
    pairs[:, 1] = vals >> 63  # sign extension to int128
    dense = pa.Array.from_buffers(
        pa.decimal128(p, sc), nn, [None, pa.py_buffer(pairs.tobytes())]
    )
    return _with_nulls(dense, valid)


def _encode_decimal_column(arr, dtype, codec, compression, fsst_state):
    p, sc = (int(x) for x in dtype[len("decimal(") : -1].split(","))
    vals, valid = _decimal_parts(arr)
    n = len(valid)
    n_nulls = int(n - valid.sum())
    codec, payload, content, sel_info = _encode_leaf(vals, "int64", codec, fsst_state)
    values_raw = bytes([p, sc]) + payload
    return _assemble_blob(
        dtype, codec, compression, n, n_nulls, valid, values_raw,
        content, _canonical_sha256_block(vals, valid, "int64"), sel_info,
    )


_STATS_MAXLEN = 64  # string stats truncation (see _column_stats)


def _column_stats(arr: pa.Array, dtype: str):
    """Per-chunk (min, max) as canonical strings — the zone-map slice of
    Parquet's Statistics struct (/root/reference/parquet.thrift:201-214,
    declared there but never written by the reference's writer.js).

    Strings are truncated to _STATS_MAXLEN chars: a truncated MIN stays
    a valid lower bound, but a truncated MAX is NOT an upper bound, so
    long maxima are dropped (None = unprunable on that side) rather
    than made incorrect.  Unorderable dtypes (bool/binary/lists) carry
    no stats."""
    base = dtype.split("(")[0]
    # interval/time: no canonical string form Spark reliably casts back
    # for the scan predicate — unprunable rather than wrong
    if dtype.startswith("list_") or base in (
        "bool", "binary", "interval_dt", "time_ns",
    ):
        return None, None
    try:
        if base in ("float64", "float32"):
            # arrow min_max skips NaN, so an all-NaN chunk reads as
            # (inf, -inf) and any NaN row sits outside [min, max] while
            # Spark sorts NaN ABOVE all values — a pruned scan would
            # drop NaN rows the unpruned residual filter keeps.  A chunk
            # containing NaN is conservatively unprunable.
            if pc.any(pc.is_nan(arr)).as_py():
                return None, None
        mm = pc.min_max(arr)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
    except Exception:
        return None, None
    if mn is None or mx is None:
        return None, None
    smin, smax = str(mn), str(mx)
    if dtype == "string":
        if len(smin) > _STATS_MAXLEN:
            smin = smin[:_STATS_MAXLEN]
        if len(smax) > _STATS_MAXLEN:
            smax = None
    return smin, smax


def encode_arrow_column(
    arr: pa.Array,
    dtype: str,
    codec: str = "auto",
    compression: str = "auto",
    fsst_state: dict | None = None,
) -> tuple[bytes, dict]:
    if dtype.startswith("decimal("):
        return _encode_decimal_column(arr, dtype, codec, compression, fsst_state)
    if dtype.startswith("list_"):
        values_raw, valid, codec, content_bytes, sha, sel_info = _encode_list_column(
            arr, dtype, codec, fsst_state
        )
        n = len(valid)
        n_nulls = int(n - valid.sum())
        return _assemble_blob(
            dtype, codec, compression, n, n_nulls, valid, values_raw,
            content_bytes, sha, sel_info,
        )
    values, valid = _arrow_to_values(arr, dtype)
    n = len(valid)
    n_nulls = int(n - valid.sum())

    # per-chunk bloom for equality pruning (scan_eq); manifest metadata,
    # never part of the wire blob or the canonical sha
    bloom_bits = None
    if dtype in bloomlib.BLOOMABLE:
        if dtype in ("string", "binary"):
            hashes = bloomlib.hash_bytes_arrays(
                values.concat_bytes(), values.offsets - values.offsets[0]
            )
        else:
            hashes = bloomlib.hash_ints(np.asarray(values, dtype=np.int64))
        bloom_bits = bloomlib.build_from_hashes(hashes).tolist()

    codec, values_raw, content_bytes, sel_info = _encode_leaf(values, dtype, codec, fsst_state)
    return _assemble_blob(
        dtype, codec, compression, n, n_nulls, valid, values_raw,
        content_bytes, _canonical_sha256_block(values, valid, dtype), sel_info,
        bloom_bits,
    )


def _assemble_blob(
    dtype, codec, compression, n, n_nulls, valid, values_raw, content_bytes,
    sha, sel_info, bloom_bits=None,
) -> tuple[bytes, dict]:
    if compression == "auto":
        compression, values_comp = comp.auto_compress(values_raw)
    else:
        values_comp = comp.compress(compression, values_raw)

    levels = b""
    flags = 0
    if n_nulls:
        flags |= 1
        levels = rle.encode(valid.astype(np.uint64), 1, disable_envelope=True)

    header = chunklib.pack_header(
        dtype, codec, compression, flags, n, n_nulls, len(levels), len(values_comp)
    )
    blob = b"".join((header, levels, values_comp))
    stats = {
        "codec": codec,
        "compression": compression,
        "n": n,
        "n_nulls": n_nulls,
        "content_bytes": content_bytes,
        "encoded_bytes": len(blob),
        "sha256": sha,
        "selector": sel_info,
        "bloom": bloom_bits,
    }
    return blob, stats


def _parse_blob(blob: bytes | memoryview):
    """Shared header parse: -> (dtype, codec, valid, values_raw, nn)."""
    mv = memoryview(blob)
    (
        dtype, codec, compression, flags, n, n_nulls, levels_len, values_len,
    ) = chunklib.parse_header(mv)
    pos = chunklib._HEADER.size
    if flags & 1:
        valid = rle.decode(mv[pos : pos + levels_len], n, 1, disable_envelope=True).astype(bool)
    else:
        valid = np.ones(n, dtype=bool)
    pos += levels_len
    # zero-copy: the compressed section decompresses straight from the
    # blob view (UNCOMPRESSED chunks stay a view end-to-end)
    values_raw = comp.decompress(compression, mv[pos : pos + values_len])
    return dtype, codec, valid, values_raw, n - n_nulls


def decode_arrow_column(blob: bytes | memoryview) -> tuple[pa.Array, str]:
    dtype, codec, valid, values_raw, nn = _parse_blob(blob)
    if dtype == "decimal":
        p, sc = values_raw[0], values_raw[1]
        vals = _decode_leaf(memoryview(values_raw)[2:], nn, "int64", codec)
        return (
            _decimal_to_arrow(np.asarray(vals, dtype=np.int64), valid, p, sc),
            f"decimal({p},{sc})",
        )
    if dtype == "list_nested":
        return _decode_nested_list_column(values_raw, nn, valid)
    if dtype.startswith("list_"):
        return _decode_list_column(values_raw, nn, dtype, codec, valid), dtype
    return _values_to_arrow(_decode_leaf(values_raw, nn, dtype, codec), valid, dtype), dtype


def arrow_canonical_sha(arr: pa.Array, dtype: str) -> str:
    """Canonical sha256 of a decoded arrow column — matches the value the
    encoder recorded for the same data (recursive over nesting depth)."""
    if dtype.startswith("decimal("):
        vals, valid = _decimal_parts(arr)
        return _canonical_sha256_block(vals, valid, "int64")
    if dtype.startswith("list_"):
        elem_dtype = dtype[len("list_") :]
        if elem_dtype.startswith("list_"):
            lens, flat, valid = _split_list(arr)
            return _canonical_sha256_nested(
                lens, arrow_canonical_sha(flat, elem_dtype), valid
            )
        lens, elem_values, elem_valid, valid, elem_dtype = _list_parts(arr, dtype)
        return _canonical_sha256_list(lens, elem_values, elem_valid, valid, elem_dtype)
    values, valid = _arrow_to_values(arr, dtype)
    return _canonical_sha256_block(values, valid, dtype)


def verify_arrow(blob: bytes, expected_sha: str) -> bool:
    """True iff the blob decodes AND its canonical sha matches.  A blob
    corrupted badly enough to break decode framing must report
    ok=False like any other mismatch — verification is a report, not a
    crash (one torn chunk must not abort a 100 TB verify job).

    Scalar dtypes hash the decoded (values, validity) directly — the
    same codec decode, minus a values->arrow->values identity round
    trip that cost ~30% of verify CPU; nested/decimal shapes keep the
    full arrow reconstruction path."""
    try:
        dtype, codec, valid, values_raw, nn = _parse_blob(blob)
        if dtype == "decimal" or dtype.startswith("list_"):
            arr, full_dtype = decode_arrow_column(blob)
            return arrow_canonical_sha(arr, full_dtype) == expected_sha
        values = _decode_leaf(values_raw, nn, dtype, codec)
        return _canonical_sha256_block(values, valid, dtype) == expected_sha
    except Exception:
        return False
