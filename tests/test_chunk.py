"""Chunk-layer round-trips + auto-selector behavior (SURVEY.md §7.1 steps 2-3).

Re-expresses the parquetjs integration matrix (test/integration.js:290-356
— roundtrip × compression) as per-dtype chunk round-trips with sha256
identity (BASELINE.json:15)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from parquetjs_spark import arrow_chunk, chunk
from parquetjs_spark.codecs import DICT_RLE, FOR_BITPACK, FSST, PLAIN, RLE


def encode(values, dtype: str, **kw):
    """Encode a Python list or pandas Series as one chunk."""
    arr = pa.array(list(values), type=arrow_chunk.pa_type_of(dtype))
    return arrow_chunk.encode_arrow_column(arr, dtype, **kw)


def decode(blob) -> list:
    return arrow_chunk.decode_arrow_column(blob)[0].to_pylist()


def roundtrip(values, dtype: str, **kw):
    blob, stats = encode(values, dtype, **kw)
    out, out_dtype = arrow_chunk.decode_arrow_column(blob)
    assert out_dtype == dtype
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])
    return out.to_pylist(), stats


def selector(vals: list[bytes]):
    """The string selector on a list of byte values."""
    return arrow_chunk._select_string_codec(
        arrow_chunk._strblock_from_pa(pa.array(vals, type=pa.binary())), None
    )


@pytest.mark.parametrize("codec", ["auto", PLAIN, FOR_BITPACK, DICT_RLE, RLE])
def test_int64_roundtrip(codec):
    vals = (np.arange(5000, dtype=np.int64) % 97).tolist()
    out, stats = roundtrip(vals, "int64", codec=codec)
    assert out == vals


def test_int64_with_nulls():
    vals = [1, None, 3, None, 2**61, 7]
    out, stats = roundtrip(vals, "int64")
    assert stats["n_nulls"] == 2
    assert out == vals


def test_large_int64_nulls_no_float_trap():
    big = 2**53 + 1
    out, _ = roundtrip([big, None, big + 2], "int64")
    assert out[0] == big and out[1] is None and out[2] == big + 2


@pytest.mark.parametrize("codec", ["auto", PLAIN, DICT_RLE, FSST])
def test_string_roundtrip(codec):
    vals = ["SELECT * FROM t%d WHERE x = %d" % (i % 7, i) for i in range(2000)]
    out, stats = roundtrip(vals, "string", codec=codec)
    assert out == vals


def test_string_with_nulls_and_unicode():
    vals = ["héllo", None, "wörld", "", None, "日本語テキスト"]
    out, stats = roundtrip(vals, "string")
    assert stats["n_nulls"] == 2
    assert out == ["héllo", None, "wörld", "", None, "日本語テキスト"]


def test_float_roundtrip():
    rng = np.random.default_rng(42)
    vals = rng.normal(size=3000)
    out, _ = roundtrip(vals, "float64")
    np.testing.assert_array_equal(np.array(out), vals)


def test_float_with_nulls():
    out, stats = roundtrip([1.5, None, -2.25, None], "float64")
    assert stats["n_nulls"] == 2
    assert out[0] == 1.5 and out[1] is None


def test_bool_roundtrip():
    vals = [True, False] * 100 + [True] * 50
    out, _ = roundtrip(vals, "bool")
    assert out == vals


def test_timestamp_roundtrip():
    s = pd.Series(pd.date_range("2024-01-01", periods=1000, freq="37min"))
    out, stats = roundtrip(s, "timestamp_us")
    assert out == [t.to_pydatetime() for t in s]


def test_date_roundtrip():
    s = pd.Series(pd.date_range("1992-01-01", periods=500, freq="D"))
    out, _ = roundtrip(s.dt.date, "date")
    assert out == s.dt.date.tolist()


# --- auto-selector behavior ---------------------------------------------------


def test_selector_picks_dict_for_low_cardinality_strings():
    _, stats = roundtrip(["ALPHA", "BETA", "GAMMA"] * 2000, "string")
    assert stats["codec"] == DICT_RLE
    assert stats["encoded_bytes"] < 0.05 * stats["content_bytes"]


def test_selector_picks_for_bitpack_for_small_range_ints():
    _, stats = roundtrip(np.arange(8000) % 50, "int64")
    assert stats["codec"] in (FOR_BITPACK, DICT_RLE, RLE)
    assert stats["encoded_bytes"] < 0.25 * stats["content_bytes"]


def test_selector_picks_rle_for_constant_ints():
    _, stats = roundtrip(np.full(10_000, 7, dtype=np.int64), "int64")
    assert stats["encoded_bytes"] < 100  # any of RLE/FOR/DICT collapses this


def test_selector_high_cardinality_strings_use_fsst_or_plain():
    rng = np.random.default_rng(42)
    words = ["return", "public", "static", "void", "import", "lambda"]
    vals = [
        " ".join(rng.choice(words, size=20)) + f" unique_{i}"
        for i in range(1500)
    ]
    _, stats = roundtrip(vals, "string")
    assert stats["codec"] in (FSST, PLAIN)
    # boilerplate-heavy text must compress well end to end
    assert stats["encoded_bytes"] < 0.6 * stats["content_bytes"]


def test_compression_auto_compresses_plain_text():
    vals = ["x" * 1000] * 100
    blob, stats = encode(vals, "string", codec=PLAIN)
    assert stats["compression"] in ("ZSTD", "ZLIB")  # auto policy, zstd first
    assert stats["encoded_bytes"] < 0.05 * stats["content_bytes"]
    assert decode(blob) == vals


def test_forced_compression_roundtrip():
    """Compression matrix — reference parity is roundtrip x compression
    (parquetjs test/integration.js:290-356); SNAPPY/BROTLI via
    pyarrow's bundled codecs, LZ4/ZSTD beyond the reference."""
    from parquetjs_spark.codecs import compress as comp

    vals = ["abc%d" % (i % 9) for i in range(500)]
    avail = comp.available()
    assert {"UNCOMPRESSED", "ZLIB", "GZIP", "SNAPPY", "BROTLI"} <= set(avail)
    for comp_name in avail:
        blob, stats = encode(vals, "string", codec=PLAIN, compression=comp_name)
        assert stats["compression"] == comp_name
        assert decode(blob) == vals


def test_flba_roundtrip_and_autoselect():
    """Uniform-width binary (hashes, ids) -> FLBA codec
    (parquetjs lib/codec/plain.js:179-209)."""
    import hashlib

    from parquetjs_spark.codecs import FLBA

    vals = [hashlib.md5(b"%d" % i).digest() for i in range(3000)]
    out, stats = roundtrip(vals, "binary")
    assert stats["codec"] == FLBA
    assert out == vals
    # forced FLBA on non-uniform lengths must refuse, not corrupt
    with pytest.raises(ValueError, match="FLBA|FIXED_LEN"):
        encode([b"ab", b"abc"], "binary", codec=FLBA)


def test_flba_with_nulls():
    from parquetjs_spark.codecs import FLBA

    vals = [b"0123456789abcdef", None, b"fedcba9876543210", None] * 40
    out, stats = roundtrip(vals, "binary", codec=FLBA)
    assert stats["n_nulls"] == 80
    assert out == vals


def test_empty_chunk():
    out, stats = roundtrip([], "string")
    assert stats["n"] == 0 and len(out) == 0


def test_all_null_chunk():
    out, stats = roundtrip([None, None, None], "string")
    assert stats["n_nulls"] == 3
    assert out == [None, None, None]


def test_compression_auto_small_numeric_picks_best():
    """auto policy: zstd-3 first; on small sections zlib-6 is also tried
    and the smaller wins — numeric chunks must not regress vs round 1."""
    vals = ((np.arange(4096, dtype=np.int64) * 7919) % 100003).tolist()
    blob, stats = encode(vals, "int64", codec=PLAIN)
    assert stats["compression"] in ("ZSTD", "ZLIB", "UNCOMPRESSED")
    assert decode(blob) == vals


def test_cached_rle_selection_revalidated_on_negative_chunk():
    """A cached RLE pick must not crash a later chunk that violates the
    non-negativity precondition (ADVICE r2: valid input -> ValueError)."""
    state: dict = {}
    rle_friendly = np.repeat(np.arange(8, dtype=np.int64), 600).tolist()
    blob1, s1 = encode(rle_friendly, "int64", fsst_state=state)
    assert s1["codec"] == RLE  # precondition of the scenario
    with_neg = np.arange(-5, 4995, dtype=np.int64).tolist()
    blob2, s2 = encode(with_neg, "int64", fsst_state=state)
    assert s2["codec"] != RLE
    assert decode(blob2) == with_neg
    # and a following RLE-friendly chunk still round-trips
    blob3, _ = encode(rle_friendly, "int64", fsst_state=state)
    assert decode(blob3) == rle_friendly


def test_cached_flba_selection_revalidated_on_varlen_chunk():
    """A cached FLBA pick must not crash a later chunk with one
    variable-length value (ADVICE r2)."""
    state: dict = {}
    rng = np.random.default_rng(11)
    fixed = [bytes(rng.integers(0, 256, 16, dtype=np.uint8)) for _ in range(512)]
    blob1, s1 = encode(fixed, "binary", fsst_state=state)
    assert s1["codec"] == "FLBA"
    varlen = [b"x" * 16] * 511 + [b"short"]
    blob2, s2 = encode(varlen, "binary", fsst_state=state)
    assert s2["codec"] != "FLBA"
    assert decode(blob2) == varlen


def test_bss_roundtrip_and_autoselect():
    """BYTE_STREAM_SPLIT (Parquet spec encoding, round 5): forced
    round-trips bit-exact for both float widths incl. IEEE specials;
    the measured selector picks BSS on smooth measurement-like doubles
    (where byte planes compress far better than interleaved PLAIN) and
    does NOT pick it on 2-decimal prices (where PLAIN/DICT post-zlib is
    smaller — BSS would inflate by ~1.5x there)."""
    from parquetjs_spark.codecs import BSS

    def np_roundtrip(a, dtype, **kw):
        blob, stats = arrow_chunk.encode_arrow_column(pa.array(a), dtype, **kw)
        assert arrow_chunk.verify_arrow(blob, stats["sha256"])
        out, _ = arrow_chunk.decode_arrow_column(blob)
        return out.to_numpy(zero_copy_only=False), stats, blob

    rng = np.random.default_rng(7)
    specials = np.array([1.5, -0.0, np.nan, np.inf, -np.inf] * 200, dtype=np.float64)
    out, stats, _ = np_roundtrip(specials, "float64", codec=BSS)
    assert stats["codec"] == BSS
    assert out.tobytes() == specials.tobytes()  # bit identity, incl. nan payload and -0.0 sign
    f32 = rng.normal(size=2000).astype(np.float32)
    out32, _, _ = np_roundtrip(f32, "float32", codec=BSS)
    assert out32.tobytes() == f32.tobytes()

    walk = np.cumsum(rng.normal(0, 0.01, 4096)) + 100.0
    sel, _ = chunk.select_codec(walk, "float64")
    assert sel == BSS
    prices = np.round(rng.gamma(4, 900, 4096), 2)
    sel2, _ = chunk.select_codec(prices, "float64")
    assert sel2 != BSS
    # auto end-to-end on the winning shape: chunk is smaller than the
    # same data forced through PLAIN
    out_w, st_auto, blob_auto = np_roundtrip(walk, "float64", codec="auto")
    _, _, blob_plain = np_roundtrip(walk, "float64", codec=PLAIN)
    assert st_auto["codec"] == BSS
    assert len(blob_auto) < len(blob_plain)
    assert out_w.tobytes() == walk.tobytes()


def test_bss_golden_plane_bytes():
    """Golden-byte pin for the BSS wire layout (VERDICT r5 item 7): the
    k-th plane holds the k-th little-endian byte of every value,
    planes concatenated in byte-position order — pinned for float64,
    int64 and int32 so the wire can't drift silently."""
    from parquetjs_spark.codecs import bss

    # float64: 1.0 = 3FF0_0000_0000_0000, -2.0 = C000_0000_0000_0000 (LE)
    f = np.array([1.0, -2.0], dtype=np.float64)
    want_f = bytes(
        [0x00, 0x00] * 6  # planes 0-5: zeros for both values
        + [0xF0, 0x00]    # plane 6
        + [0x3F, 0xC0]    # plane 7 (sign/exponent high byte)
    )
    enc = bss.encode(f)
    assert enc == want_f
    assert bss.decode(enc, 2, np.float64).tobytes() == f.tobytes()

    # int64: 0x0807060504030201 and 0x1817161514131211 —
    # plane k = [k+1, k+0x11]
    i = np.array([0x0807060504030201, 0x1817161514131211], dtype=np.int64)
    want_i = bytes(b for k in range(8) for b in (k + 1, k + 0x11))
    enc = bss.encode(i)
    assert enc == want_i
    assert bss.decode(enc, 2, np.int64).tolist() == i.tolist()

    # int32 incl. a negative: -2 = FE FF FF FF (LE two's complement)
    i32 = np.array([0x04030201, -2], dtype=np.int32)
    want_32 = bytes([0x01, 0xFE, 0x02, 0xFF, 0x03, 0xFF, 0x04, 0xFF])
    enc = bss.encode(i32)
    assert enc == want_32
    assert bss.decode(enc, 2, np.int32).tolist() == i32.tolist()

    # empty chunk: zero bytes both directions
    assert bss.encode(np.empty(0, dtype=np.int64)) == b""
    assert bss.decode(b"", 0, np.int64).tolist() == []


def test_bss_int_roundtrip_and_autoselect():
    """BSS extends to int-like dtypes (Parquet spec v2.11): forced
    round-trips for int64/int32, and the measured selector picks BSS on
    the sequential-id-with-noise shape (auto-increment keys: low-byte
    noise, near-constant high-byte planes — measured ~40% smaller
    post-compression than PLAIN and past FOR's offset win)."""
    from parquetjs_spark.codecs import BSS

    rng = np.random.default_rng(11)
    seq = np.arange(4096, dtype=np.int64) * 1000 + rng.integers(0, 50, 4096)
    out, stats = roundtrip(seq, "int64", codec=BSS)
    assert stats["codec"] == BSS and out == seq.tolist()
    s32 = rng.integers(-2**31, 2**31 - 1, 2000).astype(np.int32)
    out32, _ = roundtrip(s32, "int32", codec=BSS)
    assert out32 == s32.tolist()
    sel, _ = chunk.select_codec(seq, "int64")
    assert sel == BSS
    # low-cardinality ints still go DICT/RLE/FOR, not BSS
    rep = np.repeat(np.arange(8, dtype=np.int64), 512)
    sel2, _ = chunk.select_codec(rep, "int64")
    assert sel2 != BSS
    # auto is smaller than PLAIN on this shape and decodes back exactly
    blob_auto, st_auto = encode(seq, "int64", codec="auto")
    blob_plain, _ = encode(seq, "int64", codec="PLAIN")
    assert st_auto["codec"] == BSS
    assert len(blob_auto) < len(blob_plain)
    assert decode(blob_auto) == seq.tolist()


def test_int96_roundtrip_and_golden_bytes():
    """PLAIN INT96 parity (parquetjs lib/codec/plain.js:70-103):
    12-byte sign-extended int64 values, byte layout matched exactly —
    the last deliberately-skipped reference codec, now closed.  Forced-
    only (1.5x PLAIN INT64 by construction, never auto-selected)."""
    from parquetjs_spark.codecs import INT96, plain as plain_codec

    ext = [0, 1, -1, 2**62, -2**62, 2**63 - 1, -2**63]
    vals = np.array(ext * 40, dtype=np.int64)
    out, stats = roundtrip(vals, "int64", codec=INT96)
    assert stats["codec"] == INT96 and out == vals.tolist()
    # golden bytes: value low 8 LE + sign-extension word, as the
    # reference writes them
    b = plain_codec.encode_int96(np.array([1, -1], dtype=np.int64))
    assert b == bytes([1] + [0] * 7 + [0] * 4) + bytes([0xFF] * 12)
    # timestamps ride the same path
    ts = pd.to_datetime(["1969-07-20 20:17:40", "2020-01-01 00:00:00"])
    out_ts, _ = roundtrip(ts, "timestamp_us", codec=INT96)
    assert out_ts == [t.to_pydatetime() for t in ts]
    # the selector never picks it
    sel, _ = chunk.select_codec(vals, "int64")
    assert sel != INT96


def test_incr_roundtrip_and_autoselect():
    """INCREMENTAL (front-coded, Parquet DELTA_BYTE_ARRAY idea): forced
    round-trips for strings/binary incl. empties and nulls; the
    measured selector picks INCR on sorted path-like strings (measured
    0.57x of PLAIN post-zstd) and does NOT pick it on the same values
    shuffled (~1.03x — no prefix structure in row order)."""
    import random

    from parquetjs_spark.codecs import INCR

    rng = random.Random(5)
    paths = sorted(
        f"src/module_{i % 40:02d}/pkg_{i % 7}/file_{i:05d}_{rng.randrange(1000):03d}.py"
        for i in range(4096)
    )
    out, stats = roundtrip(paths, "string", codec=INCR)
    assert stats["codec"] == INCR and out == paths

    byts = [b"\x00\xff" * 3, b"\x00\xff" * 3 + b"Z", b"", b"Q"]
    outb, _ = roundtrip(byts, "binary", codec=INCR)
    assert outb == byts

    withnulls = paths[:50] + [None] * 5 + paths[50:100]
    blobn, _ = encode(withnulls, "string", codec=INCR)
    assert decode(blobn) == withnulls

    bpaths = [v.encode() for v in paths]
    sel, info = selector(bpaths)
    assert sel == INCR and info["mean_lcp"] >= 8.0
    shuffled = bpaths[:]
    rng.shuffle(shuffled)
    sel2, _ = selector(shuffled)
    assert sel2 != INCR

    # auto end-to-end: smaller than the same data forced through PLAIN
    blob_auto, st_auto = encode(paths, "string", codec="auto")
    blob_plain, _ = encode(paths, "string", codec=PLAIN)
    assert st_auto["codec"] == INCR
    assert len(blob_auto) < len(blob_plain)
    assert decode(blob_auto) == paths


def test_incr_golden_wire_bytes():
    """Golden pin for the INCR wire: u32-framed FOR+bitpack prefix and
    suffix length sections, then the concatenated suffix payload.  The
    length sections delegate to for_bp (its own golden tests pin that
    wire); what THIS pin fixes is the lcp/suffix split itself."""
    from parquetjs_spark.codecs import for_bp, incr

    vals = [b"abc", b"abcd", b"abx"]
    # lcp with previous: [0, 3, 2] -> suffixes "abc", "d", "x"
    p_enc = for_bp.encode(np.array([0, 3, 2], dtype=np.int64))
    s_enc = for_bp.encode(np.array([3, 1, 1], dtype=np.int64))
    want = (
        len(p_enc).to_bytes(4, "little")
        + p_enc
        + len(s_enc).to_bytes(4, "little")
        + s_enc
        + b"abcdx"
    )
    assert incr.encode(vals) == want
    assert incr.decode(want, 3) == vals


def test_incr_long_prefix_and_matrix_fallback(monkeypatch):
    """Prefixes past the 64-byte first-pass window resolve via the tail
    extension; prefixes past PREFIX_CAP stay in the suffix (correct,
    just larger); and the sequential fallback decode (used when
    n*max_len exceeds the matrix budget) agrees with the matrix path."""
    from parquetjs_spark.codecs import incr

    p = b"x" * 200
    q = b"y" * 3000  # beyond PREFIX_CAP
    vals = [p + b"1", p + b"2", p + b"22", q + b"a", q + b"b", b""]
    enc = incr.encode(vals)
    assert incr.decode(enc, len(vals)) == vals
    plens = incr.prefix_lens(
        np.cumsum([0] + [len(v) for v in vals]), b"".join(vals)
    )
    assert plens.tolist() == [0, 200, 201, 0, incr.PREFIX_CAP, 0]

    rng = np.random.default_rng(9)
    mixed = sorted(
        bytes(rng.integers(97, 123, rng.integers(1, 40), dtype=np.uint8))
        for _ in range(800)
    )
    enc2 = incr.encode(mixed)
    via_matrix = incr.decode(enc2, len(mixed))
    monkeypatch.setattr(incr, "_MATRIX_CELLS", 0)
    via_loop = incr.decode(enc2, len(mixed))
    assert via_matrix == via_loop == mixed
