"""Arrow-native chunk path: round-trips, sha verification and golden
pins of the chunk wire."""

import datetime as dt
import hashlib
import struct
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from parquetjs_spark import arrow_chunk, chunk
from parquetjs_spark.codecs import DICT_RLE, FSST, PLAIN


def rt(arr: pa.Array, dtype: str, **kw):
    blob, stats = arrow_chunk.encode_arrow_column(arr, dtype, **kw)
    out, out_dtype = arrow_chunk.decode_arrow_column(blob)
    assert out_dtype == dtype
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])
    return out, stats


@pytest.mark.parametrize("codec", ["auto", PLAIN, DICT_RLE, FSST])
def test_string_roundtrip(codec):
    vals = ["SELECT %d FROM t%d" % (i, i % 5) for i in range(3000)]
    out, _ = rt(pa.array(vals), "string", codec=codec)
    assert out.to_pylist() == vals


def test_string_with_nulls():
    vals = ["aa", None, "bb", "", None, "日本語"] * 50
    out, stats = rt(pa.array(vals), "string")
    assert stats["n_nulls"] == 100
    assert out.to_pylist() == vals


def test_binary_roundtrip():
    vals = [b"\xff\x00\x01" * i for i in range(200)]
    out, _ = rt(pa.array(vals, type=pa.binary()), "binary", codec=PLAIN)
    assert out.to_pylist() == vals


def test_int_float_bool_roundtrip():
    for vals, dtype in [
        (pa.array(np.arange(5000) % 100), "int64"),
        (pa.array(np.arange(1000, dtype=np.int32)), "int32"),
        (pa.array(np.random.default_rng(1).normal(size=2000)), "float64"),
        (pa.array([True, False, None, True] * 100), "bool"),
    ]:
        out, _ = rt(vals, dtype)
        assert out.to_pylist() == vals.to_pylist()


def test_timestamp_date_roundtrip():
    ts = pa.array(
        pd.date_range("2024-01-01", periods=500, freq="13min"),
        type=pa.timestamp("us"),
    )
    out, _ = rt(ts, "timestamp_us")
    assert out.to_pylist() == ts.to_pylist()

    dates = pa.array(
        pd.date_range("1995-01-01", periods=300, freq="D").date, type=pa.date32()
    )
    out, _ = rt(dates, "date")
    assert out.to_pylist() == dates.to_pylist()


def test_int_with_nulls():
    vals = pa.array([1, None, 2**61, None, 5])
    out, stats = rt(vals, "int64")
    assert stats["n_nulls"] == 2
    assert out.to_pylist() == vals.to_pylist()


# --- golden chunk pins ------------------------------------------------------
# One chunk per codec/dtype shape, encoded UNCOMPRESSED so the pin fixes
# the chunk wire (header, levels, codec payload) and not a compression
# library's output.  Each pin is (codec, sha256 of the blob bytes,
# recorded canonical sha256).  A changed pin is a wire or sha-format
# change: old tables would stop decoding or verifying.


def _paths():
    return [
        None if i % 7 == 3 else f"src/mod_{i // 40:02d}/file_{i:04d}.py"
        for i in range(600)
    ]


GOLDEN_INPUTS = {
    "string_nulls_plain": lambda: (pa.array(_paths()), "string", "PLAIN"),
    "string_nulls_dict": lambda: (pa.array(_paths()), "string", "DICT_RLE"),
    "string_nulls_fsst": lambda: (pa.array(_paths()), "string", "FSST"),
    "string_nulls_incr": lambda: (pa.array(_paths()), "string", "INCREMENTAL"),
    "binary_flba": lambda: (
        pa.array(
            [hashlib.md5(b"%d" % i).digest() for i in range(300)], type=pa.binary()
        ),
        "binary", "auto",
    ),
    "int64_nulls_auto": lambda: (
        pa.array(
            [None if i % 11 == 0 else (i * 7919) % 1000 for i in range(2000)],
            type=pa.int64(),
        ),
        "int64", "auto",
    ),
    "int64_nulls_rle": lambda: (
        pa.array(
            [None if i % 13 == 0 else i // 50 for i in range(2000)], type=pa.int64()
        ),
        "int64", "RLE",
    ),
    "float64_bss": lambda: (
        pa.array(
            [100.0 + (i % 37) * 0.015625 - (i % 5) * 0.5 for i in range(1000)],
            type=pa.float64(),
        ),
        "float64", "BYTE_STREAM_SPLIT",
    ),
    "bool": lambda: (
        pa.array(
            [None if i % 9 == 0 else i % 3 == 0 for i in range(500)], type=pa.bool_()
        ),
        "bool", "auto",
    ),
    "timestamp_us": lambda: (
        pa.array(
            [
                None if i % 17 == 0 else 1_700_000_000_000_000 + i * 60_000_001
                for i in range(800)
            ],
            type=pa.timestamp("us"),
        ),
        "timestamp_us", "auto",
    ),
    "date": lambda: (
        pa.array(
            [
                None if i % 19 == 0 else dt.date(1995, 1, 1) + dt.timedelta(days=i)
                for i in range(400)
            ],
            type=pa.date32(),
        ),
        "date", "auto",
    ),
    "decimal_12_2": lambda: (
        pa.array(
            [
                None if i % 23 == 0 else Decimal(i * 1234567 % 10**9) / 100
                for i in range(600)
            ],
            type=pa.decimal128(12, 2),
        ),
        "decimal(12,2)", "auto",
    ),
    "list_int64": lambda: (
        pa.array(
            [
                None if i % 10 == 4
                else [None if (i + j) % 6 == 0 else i * j for j in range(i % 5)]
                for i in range(400)
            ],
            type=pa.list_(pa.int64()),
        ),
        "list_int64", "auto",
    ),
    "list_list_string": lambda: (
        pa.array(
            [
                None if i % 8 == 5
                else [
                    [f"tok{(i * k + m) % 30}" for m in range(k % 3)]
                    for k in range(i % 4)
                ]
                for i in range(300)
            ],
            type=pa.list_(pa.list_(pa.string())),
        ),
        "list_list_string", "auto",
    ),
}

GOLDEN = {
    "string_nulls_plain": (
        "PLAIN",
        "496469e91ac1ba256a1121ab1af96002a437d5484106967197170f3b416dfa80",
        "f2a942ccb0dece9da9cec8d78f06de27e1ea88a17e9ea90733a44a9a3a5f70fc",
    ),
    "string_nulls_dict": (
        "DICT_RLE",
        "94afc27eab7d1bc2321e4025dd38e07847c9b7fcf6380c5db5bb255bb24a4995",
        "f2a942ccb0dece9da9cec8d78f06de27e1ea88a17e9ea90733a44a9a3a5f70fc",
    ),
    "string_nulls_fsst": (
        "FSST",
        "10ab7934611ac0ce3e208d13ccf7e3fd85f05316542d694e71d9387781cfd2fe",
        "f2a942ccb0dece9da9cec8d78f06de27e1ea88a17e9ea90733a44a9a3a5f70fc",
    ),
    "string_nulls_incr": (
        "INCREMENTAL",
        "df80a3374905e8e0724c43f60744140b8df726927b3a106770fc1e6c17ed58bc",
        "f2a942ccb0dece9da9cec8d78f06de27e1ea88a17e9ea90733a44a9a3a5f70fc",
    ),
    "binary_flba": (
        "FLBA",
        "c2971b66848a2d3d438709681c40349bb0fe7577ad503533ef92dc1836305872",
        "896d9dba9a2d3f0535f2d761cce158afaf20fa066a5890ce7f3fa17ea7a52183",
    ),
    "int64_nulls_auto": (
        "FOR_BITPACK",
        "efa60951117a70875f023d8eb34d990f20fa19ff7f0ab49c181c973b4648fd33",
        "08bb6ecedf13ec8828241269f5f430634659ce04c4ad58e9bf66f8bee950f3be",
    ),
    "int64_nulls_rle": (
        "RLE",
        "bcb4f4b9d9929776f4844c690cfda81146c92d51a2c45b58197f1942ed6cf3b4",
        "c0ee3ff6b1a04bf0f1baa16b0633b9da2b734499f6201ba071b15cbc1d0a778a",
    ),
    "float64_bss": (
        "BYTE_STREAM_SPLIT",
        "ce0174ff367752795b2fa452ff36035c1fca05836f2e17cc677c6650bb6ed7b1",
        "7c2b3dbb58f22e39eb81c86c5bb9be79afd3aec1e05a09bf0f8b56e80f6b1905",
    ),
    "bool": (
        "PLAIN",
        "85930a6cdd6302fa96c17140989c5e37687ce0220ad689569d6554a8a86b4925",
        "cf54a956b7e8a7f5c25b86f08a5688c1b1cee33bac4d56649f7557d4ff4fed61",
    ),
    "timestamp_us": (
        "BYTE_STREAM_SPLIT",
        "65154a90ecd0acc3e68f4a63c43584a3a57f76efed79541daff6dfaa50b22b9e",
        "c368c98239ee9d5e5b6bd704d1bd4f025742641329cbbc7892746fd20cab0fbe",
    ),
    "date": (
        "FOR_BITPACK",
        "85da7e80411fb542be190846359390725e86b8ecf0e1360b9cf84b44af257c34",
        "c93131cec134647b20142951775e752e9ba32af5a30713f71037368be566f5b8",
    ),
    "decimal_12_2": (
        "BYTE_STREAM_SPLIT",
        "1f0f28a762f672333159152857e2d92f17a6c66d36c8c00498fde1f310958f03",
        "809566ef8b17b3133c3958f1ec8b09c72206d076d8feeefca99ef10940731565",
    ),
    "list_int64": (
        "RLE",
        "8a9037525ff6b736822e8d69ba301c6384af2f366d85c73ab9f804c718f24521",
        "34610df39ada070a9ef3dce437e69fa93031df7f40dead2f5bef7bc6d490056c",
    ),
    "list_list_string": (
        "DICT_RLE",
        "8010da44f6f2d3d13754db37f00f01651b68757a45b785b47adaf00edbe37c4d",
        "53d75934bc2b4936a01463792bb91bce237a21bdc03750f4ed372842ca3a6093",
    ),
}


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_chunk_pins(name):
    arr, dtype, codec = GOLDEN_INPUTS[name]()
    blob, stats = arrow_chunk.encode_arrow_column(
        arr, dtype, codec=codec, compression="UNCOMPRESSED"
    )
    got = (stats["codec"], hashlib.sha256(blob).hexdigest(), stats["sha256"])
    assert got == GOLDEN[name]
    out, out_dtype = arrow_chunk.decode_arrow_column(blob)
    assert out_dtype == dtype
    assert out.to_pylist() == arr.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


def test_truncated_header_is_a_clean_error():
    blob, stats = arrow_chunk.encode_arrow_column(pa.array([1, 2, 3]), "int64")
    for cut in (2, 10, 23):
        with pytest.raises(ValueError, match="magic|truncated"):
            arrow_chunk.decode_arrow_column(blob[:cut])
        assert not arrow_chunk.verify_arrow(blob[:cut], stats["sha256"])


def test_header_disagreeing_with_blob_is_a_clean_error():
    """The header must describe the blob it heads.  An inflated
    values_len used to be cut back by the section slice, so the blob
    still decoded and verified ok."""
    arr, dtype, codec = GOLDEN_INPUTS["string_nulls_plain"]()
    blob, stats = arrow_chunk.encode_arrow_column(
        arr, dtype, codec=codec, compression="UNCOMPRESSED"
    )

    def patched(fmt, offset, value):
        out = bytearray(blob)
        struct.pack_into(fmt, out, offset, value)
        return bytes(out)

    values_len = struct.unpack_from("<I", blob, 20)[0]
    n = struct.unpack_from("<I", blob, 8)[0]
    for bad, reason in (
        (patched("<I", 20, values_len + 7), "section lengths"),
        (blob + b"\0", "section lengths"),
        (patched("<I", 12, n + 1), "n_nulls"),
        (patched("B", 4, 255), "unknown"),  # dtype id
        (patched("B", 5, 255), "unknown"),  # codec id
        (patched("B", 6, 255), "unknown"),  # compression id
    ):
        assert not arrow_chunk.verify_arrow(bad, stats["sha256"]), reason
        with pytest.raises(ValueError, match=reason):
            arrow_chunk.decode_arrow_column(bad)

    # a nested list embeds a whole inner blob: it too heads exactly its
    # own bytes (the outer values section ends where the inner blob does)
    arr, dtype, codec = GOLDEN_INPUTS["list_list_string"]()
    blob, _ = arrow_chunk.encode_arrow_column(
        arr, dtype, codec=codec, compression="UNCOMPRESSED"
    )
    mv = memoryview(blob)
    levels_len = chunk.parse_header(mv)[6]
    values = mv[24 + levels_len :]
    pos = 4 + int.from_bytes(values[:4], "little")
    inner = values[pos + 4 :]
    assert len(inner) == int.from_bytes(values[pos : pos + 4], "little")
    assert chunk.parse_header(inner)[0] == "list_string"


@pytest.mark.parametrize("compression", ["ZSTD", "SNAPPY", "LZ4"])
def test_hostile_raw_len_prefix_is_a_clean_error(compression):
    """A compressed section's 8-byte raw-length prefix sizes the output
    buffer.  A prefix no body of that size can decode to must raise
    ValueError before allocating (it used to attempt the allocation:
    MemoryError, or an OOM-killed worker)."""
    arr = pa.array([f"row {i % 50}" for i in range(2000)])
    blob, stats = arrow_chunk.encode_arrow_column(
        arr, "string", codec=PLAIN, compression=compression
    )
    levels_len = chunk.parse_header(memoryview(blob))[6]
    assert levels_len == 0
    start = chunk._HEADER.size  # the values section, prefix first
    bad = bytearray(blob)
    bad[start : start + 8] = (2**40).to_bytes(8, "little")
    with pytest.raises(ValueError, match="length prefix"):
        arrow_chunk.decode_arrow_column(bytes(bad))
    assert not arrow_chunk.verify_arrow(bytes(bad), stats["sha256"])
    assert arrow_chunk.decode_arrow_column(blob)[0].to_pylist() == arr.to_pylist()


def test_header_flags_must_match_the_nulls():
    """bit0 (has nulls) is the only header flag; the encoder sets it iff
    n_nulls > 0, and only then writes definition levels.  Any other
    flags byte used to be ignored."""
    arr, dtype, codec = GOLDEN_INPUTS["string_nulls_plain"]()
    nulls, nulls_stats = arrow_chunk.encode_arrow_column(
        arr, dtype, codec=codec, compression="UNCOMPRESSED"
    )
    dense, dense_stats = arrow_chunk.encode_arrow_column(pa.array([1, 2, 3]), "int64")
    assert nulls[7] == 1 and dense[7] == 0

    def patched(blob, flags, n_nulls=None):
        out = bytearray(blob)
        out[7] = flags
        if n_nulls is not None:
            struct.pack_into("<I", out, 12, n_nulls)
        return bytes(out)

    for bad, sha, reason in (
        (patched(nulls, 0b11), nulls_stats["sha256"], "unknown chunk flags"),
        (patched(dense, 0x80), dense_stats["sha256"], "unknown chunk flags"),
        (patched(dense, 1), dense_stats["sha256"], "disagrees with n_nulls"),
        (patched(nulls, 0), nulls_stats["sha256"], "disagrees with n_nulls"),
        (patched(nulls, 0, n_nulls=0), nulls_stats["sha256"], "level bytes"),
    ):
        with pytest.raises(ValueError, match=reason):
            chunk.parse_header(memoryview(bad))
        with pytest.raises(ValueError, match=reason):
            arrow_chunk.decode_arrow_column(bad)
        assert not arrow_chunk.verify_arrow(bad, sha), reason


def test_sliced_arrow_input():
    base = pa.array(["padpad"] * 10 + ["v%d" % i for i in range(500)])
    sliced = base.slice(10, 400)
    out, _ = rt(sliced, "string", codec=PLAIN)
    assert out.to_pylist() == sliced.to_pylist()


def test_empty_and_all_null():
    out, stats = rt(pa.array([], type=pa.string()), "string")
    assert stats["n"] == 0 and len(out) == 0
    out, stats = rt(pa.array([None, None], type=pa.string()), "string")
    assert stats["n_nulls"] == 2 and out.null_count == 2


def test_arrow_cached_flba_revalidated_on_varlen_chunk():
    state: dict = {}
    rng = np.random.default_rng(11)
    fixed = pa.array([bytes(rng.integers(0, 256, 16, dtype=np.uint8)) for _ in range(512)], type=pa.binary())
    _, s1 = arrow_chunk.encode_arrow_column(fixed, "binary", fsst_state=state)
    assert s1["codec"] == "FLBA"
    varlen = pa.array([b"y" * 16] * 511 + [b"tiny"], type=pa.binary())
    blob2, s2 = arrow_chunk.encode_arrow_column(varlen, "binary", fsst_state=state)
    assert s2["codec"] != "FLBA"
    out, _ = arrow_chunk.decode_arrow_column(blob2)
    assert out.to_pylist() == varlen.to_pylist()


def test_float_stats_unprunable_when_nan_present():
    """NaN-containing float chunks must carry no zone-map stats: arrow
    min_max skips NaN while Spark sorts NaN above all values, so pruned
    and unpruned scans would disagree (ADVICE r2)."""
    all_nan = pa.array([float("nan")] * 10, type=pa.float64())
    assert arrow_chunk._column_stats(all_nan, "float64") == (None, None)
    some_nan = pa.array([1.0, float("nan"), 2.0], type=pa.float64())
    assert arrow_chunk._column_stats(some_nan, "float64") == (None, None)
    clean = pa.array([1.0, 2.0], type=pa.float64())
    assert arrow_chunk._column_stats(clean, "float64") == ("1.0", "2.0")


def test_interval_dt_roundtrip():
    """INTERVAL (reference lib/types.js:124-130) — the Spark slice:
    day-time interval as int64 micros under the int codecs."""
    vals = pa.array(
        np.array([1_000_000, -5_000_000, 86_400_000_000, 0], dtype="timedelta64[us]"),
        type=pa.duration("us"),
    )
    blob, stats = arrow_chunk.encode_arrow_column(vals, "interval_dt")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "interval_dt"
    assert out.to_pylist() == vals.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])
    with_nulls = pa.array([1000, None, -999], type=pa.duration("us"))
    blob2, _ = arrow_chunk.encode_arrow_column(with_nulls, "interval_dt")
    out2, _ = arrow_chunk.decode_arrow_column(blob2)
    assert out2.to_pylist() == with_nulls.to_pylist()
    # intervals carry no zone-map stats (no castable string form)
    assert arrow_chunk._column_stats(vals, "interval_dt") == (None, None)


def test_time_ns_roundtrip():
    """TIME (reference lib/types.js:44-53) — Spark 4 TimeType slice:
    int64 nanos-since-midnight under the int codecs."""
    import datetime as dt

    vals = pa.array(
        [dt.time(12, 34, 56, 789000), dt.time(0, 0), None, dt.time(23, 59, 59, 999999)],
        type=pa.time64("ns"),
    )
    blob, stats = arrow_chunk.encode_arrow_column(vals, "time_ns")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "time_ns"
    assert out.to_pylist() == vals.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])
    # datetime.time rows with micros round-trip to the same objects
    times = [dt.time(1, 2, 3, 4), None, dt.time(23, 0)]
    blob2, st2 = arrow_chunk.encode_arrow_column(
        pa.array(times, type=pa.time64("ns")), "time_ns"
    )
    out2, dt2 = arrow_chunk.decode_arrow_column(blob2)
    assert dt2 == "time_ns"
    assert out2.to_pylist() == times
    assert arrow_chunk.verify_arrow(blob2, st2["sha256"])


def test_time_ns_keeps_sub_microsecond():
    """Genuine nanosecond values (below datetime.time's micro
    resolution) decode exactly, not truncated."""
    vals = pa.array(
        np.array([12_345_678_901], dtype=np.int64), type=pa.time64("ns")
    )
    blob, _ = arrow_chunk.encode_arrow_column(vals, "time_ns")
    out, _ = arrow_chunk.decode_arrow_column(blob)
    assert out.cast(pa.int64()).to_pylist() == [12_345_678_901]


def test_int64_extremes_and_float_specials_roundtrip():
    """Full-range int64 (INT64_MIN/MAX — a max-min overflow in FOR or
    the selector would corrupt) and IEEE specials (nan/inf/-0.0 bit
    identity) survive the auto path."""
    import math
    import struct

    import pyarrow as pa

    from parquetjs_spark import arrow_chunk, chunk

    for vals in (
        [-2**63, 2**63 - 1, 0, None, 42],
        [-2**63] * 10,
        [2**63 - 1, 2**63 - 2] * 50,
    ):
        arr = pa.array(vals, type=pa.int64())
        blob, stats = arrow_chunk.encode_arrow_column(
            arr, "int64", codec="auto", compression="auto"
        )
        out, dt = arrow_chunk.decode_arrow_column(blob)
        assert out.to_pylist() == vals
        assert arrow_chunk.verify_arrow(blob, stats["sha256"])

    fvals = [float("nan"), float("inf"), float("-inf"), -0.0, 1.5, None]
    arr = pa.array(fvals, type=pa.float64())
    blob, stats = arrow_chunk.encode_arrow_column(
        arr, "float64", codec="auto", compression="auto"
    )
    out, _ = arrow_chunk.decode_arrow_column(blob)
    got = out.to_pylist()
    assert math.isnan(got[0]) and got[1] == math.inf and got[2] == -math.inf
    assert struct.pack("<d", got[3]) == struct.pack("<d", -0.0)
    assert got[4] == 1.5 and got[5] is None
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


class _NoOffsetsArray:
    """Stand-in for the IPC edge layout pyarrow can produce but
    from_buffers refuses to build: non-empty array, absent offsets
    buffer (all values empty)."""

    def __init__(self, n, typ):
        self._n = n
        self.type = typ
        self.offset = 0
        self.null_count = 0

    def __len__(self):
        return self._n

    def buffers(self):
        return [None, None, None]


def test_strblock_absent_offsets_nonempty_means_all_empty():
    """bufs[1] is None with len(arr) > 0 must yield len(arr) EMPTY
    strings, not zero strings (round-4 ADVICE: the conflated guard
    silently lost rows)."""
    import pyarrow as pa

    block = arrow_chunk._strblock_from_pa(_NoOffsetsArray(5, pa.utf8()))
    assert len(block.lens) == 5
    assert list(block.lens) == [0] * 5
    assert bytes(block.concat_bytes()) == b""
    # the genuinely-empty case still yields zero values
    empty = arrow_chunk._strblock_from_pa(_NoOffsetsArray(0, pa.utf8()))
    assert len(empty.lens) == 0


def test_split_list_absent_offsets_nonempty_means_all_empty():
    import pyarrow as pa

    lens, flat, valid = arrow_chunk._split_list(
        _NoOffsetsArray(4, pa.list_(pa.int64()))
    )
    assert list(lens) == [0, 0, 0, 0]
    assert len(flat) == 0
    assert list(valid) == [True] * 4
    lens0, flat0, _ = arrow_chunk._split_list(
        _NoOffsetsArray(0, pa.list_(pa.int64()))
    )
    assert len(lens0) == 0 and len(flat0) == 0
