"""Property-based round-trip tests (hypothesis) for every codec kernel.

The reference has no property-based testing (SURVEY.md §5 — mocha unit
tests with golden vectors only); these pin decode(encode(x)) == x over
randomized inputs, including adversarial bytes (0xFF escape marker,
NULs, empty values) and boundary sizes around the RLE 8-value padding
and the FSST 64-byte parse grid.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from parquetjs_spark import arrow_chunk
from parquetjs_spark.codecs import dictionary, for_bp, fsst, incr, plain, rle

FAST = settings(max_examples=40, deadline=None)


# --- RLE hybrid -----------------------------------------------------------


@FAST
@given(
    st.lists(st.integers(0, 2**20 - 1), min_size=0, max_size=300),
    st.booleans(),
)
def test_rle_roundtrip(values, envelope):
    arr = np.array(values, dtype=np.uint64)
    width = int(max(values).bit_length()) if values else 1
    width = max(width, 1)
    buf = rle.encode(arr, width, disable_envelope=not envelope)
    out = rle.decode(memoryview(buf), len(values), width, disable_envelope=not envelope)
    assert out.tolist() == values


@FAST
@given(st.integers(1, 300), st.integers(0, 255))
def test_rle_constant_runs(n, v):
    arr = np.full(n, v, dtype=np.uint64)
    buf = rle.encode(arr, 8, disable_envelope=True)
    out = rle.decode(memoryview(buf), n, 8, disable_envelope=True)
    assert (out == v).all()


# --- FSST ------------------------------------------------------------------


@FAST
@given(st.binary(min_size=0, max_size=4096))
def test_fsst_arbitrary_bytes_roundtrip(data):
    table = fsst.train(data)
    assert fsst.decompress(fsst.compress(data, table), table) == data


@FAST
@given(st.binary(min_size=0, max_size=512))
def test_fsst_foreign_table_roundtrip(data):
    # table trained on unrelated text must still round-trip any input
    table = fsst.train(b"the quick brown fox jumps over the lazy dog " * 30)
    assert fsst.decompress(fsst.compress(data, table), table) == data


@FAST
@given(st.integers(0, 8), st.integers(55, 75))
def test_fsst_parse_grid_boundaries(pad_ff, n):
    # sizes straddling the 64-byte parse grid, with 0xFF runs at the seam
    data = b"a" * n + b"\xff" * pad_ff + b"repeat " * 20
    table = fsst.train(data)
    assert fsst.decompress(fsst.compress(data, table), table) == data


# --- chunk-level (codec auto-selection + nulls + compression) ---------------


def chunk_roundtrip(values, dtype: str, **kw) -> list:
    """Encode a list of Python values as one chunk, check its sha, decode."""
    arr = pa.array(values, type=arrow_chunk.pa_type_of(dtype))
    blob, stats = arrow_chunk.encode_arrow_column(arr, dtype, **kw)
    out, out_dtype = arrow_chunk.decode_arrow_column(blob)
    assert out_dtype == dtype
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])
    return out.to_pylist()


@FAST
@given(
    st.lists(
        st.one_of(st.none(), st.integers(-(2**62), 2**62)),
        min_size=0,
        max_size=200,
    )
)
def test_chunk_int64_auto_roundtrip(values):
    assert chunk_roundtrip(values, "int64") == values


@FAST
@given(
    st.lists(
        st.one_of(st.none(), st.text(max_size=60)),
        min_size=0,
        max_size=200,
    )
)
def test_chunk_string_auto_roundtrip(values):
    assert chunk_roundtrip(values, "string") == values


@FAST
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(st.integers(-(2**31), 2**31 - 1), max_size=12),
        ),
        min_size=0,
        max_size=80,
    )
)
def test_chunk_list_int64_auto_roundtrip(values):
    assert chunk_roundtrip(values, "list_int64") == values


# --- FOR+bitpack / dictionary ------------------------------------------------


@FAST
@given(st.lists(st.integers(-(2**40), 2**40), min_size=0, max_size=300))
def test_for_bitpack_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    buf = for_bp.encode(arr)
    out = for_bp.decode(memoryview(buf), len(values))
    assert out.tolist() == values


@FAST
@given(st.lists(st.binary(min_size=0, max_size=30), min_size=0, max_size=200))
def test_dictionary_roundtrip_bytes(values):
    buf = dictionary.encode(values, "BYTE_ARRAY")
    out = dictionary.decode(memoryview(buf), len(values), "BYTE_ARRAY")
    assert list(out) == values


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.one_of(st.sampled_from([b"", b"a", b"ab", b"abc"]), st.binary(max_size=30)),
        max_size=200,
    ),
    st.booleans(),
)
def test_string_block_codecs_match_list_codecs(values, do_sort):
    """The StrBlock encoders write the same bytes as the list-of-bytes
    reference codecs (DICT_RLE, INCREMENTAL)."""
    if do_sort:
        values = sorted(values)
    block = arrow_chunk._strblock_from_pa(pa.array(values, type=pa.binary()))
    assert arrow_chunk._encode_dict_block(block) == dictionary.encode(
        values, "BYTE_ARRAY"
    )
    assert arrow_chunk._encode_incr_block(block) == incr.encode(values)


# chunk shapes that flip the selector's cached decision: RLE-friendly
# ints then negative / wide ones; uniform-width bytes (FLBA) then
# variable-length ones
_INT_CHUNKS = st.one_of(
    st.integers(1, 8).map(lambda k: np.repeat(np.arange(k), 300).tolist()),
    st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=300),
)
_BYTES_CHUNKS = st.one_of(
    st.lists(st.binary(min_size=16, max_size=16), min_size=1, max_size=300),
    st.lists(st.binary(max_size=30), min_size=1, max_size=300),
)


@FAST
@given(st.data())
def test_shared_selector_state_across_mixed_chunks(data):
    """One column's selector state carried through a run of chunks whose
    shapes break a cached RLE or FLBA decision: every chunk, scalar or
    list elements, still round-trips and verifies."""
    dtype = data.draw(st.sampled_from(["int64", "list_int64", "binary", "list_binary"]))
    shapes = _INT_CHUNKS if "int" in dtype else _BYTES_CHUNKS
    state: dict = {}
    for vals in data.draw(st.lists(shapes, min_size=2, max_size=20)):
        if dtype.startswith("list_"):
            vals = [vals[i : i + 3] for i in range(0, len(vals), 3)]
        assert chunk_roundtrip(vals, dtype, fsst_state=state) == vals


# --- round-2 features: element nulls, decimal, arrow chunk ------------------


@FAST
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
                max_size=10,
            ),
        ),
        min_size=0,
        max_size=60,
    )
)
def test_list_with_element_nulls_roundtrip(values):
    import pyarrow as pa

    from parquetjs_spark import arrow_chunk

    arr = pa.array(values, type=pa.list_(pa.int64()))
    blob, stats = arrow_chunk.encode_arrow_column(arr, "list_int64")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "list_int64"
    assert out.to_pylist() == values
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


@FAST
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(st.one_of(st.none(), st.text(max_size=12)), max_size=8),
        ),
        min_size=0,
        max_size=50,
    )
)
def test_list_string_element_nulls_roundtrip(values):
    import pyarrow as pa

    from parquetjs_spark import arrow_chunk

    arr = pa.array(values, type=pa.list_(pa.string()))
    blob, stats = arrow_chunk.encode_arrow_column(arr, "list_string")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert out.to_pylist() == values
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


@FAST
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.decimals(
                min_value="-9999999999.99",
                max_value="9999999999.99",
                places=2,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=0,
        max_size=100,
    )
)
def test_decimal_chunk_roundtrip(values):
    assert chunk_roundtrip(values, "decimal(12,2)") == values


@FAST
@given(st.lists(st.one_of(st.none(), st.binary(min_size=8, max_size=8)),
                min_size=0, max_size=120))
def test_flba_chunk_roundtrip(values):
    from parquetjs_spark.codecs import FLBA

    assert chunk_roundtrip(values, "binary", codec=FLBA) == values


@FAST
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.none(), st.lists(st.integers(-(2**40), 2**40), max_size=5)),
                max_size=4,
            ),
        ),
        min_size=0,
        max_size=60,
    )
)
def test_nested_list_chunk_roundtrip(values):
    """rLevelMax=2 with nulls at every level — randomized."""
    import pyarrow as pa

    from parquetjs_spark import arrow_chunk

    arr = pa.array(values, type=arrow_chunk.pa_type_of("list_list_int64"))
    blob, stats = arrow_chunk.encode_arrow_column(arr, "list_list_int64")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "list_list_int64"
    assert out.to_pylist() == arr.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


@FAST
@given(
    st.lists(
        st.one_of(st.none(), st.integers(-(2**62), 2**62 - 1)),
        min_size=0,
        max_size=200,
    )
)
def test_interval_chunk_roundtrip(values):
    import pyarrow as pa

    from parquetjs_spark import arrow_chunk

    arr = pa.array(values, type=pa.duration("us"))
    blob, stats = arrow_chunk.encode_arrow_column(arr, "interval_dt")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "interval_dt"
    assert out.to_pylist() == arr.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


@FAST
@given(
    st.lists(
        st.one_of(st.none(), st.integers(0, 86_399_999_999_999)),
        min_size=0,
        max_size=200,
    )
)
def test_time_chunk_roundtrip(values):
    """nanos-since-midnight domain, randomized with nulls."""
    import pyarrow as pa

    from parquetjs_spark import arrow_chunk

    arr = pa.array(
        np.array([v if v is not None else 0 for v in values], dtype=np.int64),
        type=pa.time64("ns"),
        mask=np.array([v is None for v in values], dtype=bool),
    )
    blob, stats = arrow_chunk.encode_arrow_column(arr, "time_ns")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "time_ns"
    assert out.to_pylist() == arr.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


@FAST
@given(st.lists(st.one_of(st.none(), st.binary(max_size=40)), max_size=120))
def test_bloom_never_false_negative(values):
    """Every non-null encoded value must pass its own chunk's bloom."""
    import pyarrow as pa

    from parquetjs_spark import arrow_chunk
    from parquetjs_spark.codecs import bloom

    arr = pa.array(values, type=pa.binary())
    _, stats = arrow_chunk.encode_arrow_column(arr, "binary")
    bits = stats["bloom"]
    assert bits is not None
    for v in values:
        if v is not None:
            assert bloom.might_contain(bits, v, "binary")


@FAST
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(),
                    st.lists(
                        st.one_of(
                            st.none(),
                            st.lists(
                                st.one_of(st.none(), st.text(max_size=6)),
                                max_size=3,
                            ),
                        ),
                        max_size=4,
                    ),
                ),
                max_size=3,
            ),
        ),
        min_size=0,
        max_size=30,
    )
)
def test_nested_list_string_roundtrip(values):
    """Three repetition levels of strings — the shape whose empty
    children carry absent offset/data buffers (pyarrow flatten segfault
    guard in _split_list) and whose inner chunks ride StrBlock.
    NOTE each row must be genuinely depth-3: pyarrow's python converter
    silently iterates a str where a LIST is expected ('' -> [],
    'ab' -> ['a','b']), so a depth-mismatched strategy corrupts the
    input before the engine ever sees it."""
    import pyarrow as pa

    from parquetjs_spark import arrow_chunk

    arr = pa.array(values, type=arrow_chunk.pa_type_of("list_list_list_string"))
    blob, stats = arrow_chunk.encode_arrow_column(arr, "list_list_list_string")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "list_list_list_string"
    assert out.to_pylist() == values
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


# --- multimodal pure-NumPy decoders --------------------------------------


@FAST
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(0, 2**32 - 1),
)
def test_ppm_bmp_wav_roundtrip_property(h, w, seed):
    """decode(encode(x)) == x over random shapes for all three real
    media decoders (PPM, BMP via the hand-rolled writer, WAV PCM)."""
    from parquetjs_spark.functions import multimodal

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_image(multimodal.encode_ppm(img)), img
    )
    ch = 1 + (seed % 2)
    pcm = rng.integers(-32768, 32767, size=(h * w, ch), dtype=np.int16)
    out, rate = multimodal.decode_audio(multimodal.encode_wav(pcm, 8000))
    assert rate == 8000 and np.array_equal(out, pcm)


@FAST
@given(
    st.integers(1, 16),
    st.integers(1, 16),
    st.integers(0, 2**32 - 1),
)
def test_png_roundtrip_property(h, w, seed):
    """decode(encode_png(x)) == x over random shapes — the PNG path
    (zlib inflate + unfilter) added in round 6."""
    from parquetjs_spark.functions import multimodal

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_image(multimodal.encode_png(img)), img
    )


@FAST
@given(st.lists(st.floats(-1e4, 1e4, width=32), min_size=1, max_size=32),
       st.integers(0, 2**31 - 1))
def test_quantize_error_bound_property(vals, _seed):
    """int8 quantization error is bounded by scale/2 per element and
    zero vectors round-trip exactly — NumPy mirror of the JVM math."""
    v = np.asarray(vals, dtype=np.float32).astype(np.float64)
    am = np.abs(v).max()
    if am == 0:
        q = np.zeros_like(v)
        scale = 0.0
        assert np.array_equal(q * scale, v)
        return
    scale = am / 127.0
    q = np.round(v * 127.0 / am)
    assert np.all(np.abs(q) <= 127)
    err = np.abs(q * scale - v)
    assert np.all(err <= scale / 2 + 1e-12)


@FAST
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=0, max_size=400,
    )
)
def test_bss_roundtrip_property(values):
    """BYTE_STREAM_SPLIT moves bytes without interpreting them:
    decode(encode(x)) is bit-identical for arbitrary float64 payloads
    including NaN payload bits."""
    from parquetjs_spark.codecs import bss

    a = np.asarray(values, dtype=np.float64)
    out = bss.decode(bss.encode(a), len(a), np.float64)
    assert out.tobytes() == a.tobytes()


@given(
    st.lists(st.binary(min_size=0, max_size=120), min_size=0, max_size=300),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_incr_roundtrip_property(values, do_sort):
    """INCREMENTAL front-coding is lossless for arbitrary byte arrays,
    sorted (the winning shape) or not."""
    from parquetjs_spark.codecs import incr

    if do_sort:
        values = sorted(values)
    assert incr.decode(incr.encode(values), len(values)) == values


@given(st.lists(st.binary(min_size=0, max_size=120), min_size=2, max_size=200))
@settings(max_examples=40, deadline=None)
def test_incr_prefix_lens_match_python_lcp(values):
    """The vectorized capped lcp equals the obvious per-pair Python lcp."""
    import os

    from parquetjs_spark.codecs import incr

    lens = np.array([len(v) for v in values], dtype=np.int64)
    offs = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    got = incr.prefix_lens(offs, b"".join(values))
    want = [0] + [
        min(
            len(os.path.commonprefix([values[i - 1], values[i]])),
            incr.PREFIX_CAP,
        )
        for i in range(1, len(values))
    ]
    assert got.tolist() == want
