"""Round-trip + format tests for the codecs the reference lacks:
DICT_RLE (SURVEY.md E15), FOR_BITPACK (E16 replacement), FSST (C7)."""

import numpy as np
import pytest

from parquetjs_spark.codecs import dictionary, for_bp, fsst


# --- DICT_RLE ----------------------------------------------------------------


def test_dict_byte_array_roundtrip():
    vals = [b"apple", b"banana", b"apple", b"apple", b"cherry", b"banana"] * 100
    buf = dictionary.encode(vals, "BYTE_ARRAY")
    out = dictionary.decode(buf, len(vals), "BYTE_ARRAY")
    assert list(out) == vals


def test_dict_int64_roundtrip():
    rng = np.random.default_rng(42)
    vals = rng.choice([3, 7, 1000, -5], size=5000)
    buf = dictionary.encode(vals, "INT64")
    out = dictionary.decode(buf, len(vals), "INT64")
    assert out.tolist() == vals.tolist()


def test_dict_single_value():
    vals = [b"x"] * 1000
    buf = dictionary.encode(vals, "BYTE_ARRAY")
    # 1 entry -> bit width 0 -> indices nearly free (the dict page pays
    # the strstream-v2 FOR lengths envelope, ~10 bytes fixed)
    assert len(buf) < 32
    assert list(dictionary.decode(buf, 1000, "BYTE_ARRAY")) == vals


def test_dict_beats_plain_on_low_cardinality():
    from parquetjs_spark.codecs import plain

    vals = [b"RETURNFLAG_A", b"RETURNFLAG_B"] * 2048
    d = dictionary.encode(vals, "BYTE_ARRAY")
    p = plain.encode_byte_array(vals)
    assert len(d) < len(p) / 20


def test_dict_stats():
    s = dictionary.stats([b"a", b"a", b"b", b"b", b"b", b"c"], "BYTE_ARRAY")
    assert s["cardinality"] == 3
    assert s["runs"] == 3
    assert s["bit_width"] == 2


# --- FOR_BITPACK -------------------------------------------------------------


@pytest.mark.parametrize(
    "vals",
    [
        [0],
        [5, 5, 5, 5],
        [100, 101, 102, 150],
        [-(2**62), 2**62],
        list(range(-50, 50)),
        [0, 2**63 - 1, -(2**63)],
    ],
)
def test_for_bitpack_roundtrip(vals):
    buf = for_bp.encode(np.array(vals, dtype=np.int64))
    out = for_bp.decode(buf, len(vals))
    assert out.tolist() == vals


def test_for_bitpack_size():
    # 6000 values in [0, 200): 8 bits each -> ~6009 bytes vs 48000 PLAIN
    vals = np.arange(6000, dtype=np.int64) % 200
    buf = for_bp.encode(vals)
    assert len(buf) == 9 + 6000  # 8-bit offsets
    assert for_bp.estimated_size(6000, 0, 199) == len(buf)


def test_for_bitpack_random_roundtrip():
    rng = np.random.default_rng(42)
    vals = rng.integers(-(2**62), 2**62, size=10_000, dtype=np.int64)
    out = for_bp.decode(for_bp.encode(vals), len(vals))
    assert np.array_equal(out, vals)


# --- FSST --------------------------------------------------------------------


def test_fsst_empty_table_escapes_everything():
    data = bytes(range(256)) * 3
    payload = fsst.compress(data, [])
    assert len(payload) == 2 * len(data)
    assert fsst.decompress(payload, []) == data


def test_fsst_roundtrip_text():
    data = (
        b"def encode(values, bit_width): return pack_bits(values, bit_width)\n"
        b"def decode(buffer, count, bit_width): return unpack_bits(buffer)\n"
    ) * 50
    table = fsst.train(data)
    assert 0 < len(table) <= 255
    payload = fsst.compress(data, table)
    assert len(payload) < len(data)  # must actually compress boilerplate
    assert fsst.decompress(payload, table) == data


def test_fsst_roundtrip_with_ff_bytes():
    # 0xFF in the *input* must survive (escape-of-escape handling)
    data = b"\xff\xff hello \xff world \xff\xff\xff" * 20
    table = fsst.train(data)
    payload = fsst.compress(data, table)
    assert fsst.decompress(payload, table) == data


def test_fsst_table_serialization():
    table = [b"the ", b"ing", b"\xff\x00", b"a"]
    blob = fsst.serialize_table(table)
    out, consumed = fsst.deserialize_table(blob)
    assert out == table and consumed == len(blob)


def test_fsst_binary_random_roundtrip():
    rng = np.random.default_rng(7)
    data = rng.integers(0, 256, size=5000, dtype=np.uint8).tobytes()
    table = fsst.train(data)
    payload = fsst.compress(data, table)
    assert fsst.decompress(payload, table) == data


def test_fsst_overlap_store_semantics():
    """The decode expansion relies on NumPy fancy assignment through an
    overlapping byte-strided u64 view processing indices sequentially
    (later stores win).  Pin that behavior explicitly so a NumPy upgrade
    that reorders stores fails loudly here, not as a data corruption."""
    import numpy as np

    buf = np.zeros(16 + 8, dtype=np.uint8)
    ov = np.ndarray(buffer=buf, shape=(17,), strides=(1,), dtype="<u8")
    a = np.uint64(0x0807060504030201)  # bytes 1..8 at offset 0
    b = np.uint64(0x1817161514131211)  # bytes 11..18 at offset 2
    ov[np.array([0, 2])] = np.array([a, b], dtype=np.uint64)
    assert buf[:10].tolist() == [1, 2, 0x11, 0x12, 0x13, 0x14, 0x15, 0x16, 0x17, 0x18]


def test_fsst_decode_randomized_vs_reference():
    """Randomized round-trips exercise the overlapping-store expansion
    against arbitrary symbol layouts (incl. adjacent escapes)."""
    import numpy as np

    from parquetjs_spark.codecs import fsst

    rng = np.random.default_rng(7)
    for trial in range(10):
        vocab = [b"def ", b"return", b"x", b"\xff", b"import numpy", b"(", b")"]
        data = b"".join(
            vocab[i] for i in rng.integers(0, len(vocab), size=2000)
        ) + bytes(rng.integers(0, 256, size=500, dtype=np.uint8))
        table = fsst.train(data[: 1 << 14])
        payload = fsst.compress(data, table)
        assert fsst.decompress(payload, table) == data


def test_fsst_overlap_pin_check_and_fallback_agree():
    """The import-time pin check must hold on this NumPy build, and the
    order-independent fallback scatter must produce identical output to
    the overlapping-store fast path."""
    assert fsst._OVERLAP_STORE_OK
    rng = np.random.default_rng(7)
    text = (b"the quick brown fox jumps over the lazy dog " * 200) + bytes(
        rng.integers(0, 256, 500, dtype=np.uint8)
    )
    table = fsst.train(text)
    payload = fsst.compress(text, table)
    fast = fsst.decompress(payload, table)
    import unittest.mock as mock

    with mock.patch.object(fsst, "_OVERLAP_STORE_OK", False):
        slow = fsst.decompress(payload, table)
    assert fast == slow == text


class TestStringSelectorProbes:
    """Bounds and reuse of the string selector's sampled probes."""

    def test_dict_probe_reads_at_most_sample_bytes_plus_one_value(self, monkeypatch):
        import pyarrow.compute as pc

        from parquetjs_spark.arrow_chunk import StrBlock, _select_string_codec
        from parquetjs_spark.chunk import SAMPLE_BYTES

        mb = 1 << 20
        vals = [bytes([65 + i]) * mb for i in range(8)]
        offs = np.arange(len(vals) + 1, dtype=np.int64) * mb
        block = StrBlock(b"".join(vals), offs)
        probed = []
        real = pc.dictionary_encode

        def spy(arr, *a, **kw):
            probed.append(sum(len(v) for v in arr.to_pylist()))
            return real(arr, *a, **kw)

        monkeypatch.setattr(pc, "dictionary_encode", spy)
        _select_string_codec(block, None)
        assert probed and max(probed) <= SAMPLE_BYTES + mb

    def test_empty_fsst_table_is_reused_not_retrained(self, monkeypatch):
        from parquetjs_spark.arrow_chunk import StrBlock, _select_string_codec

        rng = np.random.default_rng(3)
        vals = [bytes(rng.integers(0, 256, 40, dtype=np.uint8)) + b"%d" % i
                for i in range(2000)]
        lens = np.fromiter((len(v) for v in vals), np.int64, count=len(vals))
        offs = np.zeros(len(vals) + 1, np.int64)
        np.cumsum(lens, out=offs[1:])
        block = StrBlock(b"".join(vals), offs)
        trained = []
        monkeypatch.setattr(fsst, "train", lambda data: trained.append(1) or [])
        for state in ({"table": []}, {"probe_table": []}):
            _select_string_codec(block, state)
        assert trained == []
