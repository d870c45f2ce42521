"""Golden-byte PLAIN tests pinned from /root/reference/test/codec_plain.js."""

import numpy as np

from parquetjs_spark.codecs import plain


def test_boolean_golden():
    # /root/reference/test/codec_plain.js:9-26 — [T,F,T,T,F,T,F,F] -> 0x2d
    vals = [True, False, True, True, False, True, False, False]
    buf = plain.encode_boolean(vals)
    assert buf == bytes([0x2D])
    assert plain.decode_boolean(buf, 8).tolist() == vals


def test_int32_golden():
    # /root/reference/test/codec_plain.js:28-63
    vals = [42, 17, 23, -1, -2, -3, 9000, 420]
    buf = plain.encode_numeric("INT32", vals)
    assert buf == b"".join(v.to_bytes(4, "little", signed=True) for v in vals)
    assert plain.decode_numeric("INT32", buf, 8).tolist() == vals


def test_int64_golden():
    # /root/reference/test/codec_plain.js:65-80 — plus true 64-bit values
    # beyond the reference's int53 limit (lib/codec/plain.js:2,53)
    vals = [42, 17, 23, -1, -2, -3, 9000, 420, 2**62, -(2**62)]
    buf = plain.encode_numeric("INT64", vals)
    assert buf == b"".join(v.to_bytes(8, "little", signed=True) for v in vals)
    assert plain.decode_numeric("INT64", buf, len(vals)).tolist() == vals


def test_float_double():
    vals = [1.5, -2.25, 0.0, 3.14159]
    for t, w in (("FLOAT", 4), ("DOUBLE", 8)):
        buf = plain.encode_numeric(t, vals)
        assert len(buf) == w * len(vals)
        out = plain.decode_numeric(t, buf, len(vals))
        np.testing.assert_allclose(out, vals, rtol=1e-6)


def test_byte_array_golden():
    # /root/reference/test/codec_plain.js:201-236 — 4-byte LE len + payload
    vals = [b"one", b"two", b"three", b"", b"a longer string value"]
    buf = plain.encode_byte_array(vals)
    expect = b"".join(len(v).to_bytes(4, "little") + v for v in vals)
    assert buf == expect


def test_boolean_non_multiple_of_8():
    vals = [True, False, True]
    buf = plain.encode_boolean(vals)
    assert len(buf) == 1
    assert plain.decode_boolean(buf, 3).tolist() == vals
