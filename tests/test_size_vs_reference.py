"""Compressed-size gate vs parquetjs (SURVEY.md §5d, BASELINE.json:2,6):
our auto-encoded chunk bytes must be <= the reference's column-chunk
sizes on the same data, with the reference's sizes reproduced
analytically from its format math (parquetjs_spark/reference_model.py;
node is unavailable here). The model undercounts the reference (zero
page/thrift/footer overhead) while our totals include all framing, so
the assertion is conservative."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from parquetjs_spark import arrow_chunk, reference_model as ref
from parquetjs_spark.sources.synthetic import source_code_pdf


def our_total(series: pd.Series, dtype: str) -> int:
    """Auto-encode in reference-sized row groups; total blob bytes
    (chunk headers + levels + payload all included)."""
    arr = pa.Array.from_pandas(series, type=arrow_chunk.pa_type_of(dtype))
    total = 0
    for lo in range(0, len(arr), ref.ROW_GROUP_SIZE):
        blob, _ = arrow_chunk.encode_arrow_column(
            arr.slice(lo, ref.ROW_GROUP_SIZE), dtype
        )
        total += len(blob)
    return total


CASES = []


def case(name):
    def deco(fn):
        CASES.append((name, fn))
        return fn

    return deco


@case("content_strings")
def _content():
    pdf = source_code_pdf(8192)
    return pdf["content"], "string"


@case("low_card_strings")
def _low_card():
    rng = np.random.default_rng(7)
    return pd.Series(rng.choice(["apples", "oranges", "kiwi", "banana"], 20000)), "string"


@case("sequential_int64")
def _seq_int():
    return pd.Series(np.arange(20000, dtype=np.int64) + 1_700_000_000), "int64"


@case("random_float64")
def _rand_float():
    rng = np.random.default_rng(7)
    return pd.Series(rng.random(20000)), "float64"


@case("constant_int64")
def _const_int():
    return pd.Series(np.full(20000, 42, dtype=np.int64)), "int64"


@case("skewed_int32")
def _skew_int():
    rng = np.random.default_rng(7)
    return pd.Series(rng.zipf(1.5, 20000).clip(max=100_000).astype(np.int32)), "int32"


@pytest.mark.parametrize("name,maker", CASES, ids=[c[0] for c in CASES])
def test_size_le_reference_plain(name, maker):
    """ours <= parquetjs PLAIN UNCOMPRESSED (its default encoding path,
    /root/reference/lib/schema.js:129-143)."""
    series, dtype = maker()
    ours = our_total(series, dtype)
    theirs = ref.chunked_size(series.tolist(), dtype, "UNCOMPRESSED")
    assert ours <= theirs, f"{name}: ours={ours} > reference PLAIN={theirs}"


@pytest.mark.parametrize("name,maker", CASES, ids=[c[0] for c in CASES])
def test_size_le_reference_gzip(name, maker):
    """ours <= parquetjs PLAIN+GZIP (its strongest always-available
    codec, /root/reference/lib/compression.js:52-54)."""
    series, dtype = maker()
    ours = our_total(series, dtype)
    theirs = ref.chunked_size(series.tolist(), dtype, "GZIP")
    assert ours <= theirs, f"{name}: ours={ours} > reference GZIP={theirs}"
