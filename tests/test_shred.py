"""Nested-column shredding (the reference's shredRecord,
parquetjs lib/shred.js:28-135): the leaves encode_columns writes
for every nested shape it handles, pinned byte for byte, and the shapes
it refuses, refused before any Spark job."""

from __future__ import annotations

import hashlib

import pytest

from parquetjs_spark import pipeline


def _pin_rows():
    """A struct with a nested struct and null groups; a list with null,
    empty and null-element lists; array<struct> holding a struct and an
    array field; array<struct> inside array<struct>."""
    rows = []
    for i in range(40):
        st = None if i % 7 == 0 else (i, None if i % 3 else f"b{i}", None if i % 5 == 1 else (i / 4,))
        li = None if i % 11 == 0 else [] if i % 5 == 0 else [i, None, -i]
        ast = (
            None if i % 9 == 0 else [] if i % 4 == 0
            else [(i, f"y{i}", None if i % 3 else (i * 2,), None if i % 2 else [i / 2, None]), None]
        )
        ann = (
            None if i % 6 == 0 else [] if i % 8 == 0
            else [(i, None if i % 5 == 0 else [] if i % 3 == 0 else [(i, None), None]), None]
        )
        rows.append((i, st, li, ast, ann))
    schema = (
        "id long, st struct<a: long, b: string, inner: struct<c: double>>, li array<long>, "
        "ast array<struct<x: long, y: string, s: struct<p: long>, qs: array<double>>>, "
        "ann array<struct<a: long, spans: array<struct<s: long, e: long>>>>"
    )
    return rows, schema


# (column, col_idx, dtype, n, n_nulls, sha256, sha256 of the blob bytes)
_PINNED_LEAVES = [
    ("id", 0, "int64", 40, 0,
     "12ad6c8abd3dbac02be806c10ec67fbc47582f93e17a806ce8faf3606ee0127d",
     "1fbc89239f83f141aed3fb95886839a63917140de496e7625778df48a8096f16"),
    ("st@def", 1, "bool", 40, 0,
     "b308f848c1f9a5340b2798d6b62d817556e10fa0a94025fdf355aa8bb5abf012",
     "3d747b3c098000c1e4c06cc53ef20d693e2d176222badd3fb5a1bfa0a75dfb63"),
    ("st.a", 2, "int64", 40, 6,
     "5d5780481ffbb212d581da4db7d2b0732d85363a908dc4189578fd3b088bcb0d",
     "56660f6c30fd61acac8268acde09d9bec306a6a4ae58d7a125b2fc1e27184cb9"),
    ("st.b", 3, "string", 40, 28,
     "098c304366e925c86d4f5e3c6dd364317f2c658cc514c60e09f9b2226619b90e",
     "e0c5bf94e4cbbdb722101b5ee2e85569646119ec03ca2c145af1f71e78d40bad"),
    ("st.inner@def", 4, "bool", 40, 0,
     "943e9a5daa9a22be66b4c2de86f24dd6b3d76375184bbed1553d6ee76c76cb95",
     "407f360ba7eae6a20b035662bc553d3ccee81555e0bd7bddb95aeaa63aa97ec6"),
    ("st.inner.c", 5, "float64", 40, 13,
     "c5348c8f7ef338e66038364fba7da9b63fd25abcfce0ef2de36f960cd7e7dbf6",
     "8c8359429a61f3891da133ac93fffda7c70cb445886e92abaf0a54757d959563"),
    ("li", 6, "list_int64", 40, 4,
     "28f98c8972a5302c274704b7fa523e383637d49073717b6d40c77e0cb3144d11",
     "b6922d005f98b3b6c035e65e6dc9cc395a48b99c12d559fe30d47872c89e7d2e"),
    ("ast@edef", 7, "list_bool", 40, 5,
     "677bb9149e83db9d18f40d20f59e3df6360e0478b274c9b5b015add842d2d615",
     "f9f84da9c09e57325b3efb318a5e0932f517b73088122e6893f5258b0ef2282b"),
    ("ast.x", 8, "list_int64", 40, 5,
     "07ccf0ddf2c10ad7f267bc5acfa75c0aacd091fdd00035885e3a0c66182f31bc",
     "260979e38c43eb98a5fc8a8a86deeec65f8e3cd33980a7c56cf4487074948698"),
    ("ast.y", 9, "list_string", 40, 5,
     "fc7624eea11df75c9c5b6444576a97ea705263f3341679362b86229bbc4583ad",
     "87a00025767b5719f321086914da9e1c3a0b0dae95082d26b20827698c89658e"),
    ("ast.s@edef", 10, "list_bool", 40, 5,
     "d297a95c27ae7ce5e2ae8491547bef61e023fa657d93ac1df968c95fd85dc227",
     "6556a20aa1adcdb850d7d42e375631f10fa10a54ffaa767ae1da6c0732cda082"),
    ("ast.s.p", 11, "list_int64", 40, 5,
     "d210a8ee7bd79f944014992ca884a556ec80badd7674d9d8348762ab040c84f3",
     "66f8afb370d5ebc9a8aa84a187e0b4d2fe7a27b619f44e6f68a99b02be56affd"),
    ("ast.qs", 12, "list_list_float64", 40, 5,
     "bb87a3f9e4236f4985e4f8b6e2849ae1d8a50825075c6bad8b415510c56daa45",
     "9651b8c32816f8f227ca1533eee26be6906550021177fa929e78bb778439e215"),
    ("ann@edef", 13, "list_bool", 40, 7,
     "82b0f30599fe1c1efab28ace82940b3d17aa897fefd2112ba837a1651f4daa9d",
     "ec14c299089b4072038d7a677a6b55807b27032ab30de37473c3ad8a515a1d5e"),
    ("ann.a", 14, "list_int64", 40, 7,
     "f2c770f5d043e13b8576d57adec67fcf66f92e2e367807be67585b049bde997a",
     "64c5483655204ef5cd1990f263ac0194db67f7994a62a096076e52724354a092"),
    ("ann.spans@edef", 15, "list_list_bool", 40, 7,
     "f8ffa9665755265debe723c1ee6e1303a611ee71a062db5dc30ccd9e90e0c4e2",
     "d572cd6feaacc297e0b331e08253d88e80003d8e81975f4f2833f1be43c07084"),
    ("ann.spans.s", 16, "list_list_int64", 40, 7,
     "a1deec13cd5d41c12a5ea3bdabe70b8c06ce438f79219dfcbb0d8eb622a46f94",
     "080b4caa92f876d4cbe6efd7f1c6f6a639feb8582c4b6d4b27191e0a12d8b555"),
    ("ann.spans.e", 17, "list_list_int64", 40, 7,
     "78bcc3400bff350b3dc8cbf66a001e4eb3243678b8a69d11cd2c4b88b1d1ab5b",
     "74c6d855b6610d4d0e36b6036fd14851847f6a61234209c623b3cdd491cadd1d"),
]


def test_shredded_leaves_are_pinned(spark):
    """Every leaf of every nested shape, in one PLAIN, uncompressed row
    group: names, col_idx order, dtypes, counts, canonical sha and blob
    bytes stay as pinned, and the table decodes back to its rows."""
    rows, schema = _pin_rows()
    df = spark.createDataFrame(rows, schema).coalesce(1)
    blobs = pipeline.encode_columns(df, codec="PLAIN", compression="UNCOMPRESSED")
    (row,) = blobs.collect()
    got = [
        (ch["column"], ch["col_idx"], ch["dtype"], ch["n"], ch["n_nulls"], ch["sha256"],
         hashlib.sha256(bytes(row[f"c{ch['col_idx']}"])).hexdigest())
        for ch in row["chunks"]
    ]
    assert got == _PINNED_LEAVES
    out = pipeline.decode_table(blobs, ordered=True)
    assert out.schema.simpleString() == df.schema.simpleString()
    assert out.collect() == df.collect()


@pytest.mark.parametrize(
    "shape",
    ["a array<struct<x: long, t: timestamp>>", "a array<array<struct<x: long>>>"],
    ids=["timestamp_in_arrstruct", "array_of_arrstruct"],
)
def test_unsupported_nested_shapes_raise_before_any_job(spark, shape):
    df = spark.createDataFrame([], f"id long, {shape}")
    sc = spark.sparkContext
    group = f"shred_{shape}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="unsupported"):
            pipeline.encode_columns(df)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
