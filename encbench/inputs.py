"""Seeded benchmark inputs: the synthetic source-code table and a
TPC-H-shaped lineitem table, built on the driver as Arrow tables.

The same seed always yields byte-identical tables; a different seed
yields different rows.  Nothing here touches Spark.
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from parquetjs_spark import reference_model as ref
from parquetjs_spark.sources.synthetic import generate_batch

SOURCE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]

# ids of one seed's source rows start at seed * _ID_STRIDE, so seeds never
# share a row as long as a table stays below this many rows
_ID_STRIDE = 1 << 28

# reference_model dtype for each Arrow type the inputs use
_REF_DTYPES = {
    pa.string(): "string",
    pa.int64(): "int64",
    pa.int32(): "int32",
    pa.float64(): "float64",
    pa.timestamp("us", tz="UTC"): "timestamp_us",
}


def source_table(seed: int, rows: int) -> pa.Table:
    """``rows`` rows of the source-code table from a seed-offset id range."""
    ids = np.arange(rows, dtype=np.int64) + seed * _ID_STRIDE
    return pa.Table.from_pandas(generate_batch(ids), preserve_index=False)


def lineitem_table(seed: int, rows: int) -> pa.Table:
    """TPC-H-shaped lineitem: the 11 columns and value distributions of the
    sf0.1 fixture (independent uniform draws, so no column arrives sorted),
    drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2499, rows).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, max(1, rows // 4), rows),
            "l_partkey": rng.integers(0, max(1, rows // 30), rows),
            "l_suppkey": rng.integers(0, max(1, rows // 600), rows),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": rng.integers(90068, 10499992, rows) / 100.0,
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, rows)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, rows)],
            "l_shipdate": pa.array(day0 + days).cast(pa.timestamp("us", tz="UTC")),
        }
    )


def digest(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def content_bytes(table: pa.Table) -> dict[str, int]:
    """Per-column user bytes as the engine counts them: string payload
    bytes, or the fixed width times the row count."""
    out = {}
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_string(col.type):
            out[name] = pc.sum(pc.binary_length(col)).as_py() or 0
        else:
            out[name] = len(col) * col.type.bit_width // 8
    return out


def _ref_values(col: pa.ChunkedArray, dtype: str):
    if dtype == "string":
        return [v.encode("utf-8") for v in col.to_pylist()]
    if dtype == "timestamp_us":
        return col.cast(pa.int64()).to_numpy()
    return col.to_numpy()


def reference_gzip_bytes(table: pa.Table, columns: list[str], threads: int) -> int:
    """parquetjs GZIP column-chunk bytes of ``columns`` per
    ``reference_model.chunked_size``: one page per 4096-row group, laid
    out in table order.  Groups are independent, so they compress on
    ``threads`` threads (zlib releases the GIL)."""
    step = ref.ROW_GROUP_SIZE * 4
    jobs = []
    for name in columns:
        col = table.column(name)
        dtype = _REF_DTYPES[col.type]
        vals = _ref_values(col, dtype)
        jobs.extend((vals[lo : lo + step], dtype) for lo in range(0, len(vals), step))
    with ThreadPoolExecutor(max_workers=threads) as pool:
        sizes = pool.map(lambda j: ref.chunked_size(j[0], j[1], "GZIP"), jobs)
        return sum(sizes)
