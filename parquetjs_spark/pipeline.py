"""Spark pipeline — encode/decode as vectorized Arrow-batched
``mapInArrow`` stages (the execution model replacing the reference's
single-threaded write/read paths, SURVEY.md §3.4).

Design for scale:
  * All value work happens in Arrow and NumPy inside ``mapInArrow`` /
    ``applyInArrow`` (never per-row Python — BASELINE.json
    input_hint — and no JVM expression): the encode task shreds nested
    columns into their leaves (_shred) and the decode task reassembles
    them (_assemble_node); decode, verify, scans, delete and update are
    each one narrow stage over whole row groups, and every rewrite
    builds its rows with one row builder (_reencoded).
  * One encode task per partition; each task slices its Arrow batches
    into row-group-sized chunks (reference default 4096 rows,
    /root/reference/lib/writer.js:26) — chunk size bounds executor
    memory, so the same code holds at 100 TB with more partitions.
  * The blob table is row-group-major, like a Parquet file: one row
    per (partition, chunk) row group, with its column chunks' metadata
    in ``chunks`` and one blob column per leaf (``c<col_idx>``), so
    Parquet projection prunes columns and no stage regroups chunks.
  * The manifest is the unit of lineage: one row per (partition,
    chunk, column) with codec, sizes, sha256 and timing — a killed job
    resumes by anti-joining done row groups (north rule).
  * A write is one Spark job, the blob write; on a ``file:`` table the
    driver commits ``manifest/`` and ``meta/`` itself, as the
    reference's ``close`` appends the footer (write_encoded).
  * Skew from giant groups (repos) is defused by salted repartition
    before encode — deterministic salt, so chunk->manifest mapping is
    stable for resume.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections import Counter
from typing import Iterable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JError, Py4JJavaError
from pyspark import TaskContext
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from . import arrow_chunk
from .chunk import codec_supports
from .codecs import CODEC_IDS, compress
from .worker import drop_zip_finders, drops_zip_finders

DEFAULT_CHUNK_ROWS = 4096  # /root/reference/lib/writer.js:26

# --------------------------------------------------------------------------
# Spark <-> logical dtype mapping (SURVEY.md §1.2 table, rightmost column)
# --------------------------------------------------------------------------

_SPARK_TO_LOGICAL: dict[type, str] = {
    T.LongType: "int64",
    T.IntegerType: "int32",
    T.ShortType: "int32",
    T.ByteType: "int32",
    T.DoubleType: "float64",
    T.FloatType: "float32",
    T.BooleanType: "bool",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamp_us",
    T.TimestampNTZType: "timestamp_us",
    # INTERVAL (reference lib/types.js:124-130, FLBA(12) {months,days,
    # millis}): the Spark-representable slice — day-time intervals as
    # int64 micros.  YearMonthIntervalType can't cross Spark's Arrow
    # bridge (UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION) -> stays n-a.
    T.DayTimeIntervalType: "interval_dt",
    # TIME_MICROS/MILLIS (reference lib/types.js:44-53): Spark 4's
    # TimeType crosses the Arrow bridge as time64[ns] -> int64 nanos
    T.TimeType: "time_ns",
}

_LOGICAL_TO_SPARK: dict[str, T.DataType] = {
    "int64": T.LongType(),
    "int32": T.IntegerType(),
    "float64": T.DoubleType(),
    "float32": T.FloatType(),
    "bool": T.BooleanType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp_us": T.TimestampNTZType(),
    # full-range DAY TO SECOND; a narrower source field round-trips with
    # identical micros, only the declared start/end fields widen
    "interval_dt": T.DayTimeIntervalType(),
    "time_ns": T.TimeType(6),
}


_LIST_ELEMS = {"int64", "int32", "float64", "float32", "string", "bool", "binary"}


def _pa_type_of(dtype: str) -> "pa.DataType":
    return arrow_chunk.pa_type_of(dtype)


def logical_dtype(spark_type: T.DataType) -> str:
    if isinstance(spark_type, T.NullType):
        # a void column is pure definition levels (every value null,
        # lib/shred.js:100-114 semantics); carry it as an all-null
        # string column — the value type is vacuous
        return "string"
    if isinstance(spark_type, T.ArrayType):
        if isinstance(spark_type.elementType, T.StructType):
            # encode_columns shreds a repeated group into its leaves
            # (_shred) where it is a column or a struct field; an array
            # of them has no leaf form
            raise ValueError(
                f"unsupported Spark type: {spark_type.simpleString()} (array<struct> "
                "is encoded only as a column or a struct field)"
            )
        elem = logical_dtype(spark_type.elementType)
        # nested arrays (rLevelMax > 1, e.g. array<array<float>> token
        # embeddings) recurse: each level is one "list_" prefix
        if elem not in _LIST_ELEMS and not elem.startswith("list_"):
            raise ValueError(f"unsupported array element type: {elem}")
        return f"list_{elem}"
    if isinstance(spark_type, T.DecimalType):
        if spark_type.precision > 18:
            raise ValueError(
                "decimal precision > 18 not supported (unscaled value "
                "must fit int64)"
            )
        return f"decimal({spark_type.precision},{spark_type.scale})"
    for cls, name in _SPARK_TO_LOGICAL.items():
        if isinstance(spark_type, cls):
            return name
    raise ValueError(f"unsupported Spark type: {spark_type}")


# --------------------------------------------------------------------------
# nested groups: Dremel shredding, in Arrow
# --------------------------------------------------------------------------
#
# The reference supports arbitrarily nested groups
# (parquetjs lib/schema.js:102-120) and shreds a record in one
# recursion (shredRecord, lib/shred.js:28-135).  Our
# engine shreds each Arrow chunk of a column in one recursion too
# (_shred, inside the encode UDF): a StructType column becomes one
# chunked leaf per primitive path ("s.a.b") plus one synthetic bool
# leaf per struct node ("s@def", true = group present) — the
# struct-level slice of the definition levels; a repeated group
# (array<struct>) adds one list level to every leaf below it, and its
# struct nodes carry "@edef" validity lists instead.  Leaves under a
# null group encode null.  The decode rebuilds every column in Arrow
# from its leaves and validity chunks (_assemble_node), the
# materializeRecords analogue (lib/shred.js:157-245).  "." and "@def"
# are therefore reserved in encoded column names (they would break
# Spark field access anyway).

STRUCT_DEF_SUFFIX = "@def"
# repeated groups (array<struct>): per-node element-validity list chunk.
# "@edef" = list<bool>, true where the i-th element struct is present
# (the reference's repeated-group definition level one deeper,
# lib/shred.js:75-135 with rLevelMax=1 at the group).
LIST_STRUCT_DEF_SUFFIX = "@edef"


def _is_arrstruct(dt: T.DataType) -> bool:
    return isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType)


def _shred(path: str, dt: T.DataType, arr: pa.Array, depth: int = 0) -> list:
    """The leaves of ``arr``, a value array of Spark type ``dt`` named
    ``path`` inside ``depth`` repeated groups, in col_idx order:
    [(chunk name, Arrow array, dtype)].  A flat column is its own one
    leaf."""
    if isinstance(dt, T.StructType):
        suffix = LIST_STRUCT_DEF_SUFFIX if depth else STRUCT_DEF_SUFFIX
        leaves = [(path + suffix, pc.is_valid(arr), "bool")]
        # flatten() ANDs the group's validity into each field
        for f, child in zip(dt.fields, arr.flatten()):
            leaves += _shred(f"{path}.{f.name}", f.dataType, child, depth)
        return leaves
    if _is_arrstruct(dt):
        # one repetition level: shred the element structs, then give
        # each of their leaves this level's list shape
        lens, elems, valid = arrow_chunk._split_list(arr)
        return [
            (name, arrow_chunk._list_from_lens(lens, leaf, valid), "list_" + dtype)
            for name, leaf, dtype in _shred(path, dt.elementType, elems, depth + 1)
        ]
    dtype = logical_dtype(dt)
    if depth and dtype not in _LIST_ELEMS and not dtype.startswith("list_"):
        raise ValueError(f"unsupported array<struct> field type: {dtype}")
    return [(path, arr, dtype)]


def _encode_plan(df: DataFrame, cols: list[str]):
    """-> (df projected to ``cols``, {column: Spark type}, the leaves'
    (chunk name, dtype) in col_idx order).  The leaves come from _shred
    over an empty array of each column's type, so an unsupported shape
    raises ValueError here, before any job runs."""
    for c in cols:
        # reserved chunk-name syntax: "." separates struct-leaf paths,
        # @def/@edef are validity chunks.  A literal source column using
        # them would collide with shredded names on decode — reject with
        # a clear error instead of Spark's puzzling resolution failure.
        if "." in c or c.endswith(STRUCT_DEF_SUFFIX) or c.endswith(
            LIST_STRUCT_DEF_SUFFIX
        ):
            raise ValueError(
                f"column name {c!r} uses reserved chunk-name syntax "
                "('.', '@def', '@edef' — struct shredding, SURVEY.md); "
                "rename the source column before encoding"
            )
    if list(cols) != df.columns:
        # explicit projection (guide §4.1): mapInArrow is opaque to
        # Catalyst, so without this the encode stage ships EVERY
        # column of df across the Python boundary to encode a subset
        df = df.select(*[F.col(f"`{c}`") for c in cols])
    types = {c: df.schema[c].dataType for c in cols}
    leaves = []
    for c, dt in types.items():
        try:
            empty = pa.array([], to_arrow_type(dt))
        except PySparkException as e:  # no Arrow form: Spark cannot hand it to the UDF
            raise ValueError(f"unsupported Spark type: {dt}") from e
        leaves += [(name, dtype) for name, _, dtype in _shred(c, dt, empty)]
    return df, types, leaves


def _unflatten_tree(ordered: list[tuple[str, str]]):
    """Group flat chunk names (ordered by col_idx) back into nested nodes.

    Returns list of (out_name, node); node is ("leaf", flat_name, dtype),
    ("struct", def_name, [(field_name, node), ...]), or
    ("liststruct", edef_name, [(field_name, node), ...]) for repeated
    groups (array<struct>); inside a liststruct subtree a plain struct
    is a struct node whose validity chunk is its @edef, and only a
    repeated group one level deeper is a liststruct."""
    roots: list[tuple[str, dict]] = []
    by_name: dict[str, dict] = {}

    def get_node(path: str) -> dict:
        node = by_name.get(path)
        if node is None:
            node = {
                "children": [],
                "def": None,
                "edef": None,
                "edef_depth": 0,
                "dtype": None,
            }
            by_name[path] = node
            if "." in path:
                parent, field = path.rsplit(".", 1)
                get_node(parent)["children"].append((field, node))
            else:
                roots.append((path, node))
        return node

    for name, dtype in ordered:
        if name.endswith(LIST_STRUCT_DEF_SUFFIX):
            node = get_node(name[: -len(LIST_STRUCT_DEF_SUFFIX)])
            node["edef"] = name
            # repetition depth of this group node = number of list_
            # wrappers on its element-validity chunk (list_bool = depth
            # 1, list_list_bool = depth 2, ...)
            node["edef_depth"] = dtype.count("list_")
        elif name.endswith(STRUCT_DEF_SUFFIX):
            get_node(name[: -len(STRUCT_DEF_SUFFIX)])["def"] = name
        else:
            get_node(name)["dtype"] = dtype

    def finish(path: str, node: dict, parent_depth: int = 0):
        if node["children"]:
            if node["edef"] is not None:
                depth = node["edef_depth"]
                fields = [
                    (f, finish(f"{path}.{f}", ch, depth))
                    for f, ch in node["children"]
                ]
                if depth > parent_depth:
                    # a real repetition boundary: one more list level
                    # than the enclosing group
                    return ("liststruct", node["edef"], fields)
                # plain struct INSIDE a group: same repetition depth,
                # the @edef is its per-element presence mask — build
                # exactly like a @def struct
                return ("struct", node["edef"], fields)
            fields = [
                (f, finish(f"{path}.{f}", ch, parent_depth))
                for f, ch in node["children"]
            ]
            return ("struct", node["def"], fields)
        if node["dtype"] is None:
            raise ValueError(f"column {path} has a @def chunk but no leaves")
        return ("leaf", path, node["dtype"])

    return [(name, finish(name, node)) for name, node in roots]


def _node_spark_type(node, depth: int = 0) -> T.DataType:
    """Spark type of the rebuilt column.  ``depth`` counts enclosing
    repetition levels: a leaf chunk inside d repeated groups stores
    list^d<elem>, so its rebuilt element type strips d array levels;
    each liststruct boundary contributes one ArrayType and one depth."""
    if node[0] == "leaf":
        t = spark_type_of(node[2])
        for _ in range(depth):
            if not isinstance(t, T.ArrayType):
                raise ValueError(
                    f"leaf {node[1]} dtype {node[2]} too shallow for "
                    f"repetition depth {depth}"
                )
            t = t.elementType
        return t
    if node[0] == "liststruct":
        st = T.StructType(
            [
                T.StructField(f, _node_spark_type(ch, depth + 1), True)
                for f, ch in node[2]
            ]
        )
        return T.ArrayType(st, containsNull=True)
    return T.StructType(
        [T.StructField(f, _node_spark_type(ch, depth), True) for f, ch in node[2]]
    )


def _node_flat_names(node) -> list[str]:
    if node[0] == "leaf":
        return [node[1]]
    out = [node[1]] if node[1] else []
    for _, ch in node[2]:
        out.extend(_node_flat_names(ch))
    return out


def _assemble_node(node, decoded: dict, pa_types: dict) -> pa.Array:
    """The Arrow column of ``node`` from its decoded chunks ``decoded``
    ({chunk name: array}, cast to ``pa_types``): the one reassembly of
    nested columns, struct and repeated groups alike."""
    if node[0] == "leaf":
        arr = decoded[node[1]]
        want = pa_types[node[1]]
        return arr.cast(want) if arr.type != want else arr
    if node[0] == "liststruct":
        # one repetition level: the element structs from every chunk of
        # the subtree flattened one list level, masked by the @edef
        # values, then given the @edef list's shape
        lens, _, valid = arrow_chunk._split_list(decoded[node[1]])
        names = _node_flat_names(node)
        elems = {n: arrow_chunk._split_list(decoded[n])[1] for n in names}
        types = {n: pa_types[n].value_type for n in names}
        struct = _assemble_node(("struct", *node[1:]), elems, types)
        return arrow_chunk._list_from_lens(lens, struct, valid)
    children = [(f, _assemble_node(ch, decoded, pa_types)) for f, ch in node[2]]
    mask = None
    if node[1] is not None:
        valid = decoded[node[1]]
        if valid.null_count or not pc.all(valid).as_py():
            mask = pc.invert(valid)
    return pa.StructArray.from_arrays(
        [a for _, a in children], names=[f for f, _ in children], mask=mask
    )


def spark_type_of(dtype: str) -> T.DataType:
    if dtype.startswith("list_"):
        return T.ArrayType(spark_type_of(dtype[len("list_") :]))
    if dtype.startswith("decimal("):
        p, s = dtype[len("decimal(") : -1].split(",")
        return T.DecimalType(int(p), int(s))
    return _LOGICAL_TO_SPARK[dtype]


# the fields of one column chunk, in manifest order: the manifest is one
# row per chunk, (part_id, chunk_seq) then these
_CHUNK_FIELDS = [
    T.StructField("column", T.StringType()),
    T.StructField("col_idx", T.IntegerType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("codec", T.StringType()),
    T.StructField("compression", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("n_nulls", T.LongType()),
    T.StructField("content_bytes", T.LongType()),
    T.StructField("encoded_bytes", T.LongType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("stat_min", T.StringType()),
    T.StructField("stat_max", T.StringType()),
    T.StructField("bloom", T.ArrayType(T.LongType())),
    T.StructField("wall_ms", T.DoubleType()),
]
_GROUP_FIELDS = [
    T.StructField("part_id", T.IntegerType()),
    T.StructField("chunk_seq", T.LongType()),
]
MANIFEST_SCHEMA = T.StructType(_GROUP_FIELDS + _CHUNK_FIELDS)
MANIFEST_COLUMNS = MANIFEST_SCHEMA.names


def _data_col(col_idx: int) -> str:
    """The blob column holding the chunks of leaf ``col_idx``."""
    return f"c{col_idx}"


def blob_schema(leaves: Iterable[dict]) -> T.StructType:
    """The blob table of ``leaves``, (column, col_idx, dtype) rows: one
    row per row group, (part_id, chunk_seq), its column chunks' manifest
    fields in col_idx order (``chunks``), and one binary column of blob
    bytes per leaf, ``c<col_idx>``.  Each blob column's field metadata
    is its leaf's {column, dtype}: the schema carries the table's column
    map, as a Parquet footer carries the file's schema (parquetjs
    lib/writer.js:520-569), and _meta_rows_for reads it back."""
    return T.StructType(
        _GROUP_FIELDS
        + [T.StructField("chunks", T.ArrayType(T.StructType(_CHUNK_FIELDS)))]
        + [
            T.StructField(
                _data_col(r["col_idx"]), T.BinaryType(),
                metadata={"column": r["column"], "dtype": r["dtype"]},
            )
            for r in sorted(leaves, key=lambda r: r["col_idx"])
        ]
    )


def _with_map(blob_df: DataFrame, leaves: list[dict]) -> DataFrame:
    """``blob_df`` with the column map of ``leaves`` on its blob columns,
    as blob_schema puts it: one projection, whose aliases a Parquet
    write keeps (``DataFrame.to`` shows the map but the write drops it)."""
    meta = {_data_col(r["col_idx"]): {"column": r["column"], "dtype": r["dtype"]} for r in leaves}
    return blob_df.select(
        *[F.col(c).alias(c, metadata=meta[c]) if c in meta else F.col(c) for c in blob_df.columns]
    )


def _meta_rows_for(blob_df: DataFrame) -> list[dict]:
    """(column, col_idx, dtype) rows of the blob frame, in col_idx
    order: the column map blob_schema puts on its blob columns, read off
    the frame's schema (which PySpark caches per DataFrame), so no call
    runs a job to find its columns, an empty frame included.  Each
    public call resolves them once and derives its predicate dtypes
    (_dtypes) and layout from the same rows.  A blob column without the
    map (a blob directory read with a schema of its own, or a column
    replaced by withColumn) raises ValueError naming both fixes."""
    rows = []
    for f in blob_df.schema.fields:
        if f.name in ("part_id", "chunk_seq", "chunks"):
            continue
        if "column" not in f.metadata or "dtype" not in f.metadata:
            raise ValueError(
                f"blob column {f.name} carries no column map in its schema: open the "
                "table with read_encoded(spark, path), or after withColumn restore it with "
                f".withMetadata({f.name!r}, blobs.schema[{f.name!r}].metadata)"
            )
        md = f.metadata
        rows.append({"column": md["column"], "col_idx": int(f.name[1:]), "dtype": md["dtype"]})
    return sorted(rows, key=lambda r: r["col_idx"])


# canonical-sha definition version: bumped to 2 in round 3 when the
# string/binary sha feed changed from the interleaved PLAIN stream to
# payload ++ '|' ++ int64-LE lengths.  Written to every table's meta KV
# so verify can tell an old-format manifest apart from corruption.
SHA_FORMAT_VERSION = 2
_SHA_FORMAT_KEY = "parquetjs_spark.sha_format"
# the blob layout, written to every table's meta KV like the sha format:
# read_encoded refuses a table without it (the per-chunk layout, which
# convert_encoded rewrites)
BLOB_LAYOUT = "row_group"
_LAYOUT_KEY = "parquetjs_spark.layout"

# the manifest files the driver writes: the names, types and order Spark
# writes, so a table appended across both writers reads as one
_MANIFEST_PA_SCHEMA = to_arrow_schema(MANIFEST_SCHEMA)
_KV_SCHEMA = T.StructType(
    [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
)
_KV_PA_SCHEMA = to_arrow_schema(_KV_SCHEMA)


def _flat_chunks(groups: pa.RecordBatch) -> pa.RecordBatch:
    """The manifest rows of blob rows ``groups``: their ``chunks``
    flattened, one row per column chunk under its (part_id, chunk_seq)."""
    chunks = groups.column("chunks")
    parents = pc.list_parent_indices(chunks)
    flat = pc.list_flatten(chunks)
    return pa.RecordBatch.from_arrays(
        [groups.column("part_id").take(parents), groups.column("chunk_seq").take(parents)]
        + [flat.field(f.name) for f in _CHUNK_FIELDS],
        schema=_MANIFEST_PA_SCHEMA,
    )


def chunk_view(blob_df: DataFrame) -> DataFrame:
    """The blob table as one row per column chunk, shaped like the
    manifest (MANIFEST_COLUMNS): the one per-chunk view for code that
    reads chunk metadata off blob rows."""
    rows = blob_df.select("part_id", "chunk_seq", F.explode("chunks").alias("__chunk"))
    return rows.select("part_id", "chunk_seq", "__chunk.*")


# --------------------------------------------------------------------------
# encode stage
# --------------------------------------------------------------------------


def _arrow_batch_slices(
    batches: Iterable[pa.RecordBatch], chunk_rows: int
) -> Iterator[pa.RecordBatch]:
    """Zero-copy re-chunking of Arrow RecordBatches into chunk_rows slices
    (row-group sizing, /root/reference/lib/writer.js:26 analogue)."""
    pending: list[pa.RecordBatch] = []
    pending_rows = 0
    for rb in batches:
        pos = 0
        n = rb.num_rows
        while pos < n:
            take = min(chunk_rows - pending_rows, n - pos)
            pending.append(rb.slice(pos, take))
            pending_rows += take
            pos += take
            if pending_rows >= chunk_rows:
                if len(pending) == 1:
                    yield pending[0]
                else:
                    tbl = pa.Table.from_batches(pending).combine_chunks()
                    yield tbl.to_batches(max_chunksize=pending_rows)[0]
                pending, pending_rows = [], 0
    if pending_rows:
        if len(pending) == 1:
            yield pending[0]
        else:
            tbl = pa.Table.from_batches(pending).combine_chunks()
            yield tbl.to_batches(max_chunksize=pending_rows)[0]


def _encode_chunk(arr: pa.Array, dtype: str, **encode_kw) -> tuple[dict, bytes]:
    """Encode one chunk -> the chunk fields the encode decides (codec,
    sizes, sha256, bloom, zone map, wall_ms) and its blob bytes.  The
    first-pass encode and every rewrite (delete, update, compact) build
    their rows from it, so they cannot drift when a field is added."""
    t0 = time.perf_counter()
    blob, stats = arrow_chunk.encode_arrow_column(arr, dtype, **encode_kw)
    fields = {
        f: stats.get(f)
        for f in ("codec", "compression", "n", "n_nulls", "content_bytes",
                  "encoded_bytes", "sha256", "bloom")
    }
    fields["stat_min"], fields["stat_max"] = arrow_chunk._column_stats(arr, dtype)
    fields["wall_ms"] = (time.perf_counter() - t0) * 1000.0
    return fields, blob


def _check_forced(codec: str, compression: str, leaves: list) -> None:
    """A forced ``codec`` and ``compression`` checked on the driver: an
    unknown name, or a codec that cannot encode one of the (chunk name,
    dtype) ``leaves`` (validity and list leaves included), raises one
    ValueError naming them."""
    if codec != "auto" and codec not in CODEC_IDS:
        raise ValueError(f"unknown codec {codec!r} (choose from auto, {', '.join(sorted(CODEC_IDS))})")
    if compression != "auto" and compression not in compress.available():
        choices = ", ".join(compress.available())
        raise ValueError(f"unknown compression {compression!r} (choose from auto, {choices})")
    if codec == "auto":
        return
    bad = [f"{name} ({dtype})" for name, dtype in leaves if not codec_supports(codec, dtype)]
    if bad:
        raise ValueError(
            f"codec {codec} cannot encode leaves {', '.join(bad)}; encode other columns or "
            "use codec auto"
        )


def encode_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    codec: str = "auto",
    compression: str = "auto",
) -> DataFrame:
    """Encode the given columns into the blob DataFrame.

    One output row per (partition, chunk) row group — the analogue of a
    Parquet row group (parquetjs lib/writer.js:482-515): its
    column chunks' ColumnMetaData (writer.js:424-477) in ``chunks``, in
    col_idx order, and each chunk's blob bytes in its own column
    (blob_schema).  The manifest is the same metadata one row per chunk
    (chunk_view).

    ``codec="auto"`` picks the smallest measured candidate per chunk;
    any other codec is forced on every chunk.  A task trains one FSST
    symbol table per leaf, from the first chunk it encodes with FSST,
    and reuses it for the rest of its chunks.

    Nested columns shred into their leaves inside the encode task
    (_shred).  An unsupported shape, an unknown forced codec or
    compression, and a forced codec that cannot encode one of the
    leaves raise ValueError here, before any job runs (_check_forced).
    """
    df, types, leaves = _encode_plan(df, columns or df.columns)
    _check_forced(codec, compression, leaves)
    out = blob_schema({"column": n, "col_idx": i, "dtype": dt} for i, (n, dt) in enumerate(leaves))
    schema = to_arrow_schema(out)

    @drops_zip_finders
    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        # per-leaf selector state: the decision cache and FSST tables
        fsst_states = [{} for _ in leaves]
        for seq, rb in enumerate(_arrow_batch_slices(batches, chunk_rows)):
            row = {"part_id": [part_id], "chunk_seq": [seq], "chunks": [[]]}
            shredded = [leaf for c, dt in types.items() for leaf in _shred(c, dt, rb.column(c))]
            for ci, (name, arr, dtype) in enumerate(shredded):
                fields, blob = _encode_chunk(
                    arr, dtype, codec=codec, compression=compression, fsst_state=fsst_states[ci]
                )
                row["chunks"][0].append({"column": name, "col_idx": ci, "dtype": dtype, **fields})
                row[_data_col(ci)] = [blob]
            yield pa.RecordBatch.from_pydict(row, schema=schema)

    return df.mapInArrow(encode_fn, schema=out)


# --------------------------------------------------------------------------
# decode stage
# --------------------------------------------------------------------------


class _Layout(NamedTuple):
    """How decode_table and the scans reassemble row groups: the output
    nodes by output name, the flat chunk names to read and decode (the
    nodes' chunks, then any residual-only predicate chunks, which
    _match_mask reads but no output carries) with the blob column each
    is read from (``sources``), and the output schema: every column,
    nested ones included, leaves the reassembly final."""

    nodes: dict
    flat_names: list
    sources: dict  # flat chunk name -> its blob column (c<col_idx>)
    pa_types: dict
    schema: T.StructType
    ordered: bool


_ORDER_COLS = ["__pid", "__cseq", "__ridx"]


def _row_group_layout(
    meta_rows: list, columns: list[str] | None, ordered: bool = False, residual: list[str] = ()
) -> _Layout:
    """The layout of ``columns`` (default: every column), each emitted
    with its source Spark type, nested columns whole.  The ``residual``
    chunks (a scan's predicate columns) are read and decoded too, but
    emitted only where an output column holds them.  ``meta_rows`` are
    _meta_rows_for's, in col_idx order."""
    if not meta_rows:
        raise ValueError("blob table has no chunks")
    # rebuild the nested shape from flat chunk names ("s.a", "s@def" —
    # reference nested groups, lib/schema.js:102-120)
    tree = dict(_unflatten_tree([(r["column"], r["dtype"]) for r in meta_rows]))
    if columns is None:
        columns = list(tree)
    flat_dtypes = {r["column"]: r["dtype"] for r in meta_rows}

    def node_of(c: str):
        if c in tree:
            return tree[c]
        if c in flat_dtypes:
            # a dotted LEAF path ("meta.origin") requested directly:
            # decode just that chunk as a column under its flat name —
            # scan predicates on struct leaves project this way
            return ("leaf", c, flat_dtypes[c])
        raise ValueError(f"no chunks for columns: [{c!r}]")

    nodes = {c: node_of(c) for c in columns}
    flat_names = [n for c in columns for n in _node_flat_names(nodes[c])]
    flat_names += [n for c in residual for n in _node_flat_names(node_of(c)) if n not in flat_names]
    sources = {r["column"]: _data_col(r["col_idx"]) for r in meta_rows if r["column"] in flat_names}
    pa_types = {name: _pa_type_of(flat_dtypes[name]) for name in flat_names}
    fields = [T.StructField(c, _node_spark_type(node)) for c, node in nodes.items()]
    if ordered:
        # write-order read-back (the reference cursor's iteration order):
        # each group emits its identity + row index, the final global
        # sort restores (partition, chunk, row) order.  Opt-in: the sort
        # is a full range-partition shuffle at scale.
        fields += [
            T.StructField(name, typ)
            for name, typ in zip(_ORDER_COLS, (T.IntegerType(), T.LongType(), T.LongType()))
        ]
    return _Layout(nodes, flat_names, sources, pa_types, T.StructType(fields), ordered)


class _Chunks(dict):
    """The decoded chunks of one row group, by column name, from its
    blob bytes ``blobs`` ({column: blob}).  A chunk decodes on first
    access and at most once, so a reader that asks for the predicate
    columns first (_match_mask) and stops when no row matches never
    decodes the rest: the two-phase decode of VERDICT r6 #4, for scans
    and DML alike."""

    def __init__(self, blobs: dict):
        super().__init__()
        self.blobs = blobs

    def __missing__(self, name: str) -> pa.Array:
        arr = self[name] = arrow_chunk.decode_arrow_column(self.blobs[name])[0]
        return arr


def _packed(blob_df: DataFrame, srcs: list[str], *exprs: str) -> DataFrame:
    """(part_id, chunk_seq, ``exprs``, ``__blobs``) of ``blob_df``, its
    blob columns ``srcs`` packed in that order into one array column:
    the Arrow stage after it takes a few input columns instead of one
    per leaf (planning a mapInArrow costs Py4J round trips per input
    column, ~10 ms a call on an 11-column table)."""
    return blob_df.selectExpr("part_id", "chunk_seq", *exprs, f"array({', '.join(srcs)}) AS __blobs")


def _row_groups(rows, layout: _Layout) -> Iterator[tuple[dict, tuple]]:
    """(blobs of ``layout.sources`` by chunk name, (part_id, chunk_seq))
    of each blob row in ``rows``: a batch of _packed rows in Spark, or
    the driver's table of blob columns."""
    srcs = sorted(set(layout.sources.values()))
    if "__blobs" in rows.column_names:
        flat = arrow_chunk.binary_views(rows.column("__blobs").flatten())
        views = {src: flat[j :: len(srcs)] for j, src in enumerate(srcs)}
    else:
        views = {src: arrow_chunk.binary_views(rows.column(src)) for src in srcs}
    ids = zip(rows.column("part_id").to_pylist(), rows.column("chunk_seq").to_pylist())
    for i, group_id in enumerate(ids):
        yield {name: views[src][i] for name, src in layout.sources.items()}, group_id


def _assemble_row_group(
    blobs: dict, group_id: tuple, layout: _Layout, specs: list | None = None
) -> pa.Table | None:
    """The one row-group reassembly, shared by the Spark decode (one
    call per blob row inside the UDF) and the driver-local scan: decode
    the ``layout.flat_names`` chunks of one row group (``blobs``, its
    (part_id, chunk_seq) ``group_id``) and zip the output columns
    positionally into ``layout.schema``.  ``specs`` is the exact
    residual (_match_mask): the predicate columns decode first, a group
    with no matching row decodes nothing else and yields None, and only
    matching rows are returned.  A predicate chunk no output column
    holds is decoded for the mask and never emitted."""
    decoded = _Chunks(blobs)
    match = _match_mask(decoded, specs) if specs else None
    if match is not None and not match.any():
        return None
    arrays = [_assemble_node(node, decoded, layout.pa_types) for node in layout.nodes.values()]
    if layout.ordered:
        n_rows = len(arrays[0]) if arrays else 0
        arrays.append(pa.array(np.full(n_rows, group_id[0], dtype=np.int32)))
        arrays.append(pa.array(np.full(n_rows, group_id[1], dtype=np.int64)))
        arrays.append(pa.array(np.arange(n_rows, dtype=np.int64)))
    out = pa.Table.from_arrays(arrays, names=layout.schema.names)
    return out if match is None or match.all() else out.filter(pa.array(match))


def _decode_rows(blob_df: DataFrame, layout: _Layout, specs: list | None = None) -> DataFrame:
    """``layout.schema`` rows of every row group in ``blob_df``, in
    Spark: one narrow stage, a blob row being a whole row group, that
    reads only the blob columns the layout decodes (Parquet projection)."""

    @drops_zip_finders
    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for blobs, group_id in _row_groups(rb, layout):
                out = _assemble_row_group(blobs, group_id, layout, specs)
                if out is not None:
                    yield from out.to_batches()

    srcs = sorted(set(layout.sources.values()))
    return _packed(blob_df, srcs).mapInArrow(decode_fn, schema=layout.schema)


def _rebuild(decoded_df: DataFrame, layout: _Layout) -> DataFrame:
    """The JVM half of decode: for ``ordered``, the sort by write
    order; otherwise the decoded rows as they are."""
    if layout.ordered:
        return decoded_df.orderBy(*_ORDER_COLS).drop(*_ORDER_COLS)
    return decoded_df


def decode_table(
    blob_df: DataFrame, columns: list[str] | None = None, ordered: bool = False
) -> DataFrame:
    """Reassemble the original multi-column DataFrame from the blob table —
    the cursor/materializeRecords analogue
    (/root/reference/lib/reader.js:51-67 ``ParquetCursor.next`` →
    /root/reference/lib/shred.js:157-245 ``materializeRecords``), but
    table-at-a-time: every column chunk of one (part_id, chunk_seq) row
    group is one blob row, decoded in one task and zipped positionally
    — no row-id join, no per-row Python.  Struct and repeated-group
    columns are rebuilt from their leaves in the same task
    (_assemble_node), so every column leaves it final; ``ordered`` adds
    the one JVM step, a sort by write order.

    Scale shape: one narrow stage, no shuffle.  A blob row is a whole
    row group (≤ chunk_rows rows × k compressed column blobs), so task
    memory is bounded regardless of total table size, and any split of
    the blob files decodes correctly.  Column pruning: pass ``columns``
    to decode a projection — Parquet reads only the blob columns
    (``c<col_idx>``) of their chunks, the analogue of the reference's
    getCursor(columnList) (parquetjs lib/reader.js:132-144).  The
    columns come from the frame's schema (_meta_rows_for), so planning
    runs no job and an empty frame decodes to an empty, typed one.  On
    a local read_encoded table a blob file removed or resized since
    read_encoded raises one ValueError at plan time
    (_check_blob_listing).
    """
    layout = _row_group_layout(_meta_rows_for(blob_df), columns, ordered)
    _check_blob_listing(blob_df)
    return _rebuild(_decode_rows(blob_df, layout), layout)


def decode_column(blob_df: DataFrame, column: str) -> DataFrame:
    """Decode one column's chunks back to a value DataFrame:
    decode_table projected to ``column`` (a dotted struct leaf path
    decodes that leaf under its flat name)."""
    return decode_table(blob_df, [column])


def roundtrip_table(
    df: DataFrame,
    columns: list[str] | None = None,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    codec: str = "auto",
    compression: str = "auto",
) -> DataFrame:
    """decode_table(encode_columns(df)) — full-table identity."""
    cols = columns or df.columns
    blobs = encode_columns(df.select(*cols), cols, chunk_rows=chunk_rows,
                           codec=codec, compression=compression)
    return decode_table(blobs, cols)


# the manifest is read onto the driver only up to this many chunk rows
# (a 100 TB table's manifest is ~25 M rows); above it, column metadata
# comes from one distinct job and lookups apply no row-group filter
_MANIFEST_DRIVER_ROWS = 2_000_000
_CHUNK_META = [
    "part_id", "chunk_seq", "column", "n", "n_nulls", "encoded_bytes", "stat_min", "stat_max",
    "bloom",
]


class _Manifest(NamedTuple):
    """A table's manifest as the driver holds it: {column: (col_idx,
    dtype)}, which read_encoded's blob_schema is built from, the chunk
    metadata table (None when Spark read the manifest), and the table's
    local directory, which the driver reads blob files from (None unless
    ``chunks`` is set)."""

    columns: dict
    chunks: pa.Table | None
    local: str | None


# per-table manifest, read once onto the driver with pyarrow — the
# footer analogue (parquetjs lib/reader.js:264-282 readFooter): path ->
# _Manifest.  Tables from read_encoded prune row groups from it with
# ZERO Spark jobs; read_encoded and write_encoded evict.
_MANIFEST_CACHE: dict[str, _Manifest | None] = {}


def _manifest_meta(spark: SparkSession, path: str) -> _Manifest | None:
    """The _MANIFEST_CACHE entry of the table at ``path``, read once
    (_read_table_dir): with pyarrow on the driver for a local table up
    to _MANIFEST_DRIVER_ROWS rows, else with one tiny Spark job over the
    manifest (never the blob table).  None when the table has no
    ``manifest/``."""
    if path in _MANIFEST_CACHE:
        return _MANIFEST_CACHE[path]

    def entry(rows, table=None, local=None):
        return _Manifest({r["column"]: (r["col_idx"], r["dtype"]) for r in rows}, table, local)

    def spark_read(uri):
        # the manifest schema: no inference job
        rows = spark.read.schema(MANIFEST_SCHEMA).parquet(uri)
        return entry(rows.select("column", "col_idx", "dtype").distinct().collect())

    def driver_read(local):
        import pyarrow.dataset as pads

        ds = pads.dataset(local, format="parquet", schema=_MANIFEST_PA_SCHEMA)
        if ds.count_rows() > _MANIFEST_DRIVER_ROWS:
            return spark_read(f"{path}/manifest")
        table = ds.to_table(columns=_CHUNK_META + ["col_idx", "dtype"])
        columns = table.group_by(["column", "col_idx", "dtype"]).aggregate([]).to_pylist()
        return entry(columns, table, os.path.dirname(local))

    _MANIFEST_CACHE[path] = _read_table_dir(spark, path, "manifest", driver_read, spark_read, None)
    return _MANIFEST_CACHE[path]


def _cached_meta(blob_df: DataFrame) -> _Manifest | None:
    """The manifest cache entry of a df returned by read_encoded; None
    when the df has been transformed (the attribute deliberately does
    not survive user filters — a filtered table may hold fewer
    columns or row groups) or the table has no ``manifest/``."""
    path = getattr(blob_df, "_pjs_meta_path", None)
    return None if path is None else _manifest_meta(blob_df.sparkSession, path)


def _chunk_meta(blob_df: DataFrame, columns: list[str]) -> pa.Table | None:
    """The one metadata source for pruning: the chunk rows of
    ``columns`` as an Arrow table on the driver — from the manifest
    cache (no job) for a table from read_encoded, else one job with
    ``data`` pruned; None above _MANIFEST_DRIVER_ROWS rows."""
    want = sorted(set(columns))
    cached = _cached_meta(blob_df)
    tbl = None if cached is None else cached.chunks
    if tbl is not None:
        return tbl.filter(pc.is_in(tbl["column"], pa.array(want, pa.string())))
    rows = chunk_view(blob_df).where(F.col("column").isin(want))
    tbl = rows.select(*_CHUNK_META).limit(_MANIFEST_DRIVER_ROWS + 1).toArrow()
    return tbl if tbl.num_rows <= _MANIFEST_DRIVER_ROWS else None


def _coerce_literal(value, dtype: str):
    """The one literal coercion (predicates, SET values, CLI checks):
    for date/timestamp columns, ISO strings (a trailing 'Z' included,
    which Python < 3.11 fromisoformat rejects), native objects and the
    raw logical ints (days / micros) become python date/datetime;
    tz-aware values normalize to UTC wall-clock, so the bloom probe
    hashes the micros the encoder stored and the residual compares the
    same instant.  Decimal strings and floats become Decimal.  Anything
    else passes through; a malformed string raises ValueError."""
    import datetime as _dt
    import decimal

    epoch = _dt.datetime(1970, 1, 1)
    if dtype == "date":
        if isinstance(value, str):
            value = _dt.date.fromisoformat(value)
        elif isinstance(value, _dt.datetime):
            value = value.date()
        elif isinstance(value, int):
            value = epoch.date() + _dt.timedelta(days=value)
    elif dtype == "timestamp_us":
        if isinstance(value, str):
            if value.endswith(("Z", "z")):
                value = value[:-1] + "+00:00"
            value = _dt.datetime.fromisoformat(value)
        elif isinstance(value, int):
            value = epoch + _dt.timedelta(microseconds=value)
        elif not isinstance(value, _dt.datetime) and isinstance(value, _dt.date):
            value = _dt.datetime.combine(value, _dt.time())
        if isinstance(value, _dt.datetime) and value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    elif dtype.startswith("decimal(") and isinstance(value, (str, float)):
        try:
            value = decimal.Decimal(str(value))
        except decimal.InvalidOperation:
            raise ValueError(f"not a decimal: {value!r}") from None
    return value


def _typed_value(column: str, value, dtype: str):
    """``value`` coerced and converted to the column's Arrow type, as
    the python object Spark literals and the DML mask both take.  A
    literal the type cannot hold (or an int column literal that would
    truncate) raises ValueError naming the column, on the driver."""
    try:
        coerced = _coerce_literal(value, dtype)
        typed = pa.scalar(coerced, type=_pa_type_of(dtype)).as_py()
        if dtype in ("int64", "int32") and typed != coerced:
            raise ValueError("not an integer")
    except (ValueError, TypeError, OverflowError) as e:
        raise ValueError(
            f"literal {value!r} for column {column!r} does not convert to "
            f"{dtype}: {e}"
        ) from None
    return typed


def _dtypes(meta_rows: list) -> dict[str, str]:
    """{column: dtype} of _meta_rows_for's rows."""
    return {r["column"]: r["dtype"] for r in meta_rows}


def _predicate_specs(
    dtypes: dict[str, str],
    ranges: dict[str, tuple] | None = None,
    eqs: dict | None = None,
) -> list[tuple]:
    """The one predicate spec: the ``ranges`` (column -> (lo, hi),
    either bound may be None) / ``eqs`` (column -> value, None = IS
    NULL) conjunction as validated (column, kind, typed value, dtype)
    tuples, kind in range/eq/isnull (a range's value is (lo, hi)).
    Dtypes come from the call's one resolution, ``dtypes`` ({column:
    dtype}, _dtypes), and each literal converts once, so an unknown
    column or a bad literal fails here before any Spark job runs."""
    ranges = dict(ranges or {})
    eqs = dict(eqs or {})
    if not ranges and not eqs:
        raise ValueError("need at least one predicate")
    overlap = set(ranges) & set(eqs)
    if overlap:
        raise ValueError(f"column in both ranges and eqs: {sorted(overlap)}")
    preds = [(c, "range", tuple(b)) for c, b in ranges.items()] + [
        (c, "isnull" if v is None else "eq", v) for c, v in eqs.items()
    ]
    specs = []
    for col, kind, value in preds:
        if col not in dtypes:
            raise ValueError(f"no chunks for column {col!r}: not in table")
        dt = dtypes[col]
        if kind == "range":
            value = tuple(
                None if v is None else _typed_value(col, v, dt) for v in value
            )
        elif kind == "eq":
            value = _typed_value(col, value, dt)
        specs.append((col, kind, value, dt))
    return specs


def _typed_stats(stats, column: str, dtype: str) -> pa.Array:
    """A stat_min / stat_max column in the Arrow type _typed_value gives
    literals, so a stat and a literal compare in one type; a stat the
    vectorized cast rejects (a UTC offset) goes through _typed_value."""
    typ = _pa_type_of(dtype)
    try:
        return pc.cast(stats, typ)
    except pa.ArrowInvalid:
        vals = stats.to_pylist()
        return pa.array([v if v is None else _typed_value(column, v, dtype) for v in vals], typ)


def _kept_chunks(meta: pa.Table, spec: tuple) -> pa.Table:
    """The one chunk rule, in Arrow over _chunk_meta's table: the chunk
    rows of ``spec``'s column that may hold a matching row — range ->
    zone maps; eq -> zone maps, then bloom (probing the LOGICAL value:
    days / micros for date / timestamp); isnull -> the n_nulls stat
    (Parquet's Statistics null_count, /root/reference/parquet.thrift:
    201-214).  A null stat or a null bloom keeps the chunk."""
    from .codecs import bloom as bloomlib

    column, kind, value, dtype = spec
    rows = meta.filter(pc.equal(meta["column"], column))
    if kind == "isnull":
        return rows.filter(pc.fill_null(pc.greater(rows["n_nulls"], 0), True))
    lo, hi = value if kind == "range" else (value, value)
    keep = np.ones(rows.num_rows, dtype=bool)
    for stat, op, bound in (("stat_max", "ge", lo), ("stat_min", "le", hi)):
        if bound is not None:
            typed = _typed_stats(rows[stat], column, dtype)
            unknown = typed.is_null().to_numpy(zero_copy_only=False)
            keep &= unknown | _compare(typed, op, bound)
    if kind == "eq" and dtype in bloomlib.BLOOMABLE:
        if dtype in ("date", "timestamp_us"):
            value = pa.scalar(value, _pa_type_of(dtype)).value
        keep &= bloomlib.might_contain_rows(rows["bloom"], value, dtype)
    return rows.filter(pa.array(keep))


# at most this many kept row groups become the literal keep-set filter;
# above it (an unselective predicate over a huge table) scans and DML
# apply no row-group filter, which stays exact (the residual and the
# DML mask are exact) and keeps the plan and driver memory bounded
_KEEPSET_COLLECT_ROWS = 100_000

# a scan whose kept row groups hold at most this many encoded bytes (of
# the columns it decodes) reads and decodes them on the driver, with no
# Spark job; above it the decode runs in Spark.  Measured on a 4-core
# VM, local[4] (method in CHANGES.md): where every kept row matches,
# the driver path's p50 meets the Spark path's at ~0.8 MB on TPC-H
# lineitem and ~4 MB on source text; a lookup that keeps one row stays
# faster on the driver to at least 2 MB (lineitem) and 9.8 MB (source,
# 70 vs 158 ms).  At the cap the decoded row groups stay well under
# Spark's 48 MB arrow.localRelationThreshold, so the result is a local
# relation, and the driver holds at most ~10 MB more
_LOCAL_SCAN_BYTES = 1 << 20


def _kept_groups(blob_df: DataFrame, specs: list) -> set[tuple[int, int]] | None:
    """The one keep-set for scans and DML, decided on the driver: the
    (part_id, chunk_seq) row groups every spec's chunk rule keeps; None
    without driver metadata."""
    meta = _chunk_meta(blob_df, [s[0] for s in specs])
    if meta is None:
        return None
    keep = None
    for spec in specs:
        k = _kept_chunks(meta, spec)
        groups = set(zip(k["part_id"].to_pylist(), k["chunk_seq"].to_pylist()))
        keep = groups if keep is None else keep & groups
    return keep


def _keepset_filter(keep: set[tuple[int, int]] | None) -> Column:
    """``keep`` as the literal Column ``part_id IN (...) AND (part_id,
    chunk_seq) IN (...)``; the ``part_id IN`` half pushes down to
    Parquet, skipping other encode tasks' files by footer stats.
    ``lit(True)`` (no row-group filter) without a keep-set or above
    _KEEPSET_COLLECT_ROWS groups."""
    if keep is None or len(keep) > _KEEPSET_COLLECT_ROWS:
        return F.lit(True)
    if not keep:
        return F.lit(False)
    parts = ", ".join(map(str, sorted({p for p, _ in keep})))
    pairs = ", ".join(f"({p}, {c}L)" for p, c in sorted(keep))
    return F.expr(f"part_id IN ({parts}) AND (part_id, chunk_seq) IN ({pairs})")


def _read_kept_blobs(path: str, local: str, keep: set, sources: list[str]) -> pa.Table:
    """The blob rows of the ``keep`` row groups of the table at ``path``
    (in the local directory ``local``), with only the blob columns
    ``sources``, read on the driver — the readRowGroup analogue
    (parquetjs lib/reader.js:217-235).  Blob files that cannot be read,
    and a kept row group that no blob file holds (a file removed since
    read_encoded), raise one ValueError naming the table."""
    import pyarrow.dataset as pads

    parts = sorted({p for p, _ in keep})
    seqs = sorted({c for _, c in keep})
    try:
        rows = pads.dataset(f"{local}/blobs", format="parquet").to_table(
            columns=["part_id", "chunk_seq", *sources],
            filter=pc.field("part_id").isin(parts) & pc.field("chunk_seq").isin(seqs),
        )
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"unreadable table blobs {path}/blobs ({type(e).__name__})") from e
    ids = list(zip(rows["part_id"].to_pylist(), rows["chunk_seq"].to_pylist()))
    if missing := sorted(keep - set(ids)):
        raise ValueError(
            f"table blobs {path}/blobs lack {len(missing)} row groups its manifest lists, "
            f"(part_id, chunk_seq) {missing[:8]}"
        )
    return rows.filter(pa.array([g in keep for g in ids], pa.bool_())).sort_by(
        [("part_id", "ascending"), ("chunk_seq", "ascending")]
    )


def _scan_local(
    blob_df: DataFrame, keep: set | None, layout: _Layout, specs: list
) -> pa.Table | None:
    """The driver path: the kept row groups of a read_encoded table,
    read, reassembled and filtered on the driver, as ``layout.schema``
    rows; None (scan in Spark) without a manifest read on the driver
    (so only a local table takes this path) or above _LOCAL_SCAN_BYTES
    kept encoded bytes.  Blob files that cannot be read, or that lack a
    kept row group, raise one ValueError naming the table
    (_read_kept_blobs); a decode error propagates."""
    cached = _cached_meta(blob_df)
    if keep is None or cached is None or cached.chunks is None:
        return None
    meta = cached.chunks
    groups = pa.table({
        "part_id": pa.array([p for p, _ in keep], pa.int32()),
        "chunk_seq": pa.array([c for _, c in keep], pa.int64()),
    })
    chunks = meta.filter(pc.is_in(meta["column"], pa.array(layout.flat_names, pa.string())))
    chunks = chunks.select(["part_id", "chunk_seq", "encoded_bytes"])
    size = chunks.join(groups, ["part_id", "chunk_seq"], join_type="inner")["encoded_bytes"]
    if size.null_count or (pc.sum(size).as_py() or 0) > _LOCAL_SCAN_BYTES:
        return None
    tables = []
    if keep:
        srcs = sorted(set(layout.sources.values()))
        rows = _read_kept_blobs(blob_df._pjs_meta_path, cached.local, keep, srcs)
        for blobs, group_id in _row_groups(rows, layout):
            t = _assemble_row_group(blobs, group_id, layout, specs)
            if t is not None and t.num_rows:
                tables.append(t)
    if not tables:
        return to_arrow_schema(layout.schema).empty_table()
    return pa.concat_tables(tables)


class _Handoff(NamedTuple):
    """The JVM handles a driver-built frame needs, resolved once per
    session: its SQLConf and the bound PythonSQLUtils members (a
    JavaClass attribute lookup is a reflection round trip each time),
    plus the private PySpark helpers createDataFrame uses."""

    jconf: object
    read_stream: object  # PythonSQLUtils.readArrowStreamFromFile
    to_df: object  # PythonSQLUtils.toDataFrame
    localize: object  # pyspark.sql.pandas.types._check_arrow_table_timestamps_localize
    serializer: object  # pyspark.sql.pandas.serializers.ArrowStreamSerializer


def _handoff(spark: SparkSession) -> _Handoff | None:
    """The session's _Handoff, resolved on first use and kept on the
    session; None (and for good) when this PySpark lacks one of them."""
    try:
        return spark._pjs_handoff
    except AttributeError:
        pass
    try:
        from pyspark.sql.pandas.serializers import ArrowStreamSerializer
        from pyspark.sql.pandas.types import _check_arrow_table_timestamps_localize

        utils = spark._jvm.PythonSQLUtils
        if not isinstance(utils, JavaClass):  # py4j resolves an unknown name to a package
            raise AttributeError("PythonSQLUtils")
        handles = _Handoff(
            spark._jsparkSession.sessionState().conf(),
            utils.readArrowStreamFromFile,
            utils.toDataFrame,
            _check_arrow_table_timestamps_localize,
            ArrowStreamSerializer(),
        )
    except (ImportError, AttributeError, Py4JError):
        handles = None
    spark._pjs_handoff = handles
    return handles


def _local_frame(spark: SparkSession, table: pa.Table, schema: T.StructType) -> DataFrame:
    """``table`` as a DataFrame of ``schema`` (a LocalRelation, no job):
    what ``spark.createDataFrame(table, schema=schema)`` builds,
    following PySpark 4.1.2's _create_from_arrow_table, in 4 Py4J round
    trips instead of 21 — the two runtime confs it reads each call, the
    Arrow stream read and toDataFrame.  Falls back to createDataFrame
    when _handoff finds no handles."""
    h = _handoff(spark)
    if h is None:
        return spark.createDataFrame(table, schema=schema)
    if SparkSession._activeSession is not spark:
        # what createDataFrame does first, on every call
        SparkSession._activeSession = spark
        SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(spark._jsparkSession)
    schema_json = schema.json()
    if '"timestamp"' in schema_json:
        # a TimestampType somewhere (or a field named so: one conf read
        # more); layouts emit timestamps as TimestampNTZType
        table = h.localize(table, schema, True, h.jconf.sessionLocalTimeZone())
    large = h.jconf.arrowUseLargeVarTypes()
    arrow_schema = to_arrow_schema(
        schema, error_on_duplicated_field_names_in_struct=True, prefers_large_types=large
    )
    table = table.cast(arrow_schema)
    batches = table.to_batches(max_chunksize=h.jconf.arrowMaxRecordsPerBatch())
    jiter = spark.sparkContext._serialize_to_jvm(
        batches, h.serializer, h.read_stream, lambda: spark._jvm.ArrowIteratorServer()
    )
    df = DataFrame(h.to_df(jiter, schema_json, spark._jsparkSession), spark)
    df._schema = schema
    return df


def _scan(blob_df: DataFrame, meta_rows: list, specs: list, columns: list[str] | None) -> DataFrame:
    """The one scan behind scan_table_where, scan_eq and scan_column:
    the rows of the kept row groups matching ``specs`` exactly, as
    ``columns`` (default: every column) of the table whose
    (column, col_idx, dtype) rows are ``meta_rows``.  The
    predicate columns are decoded for the residual but never leave the
    decode: the layout reads them and emits only ``columns``, so the
    result needs no projection after it.  Kept groups under
    _LOCAL_SCAN_BYTES decode on the driver into a LocalRelation (no
    job; _local_frame hands the rows over in 4 Py4J round trips);
    otherwise Spark decodes them, applying the same residual inside the
    decode UDF."""
    if columns == []:
        # a zero-column Arrow table carries no row count: emit the
        # predicate columns and drop them in the JVM, which keeps it
        return _scan(blob_df, meta_rows, specs, list(dict.fromkeys(s[0] for s in specs))).select()
    layout = _row_group_layout(meta_rows, columns, residual=[s[0] for s in specs])
    keep = _kept_groups(blob_df, specs)
    local = _scan_local(blob_df, keep, layout, specs)
    if local is not None:
        decoded = _local_frame(blob_df.sparkSession, local, layout.schema)
    else:
        decoded = _decode_rows(blob_df.where(_keepset_filter(keep)), layout, specs)
    return _rebuild(decoded, layout)


def scan_column(blob_df: DataFrame, column: str, lo=None, hi=None) -> DataFrame:
    """Stat-pruned range scan: zone maps over the manifest's per-chunk
    min/max (the Statistics struct Parquet defines,
    /root/reference/parquet.thrift:201-214 — declared by the reference,
    never written by its writer).  Chunks whose [stat_min, stat_max]
    cannot intersect [lo, hi] are eliminated on the driver BEFORE any
    decode work or blob bytes move; the kept chunks are decoded and
    filtered exactly.  At 100 TB this is the difference between decoding
    every chunk and touching only the ones a range-predicate query
    needs (clustered/sorted data prunes hardest — same math as Parquet
    row-group skipping).  As for scan_table_where, a small kept set of a
    read_encoded table decodes on the driver with no Spark job.  It is
    exactly ``scan_table_where(ranges={column: (lo, hi)},
    columns=[column])``, so a blob DataFrame not from read_encoded pays
    the same chunk-metadata job up front."""
    return scan_table_where(blob_df, ranges={column: (lo, hi)}, columns=[column])


def scan_eq(blob_df: DataFrame, column: str, value, columns: list[str] | None = None) -> DataFrame:
    """Bloom + zone-map pruned equality scan (point lookup).

    Parquet declares bloom filters / index pages; the reference never
    writes them (/root/reference/parquet.thrift:359-361 is a TODO).
    Here every chunk of a bloomable column carries a 1024-bit bloom in
    the manifest, so ``col = value`` eliminates chunks on the driver
    (zone maps, then the bloom) and only the kept row groups are read
    and decoded.  On a table from read_encoded a lookup whose kept row
    groups are small is answered on the driver like the reference's
    client (readFooter, then readRowGroup): no Spark job.  The residual
    filter exacts the predicate.  On unsorted data this is the pruning
    that zone maps cannot give (a random chunk spans nearly the full key
    range, but its bloom rejects all but ~2^-10 of foreign point probes
    per hash).  ``value=None`` is an IS NULL lookup pruned by the
    n_nulls stat.

    It is exactly ``scan_table_where(eqs={column: value},
    columns=columns)``, ``columns=None`` meaning just the predicate
    column: the predicate column is decoded for the residual but never
    leaves the decode unless ``columns`` names it, so a driver-path
    lookup hands only the output columns to the JVM (_local_frame: 4
    Py4J round trips).  Chunks without a bloom (old tables, unbloomable
    dtypes) stay conservatively unpruned.  A blob DataFrame not from
    read_encoded pays the same chunk-metadata job up front as
    scan_table_where."""
    out = [column] if columns is None else columns
    return scan_table_where(blob_df, eqs={column: value}, columns=out)


def scan_table_where(
    blob_df: DataFrame,
    ranges: dict[str, tuple] | None = None,
    eqs: dict | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Compound-predicate pruned scan — the ``WHERE a BETWEEN x AND y
    AND b = v AND ...`` shape a real user writes, pruned ONCE across all
    predicates instead of per-scan.

    ``ranges`` maps column -> (lo, hi) (either bound may be None);
    ``eqs`` maps column -> value (zone maps + blooms; None = IS NULL).
    A literal the column's type cannot hold raises ValueError before
    any job runs.  The keep-set is the INTERSECTION of each predicate's
    kept row groups, decided on the driver from the chunk metadata
    (_kept_groups); the surviving groups are decoded once and every
    residual predicate is applied exactly, in Arrow (_match_mask).
    Conjunction prunes multiplicatively: at 100 TB a date range keeping
    2% of groups and a key bloom keeping 0.1% leaves ~0.002% of chunks
    to decode.  ``columns`` is the output (default: every column); the
    predicate columns are decoded for the residuals but never leave the
    decode unless ``columns`` names them, and ``columns=[]`` keeps only
    the matching row count.

    Where the kept groups of a read_encoded table hold at most
    _LOCAL_SCAN_BYTES encoded bytes, the driver reads and decodes them
    itself and the result is a local relation (_local_frame): no Spark
    job.  Otherwise (and for a transformed or hand-built blob DataFrame)
    the kept groups reach the blob scan as a literal filter and decode
    in one Spark job.  Columns and dtypes come from the frame's schema
    (_meta_rows_for, no job); a blob DataFrame not from read_encoded
    pays one metadata job up front, however many predicates: the chunk
    metadata (_chunk_meta)."""
    meta_rows = _meta_rows_for(blob_df)
    return _scan(blob_df, meta_rows, _predicate_specs(_dtypes(meta_rows), ranges, eqs), columns)


_STATS_SCHEMA = T.StructType([
    T.StructField("column", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("chunks_total", T.LongType()),
    T.StructField("chunks_kept", T.LongType()),
])


def scan_stats(
    blob_df: DataFrame,
    ranges: dict[str, tuple] | None = None,
    eqs: dict | None = None,
) -> DataFrame:
    """Pruning observability: for each predicate, how many chunks the
    zone maps / blooms / n_nulls keep vs total — the number that tells
    you whether your layout is working (clustered data prunes ranges
    hard; blooms prune point probes even on random arrival) BEFORE you
    pay for a scan.  Pure metadata counts through the same chunk rule
    the scans use, in Arrow on the driver: no Spark job on a table from
    read_encoded.  Returns one row per predicate (column, kind,
    chunks_total, chunks_kept), kind "range" or "eq" (IS NULL included)."""
    specs = _predicate_specs(_dtypes(_meta_rows_for(blob_df)), ranges, eqs)
    meta = _chunk_meta(blob_df, [s[0] for s in specs])
    if meta is None:
        raise ValueError(f"scan_stats: over {_MANIFEST_DRIVER_ROWS} chunks to count")
    total = [meta.filter(pc.equal(meta["column"], s[0])).num_rows for s in specs]
    kept = [_kept_chunks(meta, s).num_rows for s in specs]
    rows = pa.table({
        "column": [s[0] for s in specs],
        "kind": ["range" if s[1] == "range" else "eq" for s in specs],
        "chunks_total": pa.array(total, pa.int64()),
        "chunks_kept": pa.array(kept, pa.int64()),
    })
    return _local_frame(blob_df.sparkSession, rows, _STATS_SCHEMA)


def _compare(arr, op: str, value) -> np.ndarray:
    """One exact comparison of a decoded array (or a typed stat column)
    against a typed literal, in the column's own Arrow type, so int64
    above 2^53 compares exactly.  NULL compares False.  Float NaN is
    valid data and orders LARGEST, as in Spark/DuckDB: NaN >= anything,
    anything <= NaN, NaN == only NaN."""
    fn = {"ge": pc.greater_equal, "le": pc.less_equal, "eq": pc.equal}[op]
    cmp = fn(arr, pa.scalar(value, type=arr.type)).fill_null(False)
    mm = cmp.to_numpy(zero_copy_only=False).astype(bool)
    if pa.types.is_floating(arr.type):
        # IEEE comparisons made every NaN compare false — patch them to
        # engine semantics
        nans = pc.is_nan(arr).fill_null(False).to_numpy(zero_copy_only=False)
        vnan = value != value
        if op == "ge":
            mm[nans] = True
        elif op == "le":
            if vnan:
                mm = arr.is_valid().to_numpy(zero_copy_only=False).astype(bool)
            else:
                mm[nans] = False
        else:
            mm[nans] = vnan
    return mm


def _match_mask(arrs: dict[str, pa.Array], specs: list) -> np.ndarray:
    """The one row-level predicate: the exact ``specs`` conjunction over
    the decoded columns ``arrs``, for scans (both paths) and DML.  NULL
    never matches a comparison (only isnull) — validity comes from the
    arrow bitmap, NOT pandas notna(), which would conflate float NaN
    with NULL.  Literals are typed values from _predicate_specs, so the
    comparison scalar always converts to the column type."""
    match = np.ones(len(arrs[specs[0][0]]), dtype=bool)
    for c, kind, value, _ in specs:
        arr = arrs[c]
        if kind == "isnull":
            match &= ~arr.is_valid().to_numpy(zero_copy_only=False).astype(bool)
            continue
        ops = (("ge", value[0]), ("le", value[1])) if kind == "range" else (("eq", value),)
        for op, v in ops:
            if v is not None:
                match &= _compare(arr, op, v)
    return match


def _row_chunks(row: pa.Table) -> tuple[list[dict], _Chunks]:
    """The chunk fields (dicts, in col_idx order) and the on-demand
    decoder of the one blob row ``row``."""
    chunks = row.column("chunks")[0].as_py()
    blobs = {
        ch["column"]: arrow_chunk.binary_views(row.column(_data_col(ch["col_idx"])))[0]
        for ch in chunks
    }
    return chunks, _Chunks(blobs)


def _reencoded(row: pa.Table, chunks: list[dict], arrays: dict) -> pa.Table:
    """The one row builder of every rewrite: the blob row ``row``, whose
    chunk fields are ``chunks`` (_row_chunks), with the chunk of each
    column in ``arrays`` replaced by the encode of its array at the
    chunk's own dtype, through the auto selector.  part_id, chunk_seq,
    column, col_idx and dtype pass through, and the row keeps its own
    Arrow schema."""
    chunks = [dict(ch) for ch in chunks]
    for ch in chunks:
        if ch["column"] in arrays:
            fields, blob = _encode_chunk(arrays[ch["column"]], ch["dtype"], fsst_state={})
            ch.update(fields)
            i = row.schema.get_field_index(_data_col(ch["col_idx"]))
            row = row.set_column(i, row.schema.field(i), pa.array([blob], pa.binary()))
    i = row.schema.get_field_index("chunks")
    return row.set_column(i, row.schema.field(i), pa.array([chunks], row.schema.field(i).type))


def _rewrite_rows(blob_df: DataFrame, keep: set | None, rewrite, **kw) -> DataFrame:
    """The one rewrite stage of delete and update: one narrow stage over
    ``blob_df`` in which each blob row (a whole row group) of the
    ``keep`` row groups (every row group when None) goes through
    ``rewrite(row, **kw)``, a module-level transform of a one-row
    ``pa.Table`` into 0 or 1 rows (so it also runs on a captured row
    with no Spark), and every other row passes through untouched, all in
    ``blob_df``'s schema.  It is one stage over ``blob_df`` rather than a
    union of a filtered pass-through and a rewritten side because an
    unstored blob frame numbers its row groups by the task that encodes
    them, which a union would renumber."""
    if keep is not None and len(keep) > _KEEPSET_COLLECT_ROWS:
        keep = None

    @drops_zip_finders
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = zip(rb.column("part_id").to_pylist(), rb.column("chunk_seq").to_pylist())
            hits = [i for i, g in enumerate(ids) if keep is None or g in keep]
            if not hits:
                yield rb
                continue
            rows = pa.Table.from_batches([rb])
            parts, at = [], 0
            for i in hits:
                parts += [rows.slice(at, i - at), rewrite(rows.slice(i, 1), **kw)]
                at = i + 1
            parts.append(rows.slice(at))
            yield from pa.concat_tables(parts).to_batches()

    return blob_df.mapInArrow(fn, schema=blob_df.schema)


def delete_where(
    blob_df: DataFrame, ranges: dict[str, tuple] | None = None, eqs: dict | None = None
) -> DataFrame:
    """DELETE rows matching the predicate conjunction — merge-on-write
    DML over immutable chunks.

    The same metadata walk that prunes scans decides what to rewrite:
    row groups whose zone maps / blooms / n_nulls prove they contain NO
    matching row pass through with their blob bytes untouched; only
    possibly-affected groups are decoded, masked exactly, and
    re-encoded (all columns of a group together, in its one blob row,
    so (part_id, chunk_seq) row alignment survives for decode_table).
    A group whose rows all match disappears entirely.  One narrow stage
    (_rewrite_rows), no shuffle.  At 100 TB a selective predicate
    rewrites the same ~fraction of chunks a scan would read, not the
    table.  Re-encoded chunks go through the auto selector, as a
    first-pass chunk does.  Predicates and literals validate as in
    scan_table_where (ValueError before any job), from one
    (column, col_idx, dtype) resolution however many predicates."""
    specs = _predicate_specs(_dtypes(_meta_rows_for(blob_df)), ranges, eqs)
    return _rewrite_rows(blob_df, _kept_groups(blob_df, specs), _delete_rewrite_row, specs=specs)


def _delete_rewrite_row(row: pa.Table, *, specs) -> pa.Table:
    """One blob row of delete_where.  Module-level so the decode-count
    contract is directly testable (see tests/test_delete.py
    TestTwoPhaseDecode): a zone-map/bloom false positive costs only the
    predicate columns' decodes."""
    chunks, decoded = _row_chunks(row)
    match = _match_mask(decoded, specs)
    if not match.any():
        return row  # zone map over-approximated: nothing to delete
    if match.all():
        return row.slice(0, 0)  # whole group deleted, all columns
    keep = pa.array(~match)
    arrays = {ch["column"]: decoded[ch["column"]].filter(keep) for ch in chunks}
    return _reencoded(row, chunks, arrays)


def update_where(
    blob_df: DataFrame,
    assignments: dict,
    ranges: dict[str, tuple] | None = None,
    eqs: dict | None = None,
) -> DataFrame:
    """Merge-on-write UPDATE: ``SET col = literal`` (or NULL) on rows
    matching the predicate conjunction — the redaction/scrub shape a
    governed corpus needs (strip PII emails, null a leaked field).

    Cheaper than DELETE: row counts never change, so only the SET
    columns of possibly-affected row groups re-encode — every other
    column of every group, and every group the metadata walk proves
    unaffected, passes through with its blob bytes untouched.  One
    narrow stage, as for delete_where.  Predicates, literals and SET
    values validate as in scan_table_where (ValueError before any job)."""
    if not assignments:
        raise ValueError("update_where needs at least one assignment")
    dtype_of = _dtypes(_meta_rows_for(blob_df))
    missing = sorted((set(assignments) | set(ranges or {}) | set(eqs or {})) - set(dtype_of))
    if missing:
        raise ValueError(f"update_where: column(s) {missing} not in table")
    # SET values (ISO strings from the CLI included) convert on the
    # driver, so a bad literal fails here, not in an executor mid-write
    assignments = {
        c: None if v is None else _typed_value(c, v, dtype_of[c])
        for c, v in assignments.items()
    }
    specs = _predicate_specs(dtype_of, ranges, eqs)
    return _rewrite_rows(
        blob_df, _kept_groups(blob_df, specs), _update_rewrite_row, specs=specs,
        assignments=assignments,
    )


def _update_rewrite_row(row: pa.Table, *, specs, assignments) -> pa.Table:
    """One blob row of update_where: its SET chunks re-encode where a
    row matches.  A false positive decodes only the predicate columns
    and returns the row untouched."""
    chunks, decoded = _row_chunks(row)
    match = _match_mask(decoded, specs)
    if not match.any():
        return row  # over-approximated keep-set: nothing to change
    mask = pa.array(match)
    arrays = {
        c: pc.if_else(mask, pa.scalar(v, type=decoded[c].type), decoded[c])
        for c, v in assignments.items()
    }
    return _reencoded(row, chunks, arrays)


def compact_chunks(
    blob_df: DataFrame, min_rows: int = 1024, target_rows: int = DEFAULT_CHUNK_ROWS
) -> DataFrame:
    """Selective runt-row-group compaction — the encoded-table analogue
    of a small-files OPTIMIZE pass.

    Every encode task leaves a tail row group of < chunk_rows rows; at
    100 TB that is millions of runts whose fixed per-chunk cost
    (manifest row, header, selector sample, zone-map probe) is paid on
    every scan.  This pass merges runts with their neighbors WITHIN a
    storage partition and re-encodes only the merged row groups:

      * the driver picks the merge buckets from the manifest
        (_chunk_meta, _runt_buckets); every row group outside them
        passes through with its blob bytes untouched — zero decode cost;
      * bucket boundaries are a pure function of the partition's row
        group geometry (greedy accumulate to target_rows, trailing runt
        merges backwards), and a bucket re-encodes every column of its
        row groups together, so (part_id, chunk_seq) row alignment
        survives for decode_table;
      * merged chunks re-enter the normal encode path (auto selector,
        fresh stats/sha/bloom), so verify_blobs and the scan pruning
        surfaces see no difference from a first-pass chunk.

    Only the bucketed row groups are regrouped, by part_id, into one
    Arrow stage (_compact_rewrite_group).  ``min_rows`` over
    ``target_rows``, or either under 1, raises ValueError before any
    job runs."""
    if not 1 <= min_rows <= target_rows:
        raise ValueError(
            f"compact_chunks: need 1 <= min_rows <= target_rows, got min_rows={min_rows}, "
            f"target_rows={target_rows}"
        )
    meta_rows = _meta_rows_for(blob_df)
    if not meta_rows:
        return blob_df
    # every column of a row group holds its n rows: one column suffices
    meta = _chunk_meta(blob_df, [meta_rows[0]["column"]])
    if meta is None:
        raise ValueError(f"compact_chunks: over {_MANIFEST_DRIVER_ROWS} row groups to plan")
    buckets = _runt_buckets(meta, min_rows, target_rows)
    ids = Counter(zip(meta["part_id"].to_pylist(), meta["chunk_seq"].to_pylist()))
    if repeated := sorted(g for g, k in ids.items() if k > 1 and g[0] in buckets):
        raise ValueError(
            f"compact_chunks: row groups (part_id, chunk_seq) {repeated} occur more than once "
            "(a raw unionByName, or an append written before appends took fresh identities); "
            "combine tables with union_encoded, which keeps them disjoint"
        )
    todo = _keepset_filter({(p, s) for p, bs in buckets.items() for b in bs for s in b})

    # kw is bound in a plain annotated def: applyInArrow infers its eval
    # type from the signature, and a functools.partial fails that (pyspark 4.1)
    def fn(group: pa.Table) -> pa.Table:
        drop_zip_finders()
        out = _compact_rewrite_group(group, buckets=buckets)
        drop_zip_finders()
        return out

    compacted = blob_df.where(todo).groupBy("part_id").applyInArrow(fn, schema=blob_df.schema)
    # the pass-through side first: an unstored blob frame numbers its row
    # groups by the encoding task, and a union renumbers the tasks of
    # every child but the first (the grouped side encodes in its own stage)
    return blob_df.where(~todo).unionByName(compacted)


def _runt_buckets(meta: pa.Table, min_rows: int, target_rows: int) -> dict[int, list[list[int]]]:
    """The merge buckets of compact_chunks, from one column's chunk rows
    (one per row group): {part_id: [[chunk_seq, ...], ...]}, each bucket
    2+ row groups.  Only a partition with 2+ row groups and one under
    ``min_rows`` rows is bucketed: in chunk_seq order, row groups
    accumulate until ``target_rows``, and a trailing bucket under
    ``min_rows`` merges into the one before it."""
    geom: dict[int, list[tuple[int, int]]] = {}
    for p, s, n in zip(*(meta[c].to_pylist() for c in ("part_id", "chunk_seq", "n"))):
        geom.setdefault(p, []).append((s, n))
    out = {}
    for p, groups in geom.items():
        groups.sort()
        if len(groups) < 2 or min(n for _, n in groups) >= min_rows:
            continue
        buckets: list[list[int]] = []
        cur: list[int] = []
        acc = 0
        for s, n in groups:
            cur.append(s)
            acc += n
            if acc >= target_rows:
                buckets.append(cur)
                cur, acc = [], 0
        if cur:
            if acc < min_rows and buckets:
                buckets[-1].extend(cur)
            else:
                buckets.append(cur)
        if merged := [b for b in buckets if len(b) > 1]:
            out[p] = merged
    return out


def _compact_rewrite_group(group: pa.Table, *, buckets) -> pa.Table:
    """One part_id's blob rows of compact_chunks: each of its
    ``buckets`` re-encodes as one row group under its first row group's
    identity; any other row passes through with its blob bytes
    untouched."""
    if not group.num_rows:
        return group
    at = {s: i for i, s in enumerate(group.column("chunk_seq").to_pylist())}
    merged = []
    for bucket in buckets.get(group.column("part_id")[0].as_py(), []):
        idx = [at.pop(s) for s in bucket]
        rows = [_row_chunks(group.slice(i, 1)) for i in idx]
        chunks = rows[0][0]
        arrays = {
            ch["column"]: pa.concat_arrays([decoded[ch["column"]] for _, decoded in rows])
            for ch in chunks
        }
        merged.append(_reencoded(group.slice(idx[0], 1), chunks, arrays))
    # typed indices: take() of an empty untyped (null) array raises
    singles = group.take(pa.array(sorted(at.values()), pa.int64()))
    return pa.concat_tables([singles, *merged])


VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("chunk_seq", T.LongType()),
        T.StructField("column", T.StringType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def verify_blobs(blob_df: DataFrame) -> DataFrame:
    """Decode every chunk and re-hash — distributed bit-identity check
    (BASELINE.json:15), one narrow stage over whole row groups.  Returns
    one row per chunk with ok flag.  It reads each chunk's sha256 and
    blob bytes; chunk names come from the frame's schema
    (_meta_rows_for).  A blob file removed or resized since
    read_encoded raises as in decode_table (_check_blob_listing)."""
    leaves = _meta_rows_for(blob_df)
    _check_blob_listing(blob_df)
    srcs = [_data_col(r["col_idx"]) for r in leaves]
    names = [r["column"] for r in leaves]

    @drops_zip_finders
    def verify_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            # row-major: chunk j of row i at i * len(srcs) + j, in both lists
            blobs = arrow_chunk.binary_views(rb.column("__blobs").flatten())
            shas = rb.column("__sha").flatten().to_pylist()
            oks = [arrow_chunk.verify_arrow(b, s) for b, s in zip(blobs, shas)]
            parents = pa.array(np.repeat(np.arange(rb.num_rows), len(srcs)))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("part_id").take(parents),
                    rb.column("chunk_seq").take(parents),
                    pa.array(names * rb.num_rows, pa.string()),
                    pa.array(oks, type=pa.bool_()),
                ],
                names=VERIFY_SCHEMA.names,
            )

    return _packed(blob_df, srcs, "chunks.sha256 AS __sha").mapInArrow(verify_fn, schema=VERIFY_SCHEMA)


def roundtrip_column(
    df: DataFrame,
    column: str,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    codec: str = "auto",
    compression: str = "auto",
) -> DataFrame:
    """decode(encode(col)) — the identity query every §2 operator exposes
    to the driver contract (SURVEY.md §2.8)."""
    blobs = encode_columns(
        df.select(column), [column], chunk_rows=chunk_rows, codec=codec,
        compression=compression,
    )
    src_type = df.schema[column].dataType
    # decoded as the source's own Spark type, not the chunk dtype's
    layout = _row_group_layout(_meta_rows_for(blobs), [column])
    pa_types = dict(layout.pa_types)
    if isinstance(src_type, T.TimestampType):
        # tz-aware Spark timestamps travel as UTC-instant arrow timestamps
        pa_types[column] = pa.timestamp("us", tz="UTC")
    schema = T.StructType([T.StructField(column, src_type)])
    return _decode_rows(blobs, layout._replace(pa_types=pa_types, schema=schema))


# --------------------------------------------------------------------------
# skew handling + lineage/resume (north rule)
# --------------------------------------------------------------------------


def clustered_repartition(
    df: DataFrame, key: str, num_partitions: int | None = None
) -> DataFrame:
    """Cluster the table on ``key`` before encoding: range-partition by
    key, then sort within partitions, so every chunk covers a NARROW
    key range and zone maps / blooms prune hard on real (unsorted-
    arrival) data — the same reason Parquet tables get sorted-write
    layouts.  Without this, a random-arrival chunk spans nearly the
    full key range and min/max stats prune nothing (only blooms help).

    One extra shuffle at write time buys every future range scan its
    pruning; repartitionByRange samples the key distribution, so skewed
    keys still split evenly across partitions.  Measured on shuffled
    lineitem l_orderkey at sf0.001 (tests/test_pipeline_spark.py
    ``test_clustered_layout_prunes_harder``): a narrow range scan keeps
    4/24 chunks on the clustered layout vs 24/24 (zero pruning) on
    random arrival — and the ratio widens with chunk count, since kept
    chunks ~ range coverage + 2 boundary chunks per partition."""
    if num_partitions is None:
        return df.repartitionByRange(F.col(key)).sortWithinPartitions(key)
    return df.repartitionByRange(num_partitions, F.col(key)).sortWithinPartitions(
        key
    )


def salted_repartition(
    df: DataFrame, key: str, num_partitions: int, salt_buckets: int = 16
) -> DataFrame:
    """Deterministic salt spreads a skewed key (giant repo) over
    ``salt_buckets`` partitions: shuffle on (key, salt) where salt is a
    stable hash of the full row identity — no Date.now()/rand, so a
    resume reproduces the same layout (SURVEY.md §7.3)."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.col(key), salt)


def _local_path(spark: SparkSession, path: str) -> str | None:
    """The local filesystem path of ``path`` when Spark resolves it to
    the ``file:`` scheme, else None — the one rule for which tables the
    driver writes and reads ``manifest/`` and ``meta/`` itself.  A path
    without a scheme resolves against the session's default filesystem
    (``fs.defaultFS``), as every Spark read and write of it does, so a
    bare ``/data/t`` on an HDFS cluster is not local."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    scheme = jpath.toUri().getScheme()
    if scheme is None:
        scheme = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme()
    if scheme != "file":
        return None
    return jpath.getFileSystem(conf).makeQualified(jpath).toUri().getPath()


def _local_files(root: str) -> set[str]:
    """The data files under the local directory ``root`` (none when it
    does not exist), skipping the names Spark and pyarrow skip: those
    starting with '.' or '_' (``_SUCCESS``, ``.crc`` side files,
    ``_temporary``)."""
    files = set()
    for top, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if d[0] not in "._"]
        files.update(os.path.join(top, n) for n in names if n[0] not in "._")
    return files


def _blob_files(reader, blobs_dir: str) -> set[str]:
    """The data files under ``blobs_dir``: a file listing, no data read."""
    try:
        return set(reader.parquet(blobs_dir).inputFiles())
    except AnalysisException:  # no blobs/ yet: the first append
        return set()


def _commit_local(directory: str, mode: str, batches: Iterable, schema: pa.Schema) -> None:
    """Write ``batches`` as one parquet file into the local ``directory``,
    streamed: the driver holds one batch at a time.  Overwrite first
    removes everything there, Spark's hidden ``.crc`` side files
    included (Hadoop's local filesystem checks a file against a stale
    ``.crc`` of the same name).  The file is written under a hidden
    name and renamed into place, so no reader parses a partial file."""
    import pyarrow.parquet as pq

    if mode == "overwrite" and os.path.isdir(directory):
        shutil.rmtree(directory)
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    with pq.ParquetWriter(tmp, schema) as out:
        for batch in batches:
            out.write_batch(batch)
    os.replace(tmp, os.path.join(directory, name))


def _local_manifest(files: list[str]) -> Iterator[pa.RecordBatch]:
    """The manifest rows of the local blob ``files``, streamed batch by
    batch: each batch's ``chunks`` flattened (_flat_chunks).  The blob
    columns are not in the dataset schema, so Parquet reads only the
    metadata column chunks."""
    import pyarrow.dataset as pads

    schema = to_arrow_schema(blob_schema([]))
    for batch in pads.dataset(files, format="parquet", schema=schema).to_batches():
        yield _flat_chunks(batch)


def _disjoint_ids(blob_df: DataFrame, committed) -> DataFrame:
    """``blob_df`` with row-group identities disjoint from the
    ``committed`` ones: the one identity rule, as a Parquet writer fixes
    a row group's ordinal when it closes the file (parquetjs
    lib/writer.js:520-569).  ``committed`` holds (part_id, chunk_seq)
    rows: an Arrow table on the driver (no job) or a Spark frame (one
    aggregate job).  A row group whose part_id has nothing committed
    keeps its identity, so a resume, whose rows are pending_chunks rows
    of partitions no task committed, keeps its own; every other one
    moves to the next chunk_seq generation, ``chunk_seq + (g << 32)``
    with ``g`` one past the committed maximum's ``max >> 32``.  Kept
    and moved rows never share a part_id and every moved one is above
    the committed maximum, so no identity repeats, and write order
    within a part_id survives."""
    if isinstance(committed, DataFrame):
        committed = committed.groupBy("part_id").agg(F.max("chunk_seq").alias("chunk_seq")).toArrow()
    if not committed.num_rows:
        return blob_df
    moved = F.col("part_id").isin(pc.unique(committed["part_id"]).to_pylist())
    gen = ((pc.max(committed["chunk_seq"]).as_py() >> 32) + 1) << 32
    seq = F.col("chunk_seq")
    return blob_df.withColumn("chunk_seq", F.when(moved, seq + gen).otherwise(seq))


_WRITE_MODES = ("overwrite", "append")


def write_encoded(
    blob_df: DataFrame,
    path: str,
    mode: str = "overwrite",
    metadata: dict[str, str] | None = None,
) -> None:
    """Persist blobs + a pure-metadata manifest (lineage) table.  This
    is the one writer of ``blobs/``, ``manifest/`` and ``meta/``.
    ``mode`` is "overwrite" or "append"; any other raises ValueError
    before a job runs.  An overwrite stores the frame's (part_id,
    chunk_seq) identities as they are; an append first makes them
    disjoint from those its ``manifest/`` lists at write time
    (_disjoint_ids), read on the driver for a ``file:`` table (no job),
    else with one aggregate job.

    ``blob_df`` is evaluated once, by the one Spark job that writes the
    blobs, one row per row group.  The manifest, one row per column
    chunk, is then read back from the files that write produced, with
    the blob columns pruned, so Parquet reads only their ``chunks``
    column, and flattened.  The manifest is therefore a projection of
    the bytes on disk, the footer analogue (parquetjs
    lib/writer.js:520-569) but queryable: per-chunk codec, sizes,
    sha256, timing.  In append mode only the files this write added are
    read back (a listing taken before and after the write), so a
    streaming micro-batch's manifest costs O(batch), not O(table).

    ``metadata`` is user key/value footer metadata (``setMetadata``,
    /root/reference/lib/writer.js:147-149), stored as its own tiny
    table, ``meta/``, with the engine's reserved keys: the sha format
    and the blob layout.

    Where Spark resolves ``path`` to the ``file:`` scheme (_local_path),
    the driver commits ``manifest/`` and ``meta/`` itself with pyarrow,
    as parquetjs's ``close`` appends the footer in the same pass as the
    row groups (lib/writer.js:116-142): the write is one Spark job.  On
    any other scheme (``hdfs:``, ``s3a:``, ...) Spark reads the added
    files back and writes both, two more jobs."""
    if mode not in _WRITE_MODES:
        raise ValueError(f"write_encoded: mode must be one of {_WRITE_MODES}, not {mode!r}")
    spark = blob_df.sparkSession
    local = _local_path(spark, path)
    blobs_dir = f"{path}/blobs"
    # the schema skips footer inference when the files are read back
    reader = spark.read.schema(blob_df.schema)
    # an append must not lose the first run's user KV: carry existing
    # rows forward, new values winning per key (read BEFORE the blob
    # write so a same-session overwrite can't read its own output)
    kv: dict[str, str] = {}
    before: set[str] = set()
    if mode == "append":
        kv.update(read_metadata(spark, path))

        def driver_ids(local_dir):
            import pyarrow.dataset as pads

            ds = pads.dataset(local_dir, format="parquet", schema=_MANIFEST_PA_SCHEMA)
            return _disjoint_ids(blob_df, ds.to_table(columns=["part_id", "chunk_seq"]))

        def spark_ids(uri):
            return _disjoint_ids(blob_df, spark.read.schema(MANIFEST_SCHEMA).parquet(uri))

        blob_df = _read_table_dir(spark, path, "manifest", driver_ids, spark_ids, blob_df)
        if local is None:
            before = _blob_files(reader, blobs_dir)
        else:
            before = _local_files(f"{local}/blobs")
    blob_df.write.mode(mode).parquet(blobs_dir)
    if local is not None:
        added = sorted(_local_files(f"{local}/blobs") - before)
        _commit_local(f"{local}/manifest", mode, _local_manifest(added), _MANIFEST_PA_SCHEMA)
    else:
        if mode != "append":
            written = reader.parquet(blobs_dir)
        elif added := sorted(_blob_files(reader, blobs_dir) - before):
            written = reader.parquet(*added)
        else:
            # an empty append may add no file; limit(0) plans to an empty
            # relation, so the manifest write never re-runs the encode
            written = blob_df.limit(0)
        chunk_view(written).write.mode(mode).parquet(f"{path}/manifest")
    # the manifest on disk just changed — a cached (col_idx, dtype) map
    # for this path is now stale and would silently drive decode with
    # the OLD schema after an overwrite-recast; drop it
    _MANIFEST_CACHE.pop(path, None)
    # reserved keys ride the same KV table as user metadata; the sha
    # format marker lets verify distinguish "canonical sha definition
    # changed since this table was written" from real corruption
    # (the string sha feed changed payload-order in round 3)
    kv[_SHA_FORMAT_KEY] = str(SHA_FORMAT_VERSION)
    for k, v in (metadata or {}).items():
        kv[str(k)] = str(v)
    kv[_LAYOUT_KEY] = BLOB_LAYOUT
    # KV table itself is always overwrite: a resume (mode="append")
    # must not stack duplicate rows — semantics are last-write-wins
    kv_table = pa.table({"key": list(kv), "value": list(kv.values())}, schema=_KV_PA_SCHEMA)
    if local is not None:
        _commit_local(f"{local}/meta", "overwrite", kv_table.to_batches(), _KV_PA_SCHEMA)
    else:
        # built from Arrow: a list of tuples would launch a Python-worker
        # job just to ship these few rows to the JVM
        mdf = _local_frame(spark, kv_table, _KV_SCHEMA)
        mdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _read_table_dir(spark: SparkSession, path: str, name: str, driver_read, spark_read, missing):
    """The one rule for reading the table's ``name`` directory
    (``manifest/`` or ``meta/``): ``driver_read(local dir)`` on the
    driver for a local table (_local_path), else ``spark_read(uri)``.
    Only a missing directory reads as ``missing``; an unreadable one
    raises ValueError, on either path, with the reader's error as its
    cause."""
    local = _local_path(spark, path)
    try:
        if local is None:
            return spark_read(f"{path}/{name}")
        if not os.path.isdir(f"{local}/{name}"):
            return missing
        return driver_read(f"{local}/{name}")
    except (OSError, pa.ArrowException, PySparkException, Py4JJavaError) as e:
        if isinstance(e, AnalysisException) and e.getCondition() == "PATH_NOT_FOUND":
            return missing
        raise ValueError(f"unreadable table {name} {path}/{name} ({type(e).__name__})") from e


def _read_kv(spark: SparkSession, path: str) -> dict[str, str]:
    """The one reader of ``meta/``: every key/value pair, reserved keys
    included, read on the driver for a local table; {} without
    ``meta/`` (_read_table_dir)."""

    def spark_read(uri):
        rows = spark.read.schema("key string, value string").parquet(uri).collect()
        return {r["key"]: r["value"] for r in rows}

    def driver_read(local):
        import pyarrow.dataset as pads

        kv = pads.dataset(local, format="parquet", schema=_KV_PA_SCHEMA).to_table()
        return dict(zip(kv["key"].to_pylist(), kv["value"].to_pylist()))

    return _read_table_dir(spark, path, "meta", driver_read, spark_read, {})


def read_metadata(spark: SparkSession, path: str) -> dict[str, str]:
    """User KV metadata written alongside the manifest; {} if the table
    has no ``meta/``.  Reserved ``parquetjs_spark.*`` keys are
    engine-internal and stripped (see read_sha_format)."""
    return {
        k: v for k, v in _read_kv(spark, path).items() if not k.startswith("parquetjs_spark.")
    }


def read_sha_format(spark: SparkSession, path: str) -> int:
    """The sha-format version this table's manifests were hashed with.
    Tables written before the marker existed (round ≤3 early) report 1;
    current is SHA_FORMAT_VERSION.  verify uses the mismatch to report
    'old hash format' instead of false corruption."""
    return int(_read_kv(spark, path).get(_SHA_FORMAT_KEY, 1))


def read_encoded(spark: SparkSession, path: str) -> DataFrame:
    """The blob table at ``path``, planned from its manifest: no
    footer-inference job, an empty ``blobs/`` reads as no rows and a
    missing one raises PATH_NOT_FOUND.  A table in the per-chunk layout
    raises ValueError (convert_encoded rewrites it).  On a local table
    whose manifest the driver holds, the blob files' footers are checked
    against it first (_check_blob_files), with no Spark job."""
    kv = _read_kv(spark, path)
    if kv and kv.get(_LAYOUT_KEY) != BLOB_LAYOUT:
        raise ValueError(
            f"table {path} has the per-chunk blob layout: rewrite it with "
            f"convert_encoded(spark, {path!r}, <new path>)"
        )
    # remember the manifest sibling: scans prune from it with zero jobs
    # on the blob table (_manifest_meta), as it is on disk now, and the
    # schema carries its column map (blob_schema)
    _MANIFEST_CACHE.pop(path, None)
    meta = _manifest_meta(spark, path)
    if meta is None:
        try:
            df = spark.read.parquet(f"{path}/blobs")
        except AnalysisException as e:
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            df = spark.read.schema(blob_schema([])).parquet(f"{path}/blobs")
    else:
        listing = None if meta.chunks is None else (meta.local, _check_blob_files(path, meta))
        leaves = ({"column": c, "col_idx": ci, "dtype": dt} for c, (ci, dt) in meta.columns.items())
        df = spark.read.schema(blob_schema(leaves)).parquet(f"{path}/blobs")
        # the files Spark planned this frame with, for _check_blob_listing
        df._pjs_blob_files = listing
    df._pjs_meta_path = path
    return df


def _blob_sizes(local: str) -> dict[str, int]:
    """{name: size} of the blob files of the local table directory
    ``local`` (none without ``blobs/``), skipping the names Spark skips
    (_local_files)."""
    try:
        with os.scandir(f"{local}/blobs") as entries:
            return {
                e.name: e.stat().st_size for e in entries if e.name[0] not in "._" and e.is_file()
            }
    except FileNotFoundError:
        return {}


def _check_blob_files(path: str, meta: _Manifest) -> dict[str, int]:
    """The blob files of the local table at ``path`` against its
    manifest, on the driver: their Parquet footers' row counts (one row
    per row group) must add up to the row groups the manifest lists.  A
    footer that cannot be read raises one ValueError naming the file,
    chained to the reader's error; a total that disagrees (a deleted
    file, or the rows of a killed write that no manifest lists) raises
    one naming the table.  Returns the files' {name: size}, which
    decode_table and verify_blobs check again (_check_blob_listing)."""
    import pyarrow.parquet as pq

    files = _blob_sizes(meta.local)
    total = 0
    for name in sorted(files):
        f = f"{meta.local}/blobs/{name}"
        try:
            total += pq.read_metadata(f).num_rows
        except (OSError, pa.ArrowException) as e:
            raise ValueError(f"unreadable table blob file {f} ({type(e).__name__})") from e
    # every row group holds every column: count rows, not identities, so
    # a table written before appends took fresh identities counts right
    groups = meta.chunks.num_rows // max(len(meta.columns), 1)
    if total != groups:
        raise ValueError(
            f"table blobs {path}/blobs hold {total} row groups, its manifest lists {groups}"
        )
    return files


def _check_blob_listing(blob_df: DataFrame) -> None:
    """A read_encoded frame's blob files, listed again at plan time
    against the ones read_encoded checked: a file gone or resized since
    raises one ValueError naming the table and the file, where Spark
    would fail the action with FAILED_READ_FILE.  Only frames of a local
    table whose manifest the driver holds are checked; a file removed
    after this check still fails inside Spark."""
    local, files = getattr(blob_df, "_pjs_blob_files", None) or (None, None)
    if files is None:
        return
    now = _blob_sizes(local)
    if changed := sorted(n for n, size in files.items() if now.get(n) != size):
        raise ValueError(
            f"table blobs {blob_df._pjs_meta_path}/blobs changed since read_encoded: "
            f"{len(changed)} files missing or resized, {changed[:4]}"
        )


# the per-chunk blob table written before the row-group layout, one row
# per (part_id, chunk_seq, column); convert_encoded alone reads it
_PER_CHUNK_SCHEMA = T.StructType(MANIFEST_SCHEMA.fields + [T.StructField("data", T.BinaryType())])


def convert_encoded(spark: SparkSession, path: str, out_path: str) -> None:
    """Rewrite the per-chunk table at ``path`` (one blob row per column
    chunk, as written before the row-group layout) into the row-group
    layout at ``out_path``: blob bytes and manifest fields unchanged,
    its ``meta/`` key-values carried over (a table without a sha-format
    key keeps format 1).  One shuffle regroups the chunks of each row
    group.  A chunk without col_idx (a table older than col_idx) takes
    its column's rank in name order."""
    if (_local_path(spark, path) or path) == (_local_path(spark, out_path) or out_path):
        raise ValueError("convert_encoded: out_path must differ from path")
    kv = _read_kv(spark, path)
    old = spark.read.schema(_PER_CHUNK_SCHEMA).parquet(f"{path}/blobs")
    leaves = [r.asDict() for r in old.select("column", "col_idx", "dtype").distinct().collect()]
    names = sorted(r["column"] for r in leaves)
    for r in leaves:
        if r["col_idx"] is None:
            r["col_idx"] = names.index(r["column"])
    idx_of = {r["column"]: r["col_idx"] for r in leaves}
    rank = F.create_map(*[F.lit(x) for c, i in idx_of.items() for x in (c, i)])
    old = old.withColumn("col_idx", rank[F.col("column")]) if idx_of else old
    chunk = F.struct(*[F.col(f.name) for f in _CHUNK_FIELDS])
    in_order = F.array_sort(F.collect_list(F.struct(F.col("col_idx").alias("k"), chunk.alias("v"))))
    rows = old.groupBy("part_id", "chunk_seq").agg(
        F.transform(in_order, lambda e: e["v"]).alias("chunks"),
        *[
            F.first(F.when(F.col("col_idx") == i, F.col("data")), ignorenulls=True).alias(_data_col(i))
            for i in sorted(set(idx_of.values()))
        ],
    )
    metadata = {**kv, _SHA_FORMAT_KEY: kv.get(_SHA_FORMAT_KEY, "1")}
    write_encoded(_with_map(rows, leaves), out_path, metadata=metadata)


def union_encoded(a: DataFrame, b: DataFrame) -> DataFrame:
    """Concatenate two encoded tables (incremental-ingest composition):
    b's row groups take identities disjoint from a's (_disjoint_ids, the
    rule an append follows), so decode_table sees one consistent table.
    Column sets and dtypes must match exactly — a blob table with
    half-present columns would decode ragged rows.  Metadata-only:
    no blob bytes move or re-encode.  The column maps compare from the
    two schemas (_meta_rows_for), so planning runs no job over ``b``;
    a's identities come from its manifest when ``a`` is from
    read_encoded, else from one job over ``a``."""
    # (column, col_idx, dtype): col_idx alignment is part of the check
    # (ADVICE r6 low) — two tables encoded with different column orders
    # would otherwise union into conflicting col_idx per column, making
    # the decode-tree ordering ambiguous for nested schemas
    key = ["column", "col_idx", "dtype"]
    meta_a, meta_b = (
        {tuple(r[k] for k in key) for r in _meta_rows_for(t)} for t in (a, b)
    )
    if meta_a != meta_b:
        raise ValueError(
            f"union_encoded: column/col_idx/dtype sets differ: "
            f"{sorted(meta_a ^ meta_b)}"
        )
    cached = _cached_meta(a)
    committed = a if cached is None or cached.chunks is None else cached.chunks
    return a.unionByName(_disjoint_ids(b, committed))


def _top_name(chunk_name: str) -> str:
    """User-facing column behind a manifest chunk name: nested leaves
    are dotted ('meta.origin'), validity chunks suffixed ('s@def')."""
    return chunk_name.split(".", 1)[0].split("@", 1)[0]


def _check_plain_name(op: str, name: str) -> None:
    # '.' and '@' are decode_table's tree grammar (_unflatten_tree /
    # @def validity chunks): letting them through would silently
    # restructure or half-dismember a struct subtree
    if "." in name or "@" in name:
        raise ValueError(
            f"{op}: {name!r} addresses a nested/structural chunk; "
            "operate on the top-level column instead"
        )


def drop_columns(blob_df: DataFrame, columns: list[str]) -> DataFrame:
    """Schema evolution without rewrite: dropping a column of an
    encoded table drops its blob columns and its chunks' metadata — the
    remaining columns' blob bytes are untouched.  Names address
    TOP-LEVEL columns; a struct column drops with its whole subtree
    (leaves + validity chunks)."""
    for c in columns:
        _check_plain_name("drop_columns", c)
    meta_rows = _meta_rows_for(blob_df)
    tops = {_top_name(r["column"]) for r in meta_rows}
    missing = [c for c in columns if c not in tops]
    if missing:
        raise ValueError(f"drop_columns: not in table: {missing}")
    if not tops - set(columns):
        raise ValueError("drop_columns: cannot drop every column")
    gone = [r for r in meta_rows if _top_name(r["column"]) in set(columns)]
    names = F.array(*[F.lit(r["column"]) for r in gone])
    return blob_df.drop(*[_data_col(r["col_idx"]) for r in gone]).withColumn(
        "chunks", F.filter("chunks", lambda ch: ~F.array_contains(names, ch["column"]))
    )


def rename_column(blob_df: DataFrame, old: str, new: str) -> DataFrame:
    """Schema evolution without rewrite: renames are a metadata update
    on the manifest rows; blob bytes (and their shas) are untouched.
    Renames TOP-LEVEL columns; a struct column renames with its whole
    subtree ('meta' -> 'info' carries 'meta.origin' -> 'info.origin'
    and 'meta@def' -> 'info@def').  The rows' ``chunks`` and the blob
    columns' column map (blob_schema) rename together."""
    _check_plain_name("rename_column", old)
    _check_plain_name("rename_column", new)
    leaves = _meta_rows_for(blob_df)
    tops = {_top_name(r["column"]) for r in leaves}
    if old not in tops:
        raise ValueError(f"rename_column: {old!r} not in table")
    if new in tops:
        raise ValueError(f"rename_column: {new!r} already exists")
    for r in leaves:
        if _top_name(r["column"]) == old:
            r["column"] = new + r["column"][len(old) :]
    names = F.create_map(*[F.lit(x) for r in leaves for x in (r["col_idx"], r["column"])])

    def renamed(ch):
        return ch.withField("column", names[ch["col_idx"]])

    return _with_map(blob_df.withColumn("chunks", F.transform("chunks", renamed)), leaves)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/manifest")


def pending_chunks(all_manifest: DataFrame, done_manifest: DataFrame) -> DataFrame:
    """Resume-from-checkpoint: the rows of row groups not yet committed
    (north rule), expressed as a broadcast-able anti-join on the row
    group identity, the unit of resume: ``all_manifest`` may be a blob
    table or a manifest, ``done_manifest`` a manifest.  Identities are
    unique within a table (_disjoint_ids), and a task commits its
    partition whole, so an append of these rows keeps their identities
    and a second resume finds nothing pending."""
    keys = ["part_id", "chunk_seq"]
    return all_manifest.join(
        F.broadcast(done_manifest.select(*keys).distinct()), on=keys, how="left_anti"
    )


def encode_summary(blob_df: DataFrame) -> DataFrame:
    """Per-column rollup of codec choices / sizes over the per-chunk
    view (chunk_view) — partial aggregation (map-side combine) happens
    automatically via groupBy."""
    return (
        chunk_view(blob_df)
        .groupBy("column", "dtype", "codec", "compression")
        .agg(
            F.count("*").alias("chunks"),
            F.sum("n").alias("values"),
            F.sum("n_nulls").alias("nulls"),
            F.sum("content_bytes").alias("content_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
            F.sum("wall_ms").alias("encode_wall_ms"),
        )
        .withColumn(
            "ratio",
            F.when(
                F.col("content_bytes") > 0,
                F.round(F.col("encoded_bytes") / F.col("content_bytes"), 4),
            ),  # null for zero-content chunks (framing-only bytes)
        )
        .orderBy("column")
    )
