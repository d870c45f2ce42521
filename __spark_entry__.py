"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: encode every lineitem column at sf0.001
through the auto-selector pipeline and return the per-column codec /
size / timing summary.

``queries()`` — one entry per implemented operator (SURVEY.md §2):
round-trip identities ``decode(encode(col))`` per codec and dtype
(§2.8: the driver-contract re-expression of the encode/decode pipeline),
manifest/statistics queries, and the training-data ops (dedup,
similarity, text analysis) over documents/embeddings.

``oracle_sql()`` — DuckDB-equivalent SQL per query.  As of round 6
every query has one: non-SQL internals (MinHash/SimHash/ANN bucketing,
the codec auto-selector) are checked through seeded
constants-by-construction invariants instead of raw dumps.

DRIVER BUDGET: the driver records the FIRST 50 queries only (round 2
defined 63 and the last 13 — all of similarity/ANN/multimodal — got no
correctness row at all).  Keep ``len(queries()) <= 50`` (pytest
tests/test_entry_contract.py enforces it), order least-recently-verified
ops first, and fold redundant round-trips instead of appending.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: auto-selected encode of all lineitem columns at sf0.001,
    returning the per-column codec/size/throughput summary."""
    from parquetjs_spark import pipeline

    df = _load(spark, SF0001, "lineitem")
    blobs = pipeline.encode_columns(df)
    return pipeline.encode_summary(blobs)


# --------------------------------------------------------------------------
# round-trip identity queries: decode(encode(col)) == col per codec/dtype
# --------------------------------------------------------------------------

# One auto-selector round-trip per distinct dtype path + one per explicit
# codec path.  Round 2 carried one rt_auto_* per COLUMN (14 rows), which
# re-proved the same selector/dtype paths while pushing the similarity and
# multimodal queries past the driver's 50-query window — folded here
# (dropped duplicates are noted with the row that still covers the path).
_ROUNDTRIPS: list[tuple[str, str, str, str]] = [
    # (query_name, table, column, codec)
    # (rt_auto_returnflag folded round 5: low-cardinality string auto
    # selects the DICT path already pinned by rt_dict_returnflag on the
    # SAME column, and selector dispatch stays covered by the remaining
    # rt_auto_* rows + codec_choices_lineitem — freed row funds the
    # oracle-green emb_quantize_roundtrip entry)
    # (rt_auto_orderkey folded round 6: the column's int64 codec path is
    # pinned by rt_for_orderkey, and auto-dispatch is now pinned HARDER
    # by codec_choice_invariants, which asserts WHICH codec class the
    # selector picks on seeded shapes — freed row funds the planted
    # media-decode coverage in functions/registry.py)
    # (rt_auto_partsize folded round 6: int32 auto-dispatch is pinned by
    # codec_choice_invariants (asserts the selected codec CLASS on seeded
    # columns) and the int32 wire by rt_rle_linenumber; freed row funds
    # zorder_key_lineitem, the layout operator's cross-engine oracle)
    # (rt_auto_doctext folded: long-string auto selection is covered by
    # rt_fsst_doctext on the same column + codec_choices_lineitem)
    # (rt_auto_quantity folded round 4: float64 auto = PLAIN path, covered
    # by rt_plain_extendedprice + l_quantity inside rt_table_lineitem /
    # rt_arrarr_qty; rt_auto_shipdate folded: timestamp auto covered by
    # l_shipdate inside rt_table_lineitem + scan_eq temporal pytest —
    # freed rows fund simhash/keep-canonical/nested-group coverage)
    ("rt_dict_returnflag", "lineitem", "l_returnflag", "DICT_RLE"),
    ("rt_dict_suppkey", "lineitem", "l_suppkey", "DICT_RLE"),  # int dict
    ("rt_for_orderkey", "lineitem", "l_orderkey", "FOR_BITPACK"),
    ("rt_rle_linenumber", "lineitem", "l_linenumber", "RLE"),
    # (rt_plain_extendedprice folded round 6: PLAIN float64 stays pinned
    # by l_extendedprice inside rt_table_lineitem + verify_all_lineitem
    # and the PLAIN string wire by rt_plain_comment_props — freed row
    # funds the new INCREMENTAL front-coding codec's round-trip)
    ("rt_incr_ptype", "part", "p_type", "INCREMENTAL"),
    ("rt_plain_comment_props", "events", "props", "PLAIN"),  # nullable str
    ("rt_fsst_doctext", "documents", "text", "FSST"),
]


def _make_roundtrip(table: str, column: str, codec: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from parquetjs_spark import pipeline

        df = _load(spark, sf_dir, table)
        return pipeline.roundtrip_column(df, column, codec=codec)

    return q


# --------------------------------------------------------------------------
# statistics / manifest queries
# --------------------------------------------------------------------------


def _q_scan_eq_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered point lookup (the bloom filters Parquet declares
    but the reference never writes, /root/reference/parquet.thrift:359-361):
    per-chunk blooms in the manifest prune chunks of the UNSORTED
    l_partkey column on the driver before any decode; zone maps
    cannot prune here (every chunk spans most of the key range)."""
    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select("l_partkey")
    blobs = pipeline.encode_columns(df)
    return pipeline.scan_eq(blobs, "l_partkey", 50)


def _q_chunk_counts_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest rollup: per-column value/null counts from chunk metadata —
    the footer-statistics analogue (SURVEY.md §4.1 'Metadata/statistics')."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem")
    blobs = pipeline.encode_columns(df)
    return (
        pipeline.chunk_view(blobs)
        .groupBy(F.col("column").alias("col_name"))
        .agg(F.sum("n").alias("n_values"), F.sum("n_nulls").alias("n_nulls"))
        .orderBy("col_name")
    )


def _q_codec_choice_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-selector decisions pinned by seeded invariants with a
    constant oracle (upgrades round 5's rows-only codec_choices_lineitem
    dump — the last no-oracle row): a constant int column MUST land in
    the run/dict/FOR compact class at <5% of content size; a
    max-entropy unique-string column (md5 hex of the lineitem PK) MUST
    NOT pick the dictionary; a 3-value flag string MUST pick a
    dictionary/run codec.  Each invariant holds for EVERY chunk at any
    partitioning (constant chunks select deterministically; unique
    strings can never make DICT the min), so the aggregated booleans
    are constants-by-construction.  The full per-column choice table
    stays available via encode_summary / the CLI `stats` subcommand and
    the entry() flagship."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select(
        F.lit(7).cast("long").alias("const_int"),
        F.md5(
            F.concat_ws("_", "l_orderkey", "l_linenumber")
        ).alias("unique_str"),
        F.col("l_returnflag").alias("lowcard_str"),
    )
    s = pipeline.encode_summary(pipeline.encode_columns(df))
    compact = F.col("codec").isin("RLE", "DICT_RLE", "FOR_BITPACK")
    inv = (
        F.when(
            F.col("column") == "const_int",
            compact & (F.col("encoded_bytes") < 0.05 * F.col("content_bytes")),
        )
        .when(F.col("column") == "unique_str", F.col("codec") != "DICT_RLE")
        .otherwise(F.col("codec").isin("DICT_RLE", "RLE"))
    )
    return (
        s.groupBy(F.col("column").alias("col_name"))
        .agg(F.bool_and(inv).alias("invariant_ok"))
        .orderBy("col_name")
    )


def _q_zorder_key_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key (functions/cluster.py): Morton interleave of
    the 16-bit quantized ranks of (l_partkey, l_suppkey) — the sort key
    zorder_sort clusters on so zone maps prune range scans on EITHER
    column.  The key is pure BIGINT arithmetic (subtract, multiply,
    integer DIV, shift/and/or), so DuckDB computing the same expression
    over the same MIN/MAX stats must agree bit for bit — the oracle IS
    the cross-engine reproducibility claim."""
    from parquetjs_spark.functions import cluster

    df = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    stats = cluster.column_stats(df, ["l_partkey", "l_suppkey"])
    keyed = cluster.zorder_key(
        df, ["l_partkey", "l_suppkey"], stats=stats, key_col="zkey"
    )
    return keyed.select("l_orderkey", "l_linenumber", "zkey")


def _q_verify_all_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sha256 bit-identity over every chunk — the north
    rule's flagship invariant, driver-checked: the projection is
    partitioning-independent (raw chunk counts depend on file splits),
    so the DuckDB oracle can assert it exactly: every column verified,
    every value covered (sum of verified chunk sizes = width x
    rowcount), zero mismatches."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem")
    blobs = pipeline.encode_columns(df)
    report = pipeline.verify_blobs(blobs).join(
        pipeline.chunk_view(blobs).select("part_id", "chunk_seq", "column", "n"),
        on=["part_id", "chunk_seq", "column"],
    )
    return report.agg(
        F.countDistinct("column").alias("columns_verified"),
        F.sum(F.when(F.col("ok"), F.col("n")).otherwise(0)).alias(
            "values_verified"
        ),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("mismatches"),
    )


def _q_rt_table_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row reassembly (cursor/materializeRecords analogue,
    /root/reference/lib/reader.js:51-67, lib/shred.js:157-245): decode
    several lineitem columns from blobs back into one DataFrame."""
    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem")
    return pipeline.roundtrip_table(
        df, ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    )


def _q_rt_table_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row reassembly with nullable columns (definition levels rebuilt
    per column, then zipped positionally)."""
    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "events")
    return pipeline.roundtrip_table(df, ["event_id", "event_type", "props"])


def _q_rt_struct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-group round-trip (reference lib/schema.js:102-120): pack
    lineitem fields into a struct, encode (struct shreds into dotted
    leaf chunks + @def validity), decode_table, project back to scalars
    so the oracle can hash the values."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select(
        F.struct(
            F.col("l_orderkey").alias("ok"), F.col("l_quantity").alias("qty")
        ).alias("s"),
        "l_returnflag",
    )
    out = pipeline.roundtrip_table(df)
    return out.select(
        F.col("s.ok").alias("ok"), F.col("s.qty").alias("qty"), "l_returnflag"
    )


def _q_rt_arrstruct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-group round-trip (array<struct>, the reference's
    `repeated group stock` shape, /root/reference/test/integration.js:21-26):
    build a 2-element struct array per lineitem row, encode (shreds to
    parallel list leaves + @edef), decode_table, project to scalars for
    the oracle."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select(
        F.array(
            F.struct(
                F.col("l_linenumber").alias("n"), F.col("l_quantity").alias("q")
            ),
            F.struct(
                (F.col("l_linenumber") + 1).alias("n"),
                (F.col("l_quantity") * 2).alias("q"),
            ),
        ).alias("xs"),
        "l_orderkey",
    )
    out = pipeline.roundtrip_table(df)
    return out.select(
        F.element_at("xs", 1).getField("n").alias("n0"),
        F.element_at("xs", 2).getField("q").alias("q1"),
        F.size("xs").cast("long").alias("sz"),
        "l_orderkey",
    )


def _q_rt_arrstructstruct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested repeated groups (array<struct> INSIDE array<struct> — the
    reference's recursive repeated-group shred,
    /root/reference/lib/shred.js:75-135, test/shred.js nested-repeated
    cases): each repetition level shreds to one more list_ wrapper on
    the parallel leaves + its own @edef element-validity chunk; decode
    rebuilds level by level with arrays_zip/transform (pure JVM).
    Projected back to scalars for the oracle."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select(
        F.array(
            F.struct(
                F.col("l_linenumber").alias("n"),
                F.array(
                    F.struct(F.col("l_quantity").alias("q")),
                    F.struct((F.col("l_quantity") * 2).alias("q")),
                ).alias("spans"),
            )
        ).alias("xs"),
        "l_orderkey",
    )
    out = pipeline.roundtrip_table(df)
    first = F.element_at("xs", 1)
    return out.select(
        first.getField("n").alias("n0"),
        F.element_at(first.getField("spans"), 1).getField("q").alias("q00"),
        F.element_at(first.getField("spans"), 2).getField("q").alias("q01"),
        F.size(first.getField("spans")).cast("long").alias("n_spans"),
        "l_orderkey",
    )


def _q_scan_orderkey_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map range scan: per-chunk min/max statistics (the Statistics
    struct the reference's thrift declares but its writer never fills,
    /root/reference/parquet.thrift:201-214) prune non-intersecting
    chunks before any decode; residual filter exacts the predicate."""
    from parquetjs_spark import pipeline

    df = (
        _load(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .orderBy("l_orderkey")
    )
    blobs = pipeline.encode_columns(df)
    return pipeline.scan_column(blobs, "l_orderkey", lo=100, hi=5000)


def _q_scan_table_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound-predicate pruned scan (scan_table_where, round 4):
    range AND equality on different columns intersect their kept
    row-group sets on the driver — zone maps for the range, zone maps
    + blooms for the equality — and the scan reads only those row
    groups, before one decode + exact residuals.  (A single-range scan is the same call with one
    range and no equality.)"""
    from parquetjs_spark import pipeline

    df = (
        _load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey")
    )
    blobs = pipeline.encode_columns(df)
    return pipeline.scan_table_where(
        blobs,
        ranges={"l_orderkey": (100, 5000)},
        eqs={"l_returnflag": "A"},
    )


def _q_rt_decimal_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL(12,2) round-trip: unscaled int64 under the int codecs
    (Spark-first extension; the reference has no DECIMAL —
    /root/reference/parquet.thrift:79 enum only).

    The result is projected to the unscaled integer the codec actually
    stores: a raw decimal(12,2) cell crosses the driver's canonicalizer
    as Decimal vs DuckDB's float repr and hash-mismatches even when the
    values are identical (round-2 red row — representation, not data)."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price")
    )
    out = pipeline.roundtrip_column(df, "price")
    return out.select(
        (F.col("price") * 100).cast("long").alias("price_cents")
    )


def _q_rt_flba_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED_LEN_BYTE_ARRAY round-trip (reference
    lib/codec/plain.js:179-209): 16-byte md5 digests as a binary column;
    the selector detects uniform widths and picks the FLBA codec."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "documents").select(
        F.unhex(F.md5(F.col("text"))).alias("digest")
    )
    out = pipeline.roundtrip_column(df, "digest")
    # hex projection: a binary cell arrives as bytearray vs DuckDB blob
    # at the driver's canonicalizer (round-2 red row was representation,
    # not data) — hex is representation-stable and keeps FLBA exercised
    return out.select(F.hex(F.col("digest")).alias("digest_hex"))


def _q_rt_auto_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAIN BOOLEAN end-to-end (reference lib/codec/plain.js:5-28):
    testdata has no bool column, so derive one — this is the only
    oracle-checked evidence for the bool bit-packing path."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") > 25).alias("big")
    )
    return pipeline.roundtrip_column(df, "big")


def _q_rt_interval_dur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL round-trip (reference lib/types.js:124-130, FLBA(12)
    {months,days,millis}; the Spark-representable slice is
    DayTimeIntervalType carried as int64 micros).  Projected to whole
    seconds (cast interval -> long) for the oracle."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select(
        F.expr(
            "make_dt_interval(CAST(l_linenumber AS INT), 0, 0, l_quantity)"
        ).alias("dur")
    )
    out = pipeline.roundtrip_column(df, "dur")
    return out.select(F.col("dur").cast("long").alias("dur_secs"))


def _q_rt_arrarr_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level repetition round-trip (rLevelMax > 1 — the reference's
    nested-repeated shapes, /root/reference/lib/shred.js:75-135 recursion,
    test/shred.js nested-repeated cases): an array<array<double>> column
    shreds each list level into a count stream + recursive inner chunk;
    decoded values projected to scalars for the oracle."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "lineitem").select(
        F.array(
            F.array(F.col("l_quantity")),
            F.array(F.col("l_quantity") * 2, F.col("l_quantity") + 1),
        ).alias("qmat"),
        "l_orderkey",
    )
    out = pipeline.roundtrip_table(df)
    inner2 = F.element_at("qmat", 2)
    return out.select(
        F.element_at(F.element_at("qmat", 1), 1).alias("a"),
        F.element_at(inner2, 1).alias("b"),
        F.element_at(inner2, 2).alias("c"),
        F.size(inner2).cast("long").alias("n_inner"),
        "l_orderkey",
    )


def _q_rt_array_emb_elem0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-field (array<float>) round-trip — Dremel L3/L4
    re-expression — projected to scalars so the oracle can hash it."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline

    df = _load(spark, sf_dir, "embeddings")
    out = pipeline.roundtrip_column(df, "embedding")
    return out.select(
        F.element_at("embedding", 1).cast("double").alias("e0"),
        F.size("embedding").alias("dim"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver records the first 50 entries only.  The
    # similarity/ANN/multimodal registry goes FIRST (its tail fell out of
    # round 2's window entirely), then this round's new/red-last-round
    # queries, then the long-green round-trips.
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    from parquetjs_spark.functions import registry as fn_registry

    out.update(fn_registry.queries())

    # red in round 2 (representation) / new this round
    out["rt_flba_digest"] = _q_rt_flba_digest
    out["rt_decimal_price"] = _q_rt_decimal_price
    out["rt_auto_bool"] = _q_rt_auto_bool
    out["rt_arrarr_qty"] = _q_rt_arrarr_qty
    out["rt_interval_dur"] = _q_rt_interval_dur

    # long-green core
    for name, table, column, codec in _ROUNDTRIPS:
        out[name] = _make_roundtrip(table, column, codec)
    out["scan_eq_partkey"] = _q_scan_eq_partkey
    out["zorder_key_lineitem"] = _q_zorder_key_lineitem
    out["chunk_counts_lineitem"] = _q_chunk_counts_lineitem
    out["codec_choice_invariants"] = _q_codec_choice_invariants
    out["verify_all_lineitem"] = _q_verify_all_lineitem
    out["rt_table_lineitem"] = _q_rt_table_lineitem
    out["rt_table_events"] = _q_rt_table_events
    out["rt_struct_lineitem"] = _q_rt_struct_lineitem
    out["rt_arrstruct_lineitem"] = _q_rt_arrstruct_lineitem
    out["rt_arrstructstruct_lineitem"] = _q_rt_arrstructstruct_lineitem
    out["scan_orderkey_range"] = _q_scan_orderkey_range
    out["scan_table_range"] = _q_scan_table_range
    out["rt_array_emb_elem0"] = _q_rt_array_emb_elem0
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, table, column, _codec in _ROUNDTRIPS:
        out[name] = f"SELECT {column} FROM {table}"
    out["scan_eq_partkey"] = (
        "SELECT l_partkey FROM lineitem WHERE l_partkey = 50"
    )
    # zorder key: the SAME integer arithmetic the Spark plan runs
    # (functions/cluster.zorder_key_sql), with DuckDB's `//` integer
    # division and MIN/MAX computed from the table itself.  Bit-for-bit
    # agreement is the point: the layout key must be engine-independent.
    from parquetjs_spark.functions.cluster import _interleave_sql as _zo_il

    out["zorder_key_lineitem"] = (
        "WITH s AS (SELECT MIN(l_partkey) mn1, MAX(l_partkey) mx1, "
        "MIN(l_suppkey) mn2, MAX(l_suppkey) mx2 FROM lineitem) "
        "SELECT l_orderkey, l_linenumber, "
        + _zo_il(["q1", "q2"], 16)
        + " AS zkey FROM (SELECT l_orderkey, l_linenumber, "
        "((CAST(l_partkey AS BIGINT) - mn1) * 65535) // "
        "(CASE WHEN mx1 > mn1 THEN mx1 - mn1 ELSE 1 END) AS q1, "
        "((CAST(l_suppkey AS BIGINT) - mn2) * 65535) // "
        "(CASE WHEN mx2 > mn2 THEN mx2 - mn2 ELSE 1 END) AS q2 "
        "FROM lineitem, s)"
    )
    _li_cols = [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ]
    out["chunk_counts_lineitem"] = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, COUNT(*) AS n_values, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls FROM lineitem"
        for c in _li_cols
    )
    out["codec_choice_invariants"] = (
        "SELECT 'const_int' AS col_name, true AS invariant_ok "
        "UNION ALL SELECT 'lowcard_str', true "
        "UNION ALL SELECT 'unique_str', true"
    )
    out["verify_all_lineitem"] = (
        "SELECT CAST(11 AS BIGINT) AS columns_verified, "
        "CAST(11 * (SELECT COUNT(*) FROM lineitem) AS BIGINT) "
        "AS values_verified, CAST(0 AS BIGINT) AS mismatches"
    )
    out["rt_table_lineitem"] = (
        "SELECT l_orderkey, l_quantity, l_returnflag, l_shipdate FROM lineitem"
    )
    out["rt_table_events"] = "SELECT event_id, event_type, props FROM events"
    out["rt_struct_lineitem"] = (
        "SELECT l_orderkey AS ok, l_quantity AS qty, l_returnflag FROM lineitem"
    )
    out["rt_flba_digest"] = "SELECT upper(md5(text)) AS digest_hex FROM documents"
    out["rt_decimal_price"] = (
        "SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents "
        "FROM lineitem"
    )
    out["rt_auto_bool"] = "SELECT l_quantity > 25 AS big FROM lineitem"
    out["rt_arrarr_qty"] = (
        "SELECT l_quantity AS a, l_quantity * 2 AS b, l_quantity + 1 AS c, "
        "CAST(2 AS BIGINT) AS n_inner, l_orderkey FROM lineitem"
    )
    out["rt_interval_dur"] = (
        "SELECT CAST(FLOOR(l_linenumber * 86400 + l_quantity) AS BIGINT) "
        "AS dur_secs FROM lineitem"
    )
    out["rt_arrstruct_lineitem"] = (
        "SELECT l_linenumber AS n0, l_quantity * 2 AS q1, "
        "CAST(2 AS BIGINT) AS sz, l_orderkey FROM lineitem"
    )
    out["rt_arrstructstruct_lineitem"] = (
        "SELECT l_linenumber AS n0, l_quantity AS q00, l_quantity * 2 AS q01, "
        "CAST(2 AS BIGINT) AS n_spans, l_orderkey FROM lineitem"
    )
    out["scan_orderkey_range"] = (
        "SELECT l_orderkey FROM lineitem WHERE l_orderkey BETWEEN 100 AND 5000"
    )
    out["scan_table_range"] = (
        "SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem "
        "WHERE l_orderkey BETWEEN 100 AND 5000 AND l_returnflag = 'A'"
    )
    out["rt_array_emb_elem0"] = (
        "SELECT CAST(embedding[1] AS DOUBLE) AS e0, "
        "CAST(len(embedding) AS INTEGER) AS dim FROM embeddings"
    )

    from parquetjs_spark.functions import registry as fn_registry

    out.update(fn_registry.oracle_sql())
    return out
