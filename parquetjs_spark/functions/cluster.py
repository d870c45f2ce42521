"""Z-order (Morton) clustering — multi-column layout optimization for
zone-map pruning.

The reference has no layout optimizer at all (it encodes rows in
arrival order, /root/reference/lib/writer.js appendRow path); at 100 TB
the dominant scan cost is chunks that zone maps CANNOT skip because the
row order correlates with only one column.  Interleaving the quantized
bits of k columns into one sort key gives every participating column
locality ~n^(1/k): a range predicate on ANY of them prunes most chunks,
which `pipeline.scan_stats` makes directly observable.

Everything here is pure JVM Column expressions (quantize = integer
subtract/multiply/DIV, interleave = shift/and/or) — whole-stage
codegen end to end, no Python in the hot path, and the key is a pure
function of (value, column stats) so the layout is reproducible at any
parallelism.  The stats pass is one `agg` collecting 2k scalars; at
scale you pass precomputed `stats` instead (e.g. from the previous
run's manifest) and the stats job disappears.

Float columns quantize in float64 (floor((x-mn)/span * (2^b-1))) —
deterministic IEEE ops, but integer columns use pure BIGINT arithmetic
(mult-then-DIV, or DIV-first when the span would overflow 63 bits) so
the key is exactly reproducible in any engine, which is what the
driver's DuckDB oracle checks.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)

# default per-column quantization: finer than 16 bits buys no pruning
# at chunk granularity, and 16*3 still fits a 63-bit key
_DEFAULT_BITS = 16

ZKEY = "__zkey"


def _rank_sql(df: DataFrame, name: str) -> str:
    """THE single type ladder: the column's totally-ordered rank as a
    Spark-SQL fragment — ints stay BIGINT, floats DOUBLE, date/
    timestamp their epoch longs, strings the big-endian integer of
    their first 7 BYTES (HEX over the raw binary, truncated to 14
    nibbles and right-padded with '0' nibbles so shorter values stay
    left-aligned — byte-true for multi-byte UTF-8, and 2^56-1 max so
    CONV can never overflow under ANSI mode).  Both column_stats and
    the key expression build from this one function, so the rank the
    stats measured is exactly the rank the key quantizes."""
    typ = df.schema[name].dataType
    qn = f"`{name}`"
    if isinstance(typ, _INT_TYPES):
        return f"CAST({qn} AS BIGINT)"
    if isinstance(typ, _FLOAT_TYPES):
        return f"CAST({qn} AS DOUBLE)"
    if isinstance(typ, T.DateType):
        return f"CAST(datediff({qn}, DATE'1970-01-01') AS BIGINT)"
    if isinstance(typ, T.TimestampType):
        return f"unix_micros({qn})"
    if isinstance(typ, T.StringType):
        return (
            f"CAST(CONV(RPAD(SUBSTR(HEX(CAST({qn} AS BINARY)), 1, 14), "
            "14, '0'), 16, 10) AS BIGINT)"
        )
    raise ValueError(
        f"zorder column {name!r}: unsupported type {typ.simpleString()} "
        "(numeric / string / date / timestamp only)"
    )


def _numeric_col(df: DataFrame, name: str) -> Column:
    return F.expr(_rank_sql(df, name))


def _is_float(df: DataFrame, name: str) -> bool:
    return isinstance(df.schema[name].dataType, _FLOAT_TYPES)


def column_stats(df: DataFrame, cols: list[str]) -> dict[str, tuple]:
    """(min, max) per column in one aggregate — 2k scalars to the
    driver regardless of table size.  Float columns aggregate over
    finite values only: a NaN/inf min or max would otherwise leak into
    the generated key SQL as the bare identifier `nan`/`inf`."""
    aggs = []
    for c in cols:
        nc = _numeric_col(df, c)
        if _is_float(df, c):
            nc = F.when(
                ~F.isnan(nc)
                & (nc > F.lit(float("-inf")))
                & (nc < F.lit(float("inf"))),
                nc,
            )
        aggs.append(F.min(nc).alias(f"__mn_{c}"))
        aggs.append(F.max(nc).alias(f"__mx_{c}"))
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in cols}


def _quantize_sql(name_sql: str, mn: int, mx: int, bits: int) -> str:
    """The integer quantizer as a SQL fragment valid in BOTH Spark SQL
    and DuckDB (same BIGINT ops, same truncating division on
    non-negative operands): Spark spells integer division DIV, DuckDB
    spells it // — caller substitutes {DIV}."""
    top = (1 << bits) - 1
    if mx is None or mn is None or mx <= mn:
        return "0"
    span = int(mx) - int(mn)
    if span <= ((1 << 63) - 1) // top:
        return f"((({name_sql}) - {mn}) * {top}) {{DIV}} {span}"
    # DIV-first: coarser but overflow-free for full-range int64 spans
    step = span // top + 1
    return f"(({name_sql}) - {mn}) {{DIV}} {step}"


def _interleave_sql(qs: list[str], bits: int) -> str:
    """Morton interleave of k quantized ranks as a SQL fragment using
    only >> << & | — identical semantics in Spark SQL and DuckDB."""
    k = len(qs)
    terms = []
    for i in range(bits):
        for j, q in enumerate(qs):
            # every term fully parenthesized: DuckDB/Postgres give <<
            # and | EQUAL precedence (left-assoc), so a bare
            # `a << 1 | b << 3` parses as ((a << 1) | b) << 3 there
            terms.append(f"(((({q}) >> {i}) & 1) << {i * k + j})")
    return "(" + " | ".join(terms) + ")"


def zorder_key_sql(
    cols: list[str],
    stats: dict[str, tuple],
    bits: int | None = None,
    div: str = "DIV",
    float_cols: set[str] | None = None,
) -> str:
    """The full z-key expression as SQL text.  ``div`` is "DIV" for
    Spark, "//" for DuckDB; everything else is engine-portable.  This
    IS the oracle surface: the driver runs the Spark plan built by
    ``zorder_key`` and DuckDB runs this string, and they must agree
    bit for bit on integer columns."""
    k = len(cols)
    if bits is None:
        bits = min(_DEFAULT_BITS, 63 // k)
    float_cols = float_cols or set()
    qs = []
    for c in cols:
        mn, mx = stats[c]
        if c in float_cols:
            top = (1 << bits) - 1
            if mx is None or mn is None or mx <= mn:
                qs.append("0")
            else:
                # GREATEST/LEAST clamp so data NaN/±inf rows (excluded
                # from the stats) can never throw under ANSI: Spark's
                # FLOOR(double) returns BIGINT and maps NaN to 0, so
                # NaN rows rank 0 — clustered at the bottom with
                # NULL/-inf rows; +inf clamps to the top rank
                span = float(mx) - float(mn)
                qs.append(
                    f"CAST(GREATEST(0.0D, LEAST(FLOOR((({c}) - {float(mn)!r}D) "
                    f"/ {span!r}D * {float(top)!r}D), {float(top)!r}D)) AS BIGINT)"
                )
        else:
            qs.append(_quantize_sql(c, mn, mx, bits).format(DIV=div))
    return _interleave_sql(qs, bits)


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int | None = None,
    stats: dict[str, tuple] | None = None,
    key_col: str = ZKEY,
) -> DataFrame:
    """df + one BIGINT column ``key_col``: the Morton interleave of the
    quantized ranks of ``cols``.  k*bits must fit in 63 bits; default
    bits = min(16, 63 // k).

    The whole key is ONE Catalyst expression (shift/and/or over integer
    quantizers) — codegen-compiled, no UDF, no shuffle of its own."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if key_col in df.columns:
        raise ValueError(f"column {key_col!r} already exists")
    k = len(cols)
    if bits is None:
        bits = min(_DEFAULT_BITS, 63 // k)
    if bits < 1 or bits * k > 63:
        raise ValueError(f"bits={bits} with {k} columns exceeds 63 key bits")
    if stats is None:
        stats = column_stats(df, cols)
    float_cols = {c for c in cols if _is_float(df, c)}
    # one ladder: the same _rank_sql fragment column_stats aggregated
    name_sql = {c: _rank_sql(df, c) for c in cols}
    expr = zorder_key_sql(
        [name_sql[c] for c in cols],
        {name_sql[c]: stats[c] for c in cols},
        bits=bits,
        div="DIV",
        float_cols={name_sql[c] for c in cols if c in float_cols},
    )
    # NULLs in any participating column -> key 0 (cluster at the front)
    guard = reduce(
        lambda a, b: a | b, (F.col(c).isNull() for c in cols)
    )
    return df.withColumn(
        key_col, F.when(guard, F.lit(0).cast("long")).otherwise(F.expr(expr))
    )


def _partition_sql(bounds: list[int], lo: int, hi: int) -> str:
    """The z-key's partition id in [lo, hi]: a SQL binary search over
    the sorted ``bounds``, partition i holding (bounds[i-1], bounds[i]]."""
    if lo == hi:
        return str(lo)
    mid = (lo + hi) // 2
    return (f"IF(`{ZKEY}` <= {bounds[mid]}, {_partition_sql(bounds, lo, mid)}, "
            f"{_partition_sql(bounds, mid + 1, hi)})")


def zorder_sort(
    df: DataFrame,
    cols: list[str],
    bits: int | None = None,
    stats: dict[str, tuple] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Globally z-order the table: range-partition on the Morton key
    (contiguous key ranges per partition — the encoder's chunk zone
    maps inherit the clustering) and sort within partitions.  One
    shuffle, same cost class as any global sort; at 100 TB this is the
    layout job you run once per ingest, after which every multi-column
    range scan prunes at the chunk level.

    The range bounds are key quantiles (one aggregate), not the range
    exchange's sample, which is seeded by the RDD id: the layout
    depends on the data, not on the session's history."""
    keyed = zorder_key(df, cols, bits=bits, stats=stats)
    n = partitions or int(keyed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    qs = keyed.approxQuantile(ZKEY, [i / n for i in range(1, n)], 0.001)
    bounds = sorted({int(q) for q in qs})
    pid = F.expr(_partition_sql(bounds, 0, len(bounds)))
    return keyed.repartitionById(n, pid).sortWithinPartitions(ZKEY).drop(ZKEY)
