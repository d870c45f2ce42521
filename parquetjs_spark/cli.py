"""spark-submit entry point (north rule: the pipeline launches via
``spark-submit --py-files`` on multi-executor clusters).

Packaging:
    cd /root/repo && zip -r /tmp/parquetjs_spark.zip parquetjs_spark
    spark-submit --py-files /tmp/parquetjs_spark.zip \
        parquetjs_spark/cli.py encode --input /data/src.parquet \
        --output /data/encoded --columns content,path --salt-key repo

Subcommands:
    encode        parquet table -> blob+manifest tables (resumable)
    decode        blob table + column -> parquet of values
    decode-table  blob table -> parquet of the original rows (cursor analogue)
    scan/where    pruned scans (zone maps + blooms, compound predicates)
    stats         pruning observability: chunks kept vs total per predicate
    verify        blob table -> per-chunk sha256 bit-identity report
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(f"parquetjs_spark_{args.cmd}")
    if args.master:
        b = b.master(args.master)
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # temporal semantics assume UTC wall clocks end to end: the
        # Z-suffix literal coercion in the DML mask path and the stored
        # naive timestamps must agree regardless of the driver's OS tz
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def cmd_encode(args) -> int:
    from parquetjs_spark import pipeline

    from parquetjs_spark.sources.iceberg import load_source_table

    def _norm(v):
        v = (v or "auto")
        return "auto" if v.lower() == "auto" else v.upper()

    args.codec = _norm(args.codec)
    args.compression = _norm(args.compression)
    # the engine's check of an unknown forced codec/compression, before
    # the input is opened (encode_columns checks the leaves too)
    pipeline._check_forced(args.codec, args.compression, [])

    spark = _spark(args)
    try:
        df = load_source_table(spark, args.input)
    except RuntimeError as e:  # e.g. iceberg: ref without the runtime JAR
        print(f"error: {e}", file=sys.stderr)
        return 2
    cols = args.columns.split(",") if args.columns else None
    zorder_cols = args.zorder.split(",") if args.zorder else []
    if args.zorder and len(zorder_cols) < 2:
        print("error: --zorder takes 2+ comma-separated columns "
              "(one column: use --cluster-by)", file=sys.stderr)
        return 2
    if args.zorder and (args.cluster_by or args.salt_key):
        print("error: --zorder conflicts with --cluster-by/--salt-key "
              "(pick one layout strategy)", file=sys.stderr)
        return 2
    missing = [c for c in (cols or [])] + ([args.salt_key] if args.salt_key else [])
    missing += zorder_cols
    missing = [c for c in missing if c not in df.columns]
    if missing:
        print(
            f"error: column(s) {missing} not in input "
            f"(available: {df.columns})",
            file=sys.stderr,
        )
        return 2
    if zorder_cols:
        from pyspark.errors.exceptions.base import PySparkException

        from parquetjs_spark.functions import cluster as _cluster

        try:
            # the stats pass inside runs a real Spark job: surface its
            # failures as the CLI's exit-2 contract, not a raw traceback
            df = _cluster.zorder_sort(df, zorder_cols, partitions=args.partitions)
        except PySparkException as e:
            print(f"error: --zorder stats pass failed: {e}", file=sys.stderr)
            return 2
    elif args.cluster_by:
        df = pipeline.clustered_repartition(df, args.cluster_by, args.partitions)
    elif args.salt_key:
        df = pipeline.salted_repartition(
            df, args.salt_key, args.partitions or 200, args.salt_buckets
        )
    elif args.partitions:
        df = df.repartition(args.partitions)

    enc_kw = {"chunk_rows": args.chunk_rows, "codec": args.codec,
              "compression": args.compression}
    if args.resume_from:
        # resume: drop row groups already committed in a previous run's manifest
        already = _manifest(spark, pipeline, args.resume_from).num_rows
        done = pipeline.read_manifest(spark, args.resume_from)
        blobs = pipeline.encode_columns(df, cols, **enc_kw)
        blobs = pipeline.pending_chunks(blobs, done)
        mode = "append"
    else:
        blobs = pipeline.encode_columns(df, cols, **enc_kw)
        mode = "overwrite"
    metadata = dict(kv.split("=", 1) for kv in (args.meta or []))
    pipeline.write_encoded(blobs, args.output, mode=mode, metadata=metadata)
    if args.resume_from:
        # the output manifest includes previously committed chunks when
        # resuming into the same dir — report only this run's delta
        written = _manifest(spark, pipeline, args.output).num_rows
        print(json.dumps({"resumed_from": args.resume_from,
                          "chunks_already_committed": already,
                          "chunks_encoded_this_run": max(0, written - already)}))
    summary = pipeline.encode_summary(pipeline.read_encoded(spark, args.output))
    for r in summary.collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_decode(args) -> int:
    from parquetjs_spark import pipeline

    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    _dtypes_of(pipeline, blobs)(args.column)  # existence check
    out = pipeline.decode_column(blobs, args.column)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
    return 0


def cmd_decode_table(args) -> int:
    from parquetjs_spark import pipeline

    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    cols = args.columns.split(",") if args.columns else None
    out = pipeline.decode_table(blobs, cols, ordered=args.ordered)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count(),
                      "columns": out.columns}))
    return 0


def cmd_scan(args) -> int:
    from parquetjs_spark import pipeline

    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    # dtype and literals resolve exactly as in `where`: a bad literal
    # exits 2 before any scan job runs
    dtype = _dtypes_of(pipeline, blobs)(args.column)
    if args.eq is not None:
        val = _typed_literal(dtype, args.eq)
        out = pipeline.scan_eq(blobs, args.column, val)
    else:
        lo = None if args.min is None else _typed_literal(dtype, args.min)
        hi = None if args.max is None else _typed_literal(dtype, args.max)
        out = pipeline.scan_column(blobs, args.column, lo=lo, hi=hi)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
    return 0


def _typed_literal(dtype: str, raw: str):
    """CLI string literal -> typed value for the scan predicates, with
    validation: a bound that cannot represent the column dtype errors
    out (exit 2) instead of casting to null and silently matching
    nothing (round-4 ADVICE).  Temporal and decimal strings go through
    the pipeline's one literal coercion."""
    from parquetjs_spark import pipeline

    try:
        if dtype in ("int64", "int32"):
            return int(raw)
        if dtype in ("float64", "float32"):
            return float(raw)
        if dtype == "bool":
            if raw.lower() in ("true", "false", "1", "0"):
                return raw.lower() in ("true", "1")
            raise ValueError(raw)
        return pipeline._coerce_literal(raw, dtype)
    except ValueError:
        print(
            f"error: literal {raw!r} does not parse as {dtype}",
            file=sys.stderr,
        )
        raise SystemExit(2)


def _parse_predicates(args, dtype_of):
    """Shared --range/--eq/--is-null parsing for `where` and `stats`.

    --range accepts COL:LO..HI (bounds may contain ':', e.g. timestamp
    time-of-day) or the legacy COL:LO:HI when neither bound has a
    colon; an ambiguous colon count errors out instead of garbling the
    hi bound (round-4 ADVICE)."""
    ranges = {}
    for spec in args.range or []:
        col, _, rest = spec.partition(":")
        if not rest and ".." not in spec:
            print(f"error: bad --range {spec!r} (COL:LO..HI)", file=sys.stderr)
            raise SystemExit(2)
        if ".." in rest:
            if "..." in rest or rest.count("..") > 1:
                # '1...5' splits ambiguously (lo='1.' vs hi='.5') —
                # error instead of silently scanning an empty range
                print(
                    f"error: ambiguous --range {spec!r}: write bounds "
                    "with an explicit digit around '..' (e.g. 1.0..0.5)",
                    file=sys.stderr,
                )
                raise SystemExit(2)
            lo, _, hi = rest.partition("..")
        else:
            parts = rest.split(":")
            if len(parts) != 2:
                print(
                    f"error: ambiguous --range {spec!r}: bounds containing "
                    "':' need the COL:LO..HI form",
                    file=sys.stderr,
                )
                raise SystemExit(2)
            lo, hi = parts
        dt = dtype_of(col)
        ranges[col] = (
            _typed_literal(dt, lo) if lo else None,
            _typed_literal(dt, hi) if hi else None,
        )
    eqs = {}
    for spec in args.eq or []:
        if "=" not in spec:
            print(f"error: bad --eq {spec!r} (COL=VALUE)", file=sys.stderr)
            raise SystemExit(2)
        col, raw = spec.split("=", 1)
        eqs[col] = _typed_literal(dtype_of(col), raw)
    for col in getattr(args, "is_null", None) or []:
        dtype_of(col)  # existence check
        if col in eqs or col in ranges:
            # silently replacing an --eq (or tripping scan_table_where's
            # range/eq conflict as a raw traceback) would discard a
            # predicate the user asked for
            print(
                f"error: --is-null {col} conflicts with an --eq/--range "
                "on the same column",
                file=sys.stderr,
            )
            raise SystemExit(2)
        eqs[col] = None  # scan_eq(col, None) = IS NULL via n_nulls stat
    return ranges, eqs


def _dtypes_of(pipeline, blobs):
    # the blob frame's column map (pipeline._meta_rows_for): no Spark
    # job, and the call that follows resolves the same rows
    dtypes = pipeline._dtypes(pipeline._meta_rows_for(blobs))

    def dtype_of(col: str) -> str:
        if col not in dtypes:
            print(f"error: no chunks for column {col}", file=sys.stderr)
            raise SystemExit(2)
        return dtypes[col]

    return dtype_of


def _manifest(spark, pipeline, path):
    """The table's manifest as an Arrow table, one row per column chunk:
    the pipeline's manifest cache (no Spark job for a local table), else
    one Spark read of ``manifest/``."""
    meta = pipeline._manifest_meta(spark, path)
    if meta is not None and meta.chunks is not None:
        return meta.chunks
    return pipeline.read_manifest(spark, path).toArrow()


def _row_count(manifest) -> int:
    """The table's row count from its manifest: every column of a
    consistent table sums to it; max() keeps the number stable should
    that invariant ever break."""
    sums = manifest.group_by("column").aggregate([("n", "sum")])["n_sum"].to_pylist()
    return max(sums, default=0)


def cmd_where(args) -> int:
    """Compound-predicate scan: --range COL:LO..HI (repeatable, empty
    bound = open) + --eq COL=VALUE + --is-null COL -> one pruned decode."""
    from parquetjs_spark import pipeline

    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    dtype_of = _dtypes_of(pipeline, blobs)
    ranges, eqs = _parse_predicates(args, dtype_of)
    cols = args.columns.split(",") if args.columns else None
    out = pipeline.scan_table_where(blobs, ranges=ranges, eqs=eqs, columns=cols)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count(),
                      "columns": out.columns}))
    return 0


def _reject_in_place(args) -> bool:
    import os as _os

    if _os.path.realpath(args.input) == _os.path.realpath(args.output):
        print(f"error: {args.cmd} --output must differ from --input "
              "(in-place rewrite is not supported)", file=sys.stderr)
        return True
    return False


def _write_rewritten(spark, args, out_df):
    """Shared tail of compact/delete/update/append: carry the user KV
    metadata, and surface executor-side failures as the exit-2
    contract.  Returns None on failure (error already printed), else
    the output manifest (_manifest)."""
    from pyspark.errors.exceptions.base import PySparkException

    from parquetjs_spark import pipeline

    try:
        meta = pipeline.read_metadata(spark, args.input)
        pipeline.write_encoded(out_df, args.output, mode="overwrite", metadata=meta)
    except PySparkException as e:
        print(f"error: {args.cmd} failed during rewrite: {e}", file=sys.stderr)
        return None
    return _manifest(spark, pipeline, args.output)


def cmd_append(args) -> int:
    """Incremental ingest: encode NEW source rows and union them into
    an existing encoded table (pipeline.union_encoded — the existing
    blob bytes pass through untouched, and the new row groups take
    identities disjoint from the table's, by the rule every append
    follows).  Column order follows the existing table's manifest so
    col_idx stays consistent across both halves."""
    from parquetjs_spark import pipeline
    from parquetjs_spark.sources.iceberg import load_source_table

    if _reject_in_place(args):
        return 2
    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    # top-level column order of the existing table (nested leaves and
    # @def chunks fold back to their top-level name)
    leaves = pipeline._meta_rows_for(blobs)
    order = list(dict.fromkeys(pipeline._top_name(r["column"]) for r in leaves))
    try:
        src = load_source_table(spark, args.source)
    except RuntimeError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    missing = [c for c in order if c not in src.columns]
    if missing:
        print(f"error: --source lacks column(s) {missing} of the "
              f"existing table (has: {src.columns})", file=sys.stderr)
        return 2
    if args.partitions:
        src = src.repartition(args.partitions)
    new = pipeline.encode_columns(src, order, chunk_rows=args.chunk_rows)
    out = pipeline.union_encoded(blobs, new)
    man = _write_rewritten(spark, args, out)
    if man is None:
        return 2
    print(json.dumps({"rows_total": _row_count(man), "chunks_total": man.num_rows}))
    return 0


def cmd_delete(args) -> int:
    """Merge-on-write DELETE: rows matching the predicate conjunction
    are removed; only possibly-affected row groups re-encode, the rest
    pass through bit-identical (pipeline.delete_where)."""
    from parquetjs_spark import pipeline

    if _reject_in_place(args):
        return 2
    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    dtype_of = _dtypes_of(pipeline, blobs)
    ranges, eqs = _parse_predicates(args, dtype_of)
    if not ranges and not eqs:
        print("error: delete needs at least one --range/--eq/--is-null",
              file=sys.stderr)
        return 2
    rows_before = _row_count(_manifest(spark, pipeline, args.input))
    out = pipeline.delete_where(blobs, ranges=ranges, eqs=eqs)
    man = _write_rewritten(spark, args, out)
    if man is None:
        return 2
    rows_after = _row_count(man)
    print(json.dumps({
        "rows_before": rows_before, "rows_after": rows_after,
        "rows_deleted": rows_before - rows_after,
    }))
    return 0


def cmd_update(args) -> int:
    """Merge-on-write UPDATE: --set COL=VALUE / --set-null COL applied
    to rows matching the predicate conjunction; only the SET columns of
    possibly-affected row groups re-encode (pipeline.update_where)."""
    from parquetjs_spark import pipeline

    if _reject_in_place(args):
        return 2
    if not (args.set or args.set_null):
        print("error: update needs at least one --set/--set-null",
              file=sys.stderr)
        return 2
    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    dtype_of = _dtypes_of(pipeline, blobs)
    ranges, eqs = _parse_predicates(args, dtype_of)
    if not ranges and not eqs:
        print("error: update needs at least one --range/--eq/--is-null",
              file=sys.stderr)
        return 2
    assignments = {}
    for spec in args.set or []:
        if "=" not in spec:
            print(f"error: --set expects COL=VALUE, got {spec!r}",
                  file=sys.stderr)
            return 2
        col, raw = spec.split("=", 1)
        assignments[col] = _typed_literal(dtype_of(col), raw)
    for col in args.set_null or []:
        assignments[col] = None
    out = pipeline.update_where(blobs, assignments, ranges=ranges, eqs=eqs)
    man = _write_rewritten(spark, args, out)
    if man is None:
        return 2
    print(json.dumps({"columns_set": sorted(assignments), "chunks": man.num_rows}))
    return 0


def cmd_stats(args) -> int:
    """Pruning observability (scan_stats): chunks kept vs total per
    predicate from pure metadata — what a scan WOULD prune, priced
    before paying for any decode."""
    from parquetjs_spark import pipeline

    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    dtype_of = _dtypes_of(pipeline, blobs)
    ranges, eqs = _parse_predicates(args, dtype_of)
    if not ranges and not eqs:
        print("error: stats needs at least one --range/--eq/--is-null",
              file=sys.stderr)
        return 2
    for r in pipeline.scan_stats(blobs, ranges=ranges, eqs=eqs).collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_meta(args) -> int:
    """Read the footer analogues without touching blob bytes: user KV
    metadata, sha-format marker, and a per-column manifest rollup."""
    from parquetjs_spark import pipeline

    spark = _spark(args)
    out = {
        "metadata": pipeline.read_metadata(spark, args.input),
        "sha_format": pipeline.read_sha_format(spark, args.input),
    }
    sums = [("n", "count"), ("n", "sum"), ("n_nulls", "sum"), ("encoded_bytes", "sum")]
    man = _manifest(spark, pipeline, args.input).group_by(["column", "dtype"]).aggregate(sums)
    out["columns"] = [
        {"column": r["column"], "dtype": r["dtype"], "chunks": r["n_count"],
         "values": r["n_sum"], "nulls": r["n_nulls_sum"], "encoded_bytes": r["encoded_bytes_sum"]}
        for r in sorted(man.to_pylist(), key=lambda r: r["column"])
    ]
    print(json.dumps(out))
    return 0


def cmd_compact(args) -> int:
    from parquetjs_spark import pipeline

    # in-place compaction would overwrite the table mid-read (and a
    # path-normalization near-miss could destroy the input outright)
    if _reject_in_place(args):
        return 2
    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)
    before = _manifest(spark, pipeline, args.input).num_rows
    out = pipeline.compact_chunks(
        blobs, min_rows=args.min_rows, target_rows=args.target_rows
    )
    man = _write_rewritten(spark, args, out)
    if man is None:
        return 2
    print(json.dumps({"chunks_before": before, "chunks_after": man.num_rows}))
    return 0


def cmd_verify(args) -> int:
    from parquetjs_spark import pipeline

    spark = _spark(args)
    blobs = pipeline.read_encoded(spark, args.input)  # fails on missing table
    fmt = pipeline.read_sha_format(spark, args.input)
    if fmt != pipeline.SHA_FORMAT_VERSION:
        # not corruption: the canonical sha definition changed since
        # this table was written — every string chunk would "mismatch"
        print(json.dumps({
            "error": "old hash format",
            "table_sha_format": fmt,
            "engine_sha_format": pipeline.SHA_FORMAT_VERSION,
            "hint": "manifest hashes predate the current canonical sha "
                    "definition; re-encode to verify bit-identity",
        }))
        return 3
    counts = dict(pipeline.verify_blobs(blobs).groupBy("ok").count().collect())
    bad = counts.get(False, 0)
    print(json.dumps({"chunks": bad + counts.get(True, 0), "mismatches": bad}))
    return 0 if bad == 0 else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="parquetjs_spark")
    p.add_argument("--master", default=None, help="override spark master")
    sub = p.add_subparsers(dest="cmd", required=True)

    pe = sub.add_parser("encode")
    pe.add_argument(
        "--input",
        required=True,
        help="parquet path, or iceberg:<catalog.db.table>[@snapshot|#branch]",
    )
    pe.add_argument("--output", required=True)
    pe.add_argument("--columns", default=None, help="comma-separated; default all")
    pe.add_argument("--chunk-rows", type=int, default=4096)
    pe.add_argument(
        "--codec",
        default="auto",
        help="force one codec for every chunk (PLAIN/RLE/DICT_RLE/"
        "FOR_BITPACK/FSST/FLBA/BYTE_STREAM_SPLIT); default: per-chunk "
        "auto-selection",
    )
    pe.add_argument(
        "--compression",
        default="auto",
        help="force block compression (UNCOMPRESSED/ZLIB/GZIP/SNAPPY/"
        "ZSTD/LZ4/BROTLI); default: measured per chunk",
    )
    pe.add_argument("--partitions", type=int, default=None)
    pe.add_argument("--salt-key", default=None, help="skewed key column to salt on")
    pe.add_argument(
        "--cluster-by",
        default=None,
        help="range-sort on this column before encoding so zone maps / "
        "blooms prune range scans (one extra shuffle at write time)",
    )
    pe.add_argument(
        "--zorder",
        default=None,
        help="comma-separated numeric/string/date/timestamp columns to "
        "Morton z-order before encoding: range scans on ANY of them "
        "prune at the chunk level (one extra shuffle at write time)",
    )
    pe.add_argument("--salt-buckets", type=int, default=16)
    pe.add_argument("--resume-from", default=None, help="prior output path (manifest)")
    pe.add_argument(
        "--meta",
        action="append",
        default=None,
        metavar="KEY=VALUE",
        help="user footer metadata (repeatable; setMetadata analogue)",
    )
    pe.set_defaults(fn=cmd_encode)

    pd_ = sub.add_parser("decode")
    pd_.add_argument("--input", required=True)
    pd_.add_argument("--column", required=True)
    pd_.add_argument("--output", required=True)
    pd_.set_defaults(fn=cmd_decode)

    pt = sub.add_parser("decode-table")
    pt.add_argument("--input", required=True)
    pt.add_argument("--columns", default=None, help="comma-separated; default all")
    pt.add_argument(
        "--ordered",
        action="store_true",
        help="restore write order (global sort; the reference cursor's order)",
    )
    pt.add_argument("--output", required=True)
    pt.set_defaults(fn=cmd_decode_table)

    ps = sub.add_parser("scan")
    ps.add_argument("--input", required=True)
    ps.add_argument("--column", required=True)
    ps.add_argument("--min", default=None, help="range lower bound (zone-map pruned)")
    ps.add_argument("--max", default=None, help="range upper bound (zone-map pruned)")
    ps.add_argument(
        "--eq", default=None, help="point lookup (bloom + zone-map pruned)"
    )
    ps.add_argument("--output", required=True)
    ps.set_defaults(fn=cmd_scan)

    def _pred_args(sp):
        sp.add_argument(
            "--range",
            action="append",
            metavar="COL:LO..HI",
            help="range predicate (repeatable; empty LO/HI = open bound; "
            "legacy COL:LO:HI accepted when bounds are colon-free)",
        )
        sp.add_argument(
            "--eq",
            action="append",
            metavar="COL=VALUE",
            help="equality predicate (repeatable; bloom + zone-map pruned)",
        )
        sp.add_argument(
            "--is-null",
            action="append",
            metavar="COL",
            help="IS NULL predicate (repeatable; n_nulls-stat pruned)",
        )

    pw = sub.add_parser("where")
    pw.add_argument("--input", required=True)
    _pred_args(pw)
    pw.add_argument("--columns", default=None, help="projection (comma-sep)")
    pw.add_argument("--output", required=True)
    pw.set_defaults(fn=cmd_where)

    pst = sub.add_parser("stats")
    pst.add_argument("--input", required=True)
    _pred_args(pst)
    pst.set_defaults(fn=cmd_stats)

    pm = sub.add_parser("meta")
    pm.add_argument("--input", required=True)
    pm.set_defaults(fn=cmd_meta)

    pa_ = sub.add_parser("append")
    pa_.add_argument("--input", required=True, help="existing encoded table")
    pa_.add_argument("--source", required=True,
                     help="parquet path or iceberg:<ref> with the new rows")
    pa_.add_argument("--output", required=True)
    pa_.add_argument("--chunk-rows", type=int, default=4096)
    pa_.add_argument("--partitions", type=int, default=None)
    pa_.set_defaults(fn=cmd_append)

    pdel = sub.add_parser("delete")
    pdel.add_argument("--input", required=True)
    _pred_args(pdel)
    pdel.add_argument("--output", required=True)
    pdel.set_defaults(fn=cmd_delete)

    pu = sub.add_parser("update")
    pu.add_argument("--input", required=True)
    _pred_args(pu)
    pu.add_argument("--set", action="append", default=None,
                    metavar="COL=VALUE",
                    help="assignment applied to matching rows (repeatable)")
    pu.add_argument("--set-null", action="append", default=None,
                    metavar="COL", help="null out this column on matching rows")
    pu.add_argument("--output", required=True)
    pu.set_defaults(fn=cmd_update)

    pc = sub.add_parser("compact")
    pc.add_argument("--input", required=True, help="encoded table path")
    pc.add_argument("--output", required=True)
    pc.add_argument("--min-rows", type=int, default=1024,
                    help="chunks under this row count are runts to merge")
    pc.add_argument("--target-rows", type=int, default=4096,
                    help="merged-chunk row target")
    pc.set_defaults(fn=cmd_compact)

    pv = sub.add_parser("verify")
    pv.add_argument("--input", required=True)
    pv.set_defaults(fn=cmd_verify)

    args = p.parse_args(argv)
    try:
        return args.fn(args)
    except ValueError as e:  # the engine's input errors: a bad literal, dtype, meta/ ...
        print(f"error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
