"""Streaming-path micro-bench (round-5 VERDICT item 6).

The batch pipeline's throughput is measured every round by bench.py;
the STREAMING path (`encode_stream` foreachBatch appends, and
`dedup_stream`'s state-store dedup) had no perf evidence — its scale
story was asserted, not measured.  This bench measures:

* **stream encode**: rows/s and content-MB/s through the foreachBatch
  encode+manifest append, across several micro-batches (file source,
  maxFilesPerTrigger=1 so every staged file is its own micro-batch —
  the shape a real ingest tail sees).
* **stream dedup at two state sizes** (small and 8x): rows/s plus the
  per-batch trigger durations and the state-store row count from
  `StreamingQueryProgress`.  The thing to demonstrate is that
  per-batch cost does NOT grow with accumulated state (the state store
  is hash-partitioned; lookup is O(batch), not O(state)) — so the
  LAST batch of the big run should cost about the same as the first.

Deterministic synthetic input (spark.range + hash-derived text,
~230 content bytes/row, 50% duplicate keys); no external data.

Usage: python scripts/streaming_bench.py [small_rows]
Prints ONE JSON line; paste the summary into BENCH/BASELINE.md's
manual-notes tail (this script does not rewrite that file).

Env: SPARK_GRAFT_CPUS (default 8), STREAM_BENCH_BATCHES (default 8).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from parquetjs_spark.sources.tables import get_spark
from parquetjs_spark.streaming import dedup_stream, encode_stream

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
BATCHES = int(os.environ.get("STREAM_BENCH_BATCHES", "8"))
SMALL_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
BIG_ROWS = SMALL_ROWS * 8


def make_docs(spark, rows: int):
    """Deterministic documents: 50% of rows are duplicates (key space =
    rows/2), ~230 bytes of key-derived text each."""
    return (
        spark.range(rows)
        .withColumn("doc_id", F.col("id"))
        .withColumn("key_id", F.col("id") % (rows // 2))
        .withColumn(
            "text",
            F.concat(
                F.lit("document "),
                F.col("key_id").cast("string"),
                F.lit(" "),
                F.repeat(F.sha2(F.col("key_id").cast("string"), 256), 4),
            ),
        )
        .drop("id", "key_id")
    )


def stage(df, path: str, files: int) -> None:
    df.repartition(files).write.mode("overwrite").parquet(path)


def drain(q, timeout_s: int = 900) -> list[dict]:
    """await availableNow termination; return recentProgress dicts."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError("stream did not drain in time")
    return [json.loads(p.json) for p in q.recentProgress]


def batch_stats(progress: list[dict]) -> dict:
    rows_batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    durs = [p["durationMs"]["triggerExecution"] / 1e3 for p in rows_batches]
    state_rows = 0
    for p in reversed(rows_batches):
        ops = p.get("stateOperators") or []
        if ops:
            state_rows = ops[0].get("numRowsTotal", 0)
            break
    return {
        "batches": len(rows_batches),
        "batch_sec_first": round(durs[0], 2) if durs else None,
        "batch_sec_last": round(durs[-1], 2) if durs else None,
        "batch_sec_max": round(max(durs), 2) if durs else None,
        "state_rows_final": state_rows,
    }


def bench_dedup(spark, rows: int, workdir: str) -> dict:
    src = os.path.join(workdir, f"dedup_in_{rows}")
    out = os.path.join(workdir, f"dedup_out_{rows}")
    ck = os.path.join(workdir, f"dedup_ck_{rows}")
    df = make_docs(spark, rows)
    stage(df, src, BATCHES)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    t0 = time.perf_counter()
    q = dedup_stream(stream, out, ck, key_cols=("text",), trigger_once=True)
    progress = drain(q)
    wall = time.perf_counter() - t0
    kept = spark.read.parquet(out).count()
    assert kept == rows // 2, f"dedup kept {kept}, want {rows // 2}"
    return {
        "rows_in": rows,
        "rows_kept": kept,
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows / wall),
        **batch_stats(progress),
    }


def bench_encode(spark, rows: int, workdir: str) -> dict:
    src = os.path.join(workdir, "enc_in")
    out = os.path.join(workdir, "enc_out")
    ck = os.path.join(workdir, "enc_ck")
    df = make_docs(spark, rows)
    stage(df, src, BATCHES)
    content_b = (
        spark.read.parquet(src)
        .select(F.sum(F.octet_length("text")).alias("b"))
        .collect()[0]["b"]
    )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    t0 = time.perf_counter()
    q = encode_stream(stream, out, ck, trigger_once=True)
    progress = drain(q)
    wall = time.perf_counter() - t0

    from parquetjs_spark import pipeline

    manifest = pipeline.read_manifest(spark, out)
    n = (
        manifest.where(F.col("column") == "text")
        .agg(F.sum("n").alias("n"))
        .collect()[0]["n"]
    )
    assert n == rows, f"manifest rows {n}, want {rows}"
    return {
        "rows_in": rows,
        "content_mb": round(content_b / 1e6, 1),
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows / wall),
        "content_mb_s": round(content_b / 1e6 / wall, 1),
        **batch_stats(progress),
    }


def main():
    workdir = tempfile.mkdtemp(prefix="stream_bench_")
    spark = get_spark("streaming_bench", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # warm-up: one tiny stream drains the one-time stream-planner
        # and sink setup cost out of the measured runs
        bench_dedup(spark, 4096, workdir)
        result = {
            "cpus": CPUS,
            "micro_batches": BATCHES,
            "encode_stream": bench_encode(spark, SMALL_ROWS, workdir),
            "dedup_stream_small": bench_dedup(spark, SMALL_ROWS, workdir),
            "dedup_stream_8x_state": bench_dedup(spark, BIG_ROWS, workdir),
        }
        print(json.dumps(result))
    finally:
        spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
