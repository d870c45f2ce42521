"""The per-stage Python worker floor of a local session.

Every Spark job with a Python stage pays a fixed cost before the UDF
sees its first batch.  Part of it is PySpark's own
``importlib.invalidate_caches()`` at the start of each task, which on
CPython < 3.13 makes every cached ``zipimporter`` re-read its archive
(``parquetjs_spark/worker.py``); engine stages drop those finders.  This
script measures, with medians over ``--runs`` runs after ``--warmup``
runs:

* ``jvm_job_ms``: a JVM-only job (``spark.range`` into the noop sink);
* ``noop_stage_ms``: a no-op ``mapInArrow`` over ``spark.range(--tasks)``;
* ``task_cpu_ms``: the CPU one no-op task costs its reused worker
  (the rise of the worker's process CPU between two of its tasks);
* ``zip_finders``: the ``zipimporter`` finders a worker holds when a
  task's body starts;
* ``invalidate_ms``: the CPU one ``importlib.invalidate_caches()``
  costs a worker;

the last four both before and after one engine stage
(``encode_columns`` over 8 x cores partitions, enough to reach every
idle worker).

Then, on each seed-1 encbench table (``lineitem`` and ``source``,
written with ``encode_columns`` + ``write_encoded`` and opened with
``read_encoded``), with AQE off and one shuffle partition per core as
in the benchmark session, the per-job floor of the calls over it
(``blobs`` in the output):

* ``jvm_ms``: a JVM-only job over the blobs (the summed length of every
  binary column);
* ``noop_map_ms``: a no-op ``mapInArrow`` over the blobs;
* ``noop_grouped_ms``: a no-op ``groupBy(part_id, chunk_seq).applyInArrow``;
* ``decode_ms``: ``decode_table`` into the noop sink;
* ``verify_ms``: ``verify_blobs`` into the noop sink.

It uses only the public pipeline API, so it runs on any commit with
the same figures.

Usage: python scripts/stage_floor.py [--cores 4] [--tasks 4] [--runs 10] [--warmup 2]
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the engine too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from encbench import inputs  # noqa: E402
from parquetjs_spark import pipeline  # noqa: E402
from parquetjs_spark.sources.tables import get_spark  # noqa: E402


def _task_state(batches):
    """A no-op Arrow UDF: this worker's pid, its zipimporter finders
    when the body starts, and its process CPU seconds."""
    import os
    import sys
    import time
    import zipimport

    import pyarrow as pa

    finders = sys.path_importer_cache.values()
    zips = sum(isinstance(f, zipimport.zipimporter) for f in finders)
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "zips": [zips], "cpu": [time.process_time()]}
    )


def _invalidate_cost(batches):
    """The CPU seconds one importlib.invalidate_caches() costs this worker."""
    import importlib
    import time

    import pyarrow as pa

    t0 = time.process_time()
    importlib.invalidate_caches()
    cpu = time.process_time() - t0
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"cpu": [cpu]})


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return (time.perf_counter() - t0) * 1000.0, out


def _median(xs) -> float | None:
    return round(statistics.median(xs), 2) if xs else None


def _noop_stats(spark, tasks: int, runs: int, warmup: int) -> dict:
    src = spark.range(0, tasks, numPartitions=tasks)
    stage = src.mapInArrow(_task_state, "pid long, zips long, cpu double")
    walls, rows = [], []
    for i in range(warmup + runs):
        wall, got = _timed(stage.collect)
        if i >= warmup:
            walls.append(wall)
            rows.extend(got)
    # a worker's process CPU only rises: sorted per pid, consecutive
    # readings bracket exactly one of its tasks
    by_pid: dict[int, list[float]] = {}
    for r in sorted(rows, key=lambda r: r.cpu):
        by_pid.setdefault(r.pid, []).append(r.cpu)
    task_cpu = [(b - a) * 1000.0 for cpus in by_pid.values() for a, b in zip(cpus, cpus[1:])]
    inval = src.mapInArrow(_invalidate_cost, "cpu double").collect()
    return {
        "noop_stage_ms": _median(walls),
        "task_cpu_ms": _median(task_cpu),
        "zip_finders": _median([r.zips for r in rows]),
        "invalidate_ms": _median([r.cpu * 1000.0 for r in inval]),
        "workers": len(by_pid),
    }


def _noop_batches(batches):
    """A no-op Arrow UDF: the rows it saw."""
    import pyarrow as pa

    n = sum(b.num_rows for b in batches)
    yield pa.RecordBatch.from_pydict({"n": [n]})


def _noop_group(group):
    """A no-op grouped Arrow UDF: the group's row count."""
    import pyarrow as pa

    return pa.table({"n": [group.num_rows]})


def _blob_floor(spark, tables: dict, cores: int, runs: int, warmup: int) -> dict:
    """Medians of the per-job calls over each table's blobs, in ms, in
    the benchmark session's shuffle settings (AQE off, one shuffle
    partition per core)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        for name, (table, columns) in tables.items():
            df = spark.createDataFrame(table).cache()
            df.count()
            path = os.path.join(tmp, name)
            pipeline.write_encoded(pipeline.encode_columns(df, columns, codec="auto"), path)
            blobs = pipeline.read_encoded(spark, path)
            binary = [f.name for f in blobs.schema.fields if isinstance(f.dataType, T.BinaryType)]
            noop = lambda d: d.write.format("noop").mode("overwrite").save()
            calls = {
                "jvm_ms": lambda: blobs.agg(*[F.sum(F.length(c)) for c in binary]).collect(),
                "noop_map_ms": lambda: blobs.mapInArrow(_noop_batches, "n long").collect(),
                "noop_grouped_ms": lambda: blobs.groupBy("part_id", "chunk_seq")
                .applyInArrow(_noop_group, "n long")
                .collect(),
                "decode_ms": lambda: noop(pipeline.decode_table(blobs)),
                "verify_ms": lambda: noop(pipeline.verify_blobs(blobs)),
            }
            out[name] = {
                key: _median([_timed(fn)[0] for _ in range(warmup + runs)][warmup:])
                for key, fn in calls.items()
            }
            df.unpersist()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--tasks", type=int, default=4)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--warmup", type=int, default=2)
    args = ap.parse_args()
    spark = get_spark("stage_floor", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm = spark.range(0, 1 << 20, numPartitions=args.tasks).write.format("noop").mode("overwrite")
        walls = [_timed(jvm.save)[0] for _ in range(args.warmup + args.runs)][args.warmup:]
        before = _noop_stats(spark, args.tasks, args.runs, args.warmup)
        src = spark.range(0, 8192 * args.cores, numPartitions=8 * args.cores).toDF("k")
        encode = pipeline.encode_columns(src, chunk_rows=1024).write.format("noop").mode("overwrite")
        engine_ms, _ = _timed(encode.save)
        after = _noop_stats(spark, args.tasks, args.runs, args.warmup)
        tables = {
            "lineitem": (inputs.lineitem_table(1, 150_000), inputs.LINEITEM_COLUMNS),
            "source": (inputs.source_table(1, 32768), inputs.SOURCE_COLUMNS),
        }
        blobs = _blob_floor(spark, tables, args.cores, args.runs, args.warmup)
    finally:
        spark.stop()
    print(json.dumps({
        "python": sys.version.split()[0],
        "cores": args.cores,
        "tasks": args.tasks,
        "runs": args.runs,
        "jvm_job_ms": _median(walls),
        "engine_stage_ms": round(engine_ms, 2),
        "before": before,
        "after": after,
        "blobs": blobs,
    }))


if __name__ == "__main__":
    main()
