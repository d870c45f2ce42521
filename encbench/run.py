#!/usr/bin/env python3
"""Encode-engine benchmark: one seeded workload per run.

    python3 encbench/run.py --workload source_ingest --seed 1 --seconds 10 --trace 0

Workloads: source_ingest, lineitem_roundtrip, source_read (see README.md).
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with Spark stage metrics collected per pipeline call, then an
in-process traced replay, and reports the per-layer metrics.  The last
line of standard output is the result,
``{"correct", "attempted", "failed", "metrics"}``; the full run record
(inputs digest, codec mix, raw timings, environment) goes to
``.encbench/results/`` and the trace spans next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow
import pyspark
from pyspark import SparkContext
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MAX_CORES = 4

# input sizes and op counts; "smoke" keeps the self-test fast
SCALES = {
    "full": {
        "source_rows": 32768,
        "lineitem_rows": 150_000,
        "setup_reps": 3,
        "min_rounds": 3,
        "lookups": 4,
        "lookups_read": 40,
        "lookups_per_round": 14,
        "replay_groups": 20,
    },
    "smoke": {
        "source_rows": 2048,
        "lineitem_rows": 20_000,
        "setup_reps": 1,
        "min_rounds": 1,
        "lookups": 2,
        "lookups_read": 3,
        "lookups_per_round": 3,
        "replay_groups": 2,
    },
}

END_TO_END = {
    "setup_s": "s",
    "encode_mb_s": "MB/s",
    "decode_mb_s": "MB/s",
    "verify_mb_s": "MB/s",
    "lookup_p50_ms": "ms",
    "lookup_p75_ms": "ms",
    "size_ratio": "ratio",
    "content_vs_parquetjs_gzip": "ratio",
    "peak_rss_mb": "MB",
}

CODECS = ["PLAIN", "RLE", "DICT_RLE", "FOR_BITPACK", "FSST", "FLBA",
          "BYTE_STREAM_SPLIT", "INCREMENTAL"]
COMPRESSIONS = ["UNCOMPRESSED", "ZSTD", "ZLIB"]

PER_LAYER = {
    "sources.generate_batch.s": "s",
    "pipeline.encode_columns.wall_s": "s",
    "pipeline.encode_columns.executor_cpu_s": "s",
    "pipeline.encode_columns.gc_s": "s",
    "pipeline.write_encoded.wall_s": "s",
    "pipeline.write_encoded.jobs": "count",
    "pipeline.write_encoded.executor_cpu_s": "s",
    "pipeline.write_encoded.output_mb": "MB",
    "pipeline.write_encoded.cpu_vs_encode": "ratio",
    "pipeline.decode_table.wall_s": "s",
    "pipeline.decode_table.executor_cpu_s": "s",
    "pipeline.decode_table.shuffle_write_mb": "MB",
    "pipeline.decode_table.shuffle_read_mb": "MB",
    "pipeline.verify_blobs.wall_s": "s",
    "pipeline.verify_blobs.executor_cpu_s": "s",
    "pipeline.scan_eq.jobs": "count",
    "pipeline.scan_eq.stages": "count",
    "pipeline.scan_eq.executor_cpu_ms": "ms",
    "pipeline.scan_eq.driver_gap_ms": "ms",
    "pipeline.scan_eq.chunks_kept": "count",
    "pipeline.scan_eq.chunks_total": "count",
    "arrow_chunk.encode_arrow_column.calls": "count",
    "arrow_chunk.encode_arrow_column.self_s": "s",
    "arrow_chunk.decode_arrow_column.calls": "count",
    "arrow_chunk.decode_arrow_column.self_s": "s",
    "arrow_chunk.verify_arrow.calls": "count",
    "arrow_chunk.verify_arrow.self_s": "s",
    "chunk.selector.calls": "count",
    "chunk.selector.s": "s",
    "chunk.selector.cache_hit_ratio": "ratio",
    **{f"chunk.codec.{c}.chunks": "count" for c in CODECS},
    **{f"chunk.compression.{c}.chunks": "count" for c in COMPRESSIONS},
    "codecs.compress.auto_compress.s": "s",
    "codecs.compress.auto_compress.mb_in": "MB",
    "codecs.compress.size_estimate.s": "s",
    "codecs.compress.size_estimate.mb_in": "MB",
    "codecs.compress.trial_bytes_ratio": "ratio",
    "codecs.compress.decompress.s": "s",
    "codecs.fsst.train.s": "s",
    "codecs.fsst.train.calls": "count",
    "codecs.fsst.compress.s": "s",
    "codecs.fsst.compress.mb_in": "MB",
    "codecs.fsst.decompress.s": "s",
    "codecs.bloom.s": "s",
    **{
        f"codecs.{m}.{d}_s": "s"
        for m in ("rle", "dictionary", "for_bp", "bss")
        for d in ("encode", "decode")
    },
    "codecs.util.pack_bits.s": "s",
    "trace.replay_untraced_s": "s",
    "trace.overhead_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    return args


def _stop_session(spark, procs) -> None:
    """Stop Spark, its JVM and every Python worker, and wait for them."""
    kids = procs.descendant_pids()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 15
    while kids and time.time() < deadline:
        kids = [p for p in kids if procs.alive(p)]
        time.sleep(0.1)
    for pid in kids:
        procs.kill(pid)


def _per_layer(wl, calls, rollup, replay_walls) -> dict[str, float]:
    m: dict[str, float] = {"sources.generate_batch.s": wl.generate_s}
    for call, keys in (
        ("encode_columns", ("wall_s", "executor_cpu_s", "gc_s")),
        ("write_encoded", ("wall_s", "jobs", "executor_cpu_s", "output_mb")),
        ("decode_table", ("wall_s", "executor_cpu_s", "shuffle_write_mb", "shuffle_read_mb")),
        ("verify_blobs", ("wall_s", "executor_cpu_s")),
        ("scan_eq", ("jobs", "stages")),
        ("scan_stats", ("chunks_kept", "chunks_total")),
    ):
        for k in keys:
            name = "scan_eq" if call == "scan_stats" else call
            m[f"pipeline.{name}.{k}"] = calls.median(call, k)
    enc_cpu = calls.median("encode_columns", "executor_cpu_s")
    m["pipeline.write_encoded.cpu_vs_encode"] = (
        calls.median("write_encoded", "executor_cpu_s") / enc_cpu if enc_cpu else 0.0
    )
    m["pipeline.scan_eq.executor_cpu_ms"] = 1e3 * calls.median("scan_eq", "executor_cpu_s")
    m["pipeline.scan_eq.driver_gap_ms"] = 1e3 * calls.median("scan_eq", "driver_gap_s")

    def r(name):
        return rollup.get(name, {"calls": 0, "s": 0.0, "self_s": 0.0, "n": 0})

    for fn in ("encode_arrow_column", "decode_arrow_column", "verify_arrow"):
        m[f"arrow_chunk.{fn}.calls"] = r(f"arrow_chunk.{fn}")["calls"]
        m[f"arrow_chunk.{fn}.self_s"] = r(f"arrow_chunk.{fn}")["self_s"]
    sel = r("chunk.selector")
    m["chunk.selector.calls"] = sel["calls"]
    m["chunk.selector.s"] = sel["s"]
    m["chunk.selector.cache_hit_ratio"] = sel["n"] / sel["calls"] if sel["calls"] else 0.0
    codecs, comps = wl.codec_mix()
    for c in CODECS:
        m[f"chunk.codec.{c}.chunks"] = codecs.get(c, 0)
    for c in COMPRESSIONS:
        m[f"chunk.compression.{c}.chunks"] = comps.get(c, 0)
    auto, trial = r("codecs.compress.auto_compress"), r("codecs.compress.size_estimate")
    m["codecs.compress.auto_compress.s"] = auto["s"]
    m["codecs.compress.auto_compress.mb_in"] = auto["n"] / 1e6
    m["codecs.compress.size_estimate.s"] = trial["s"]
    m["codecs.compress.size_estimate.mb_in"] = trial["n"] / 1e6
    m["codecs.compress.trial_bytes_ratio"] = trial["n"] / auto["n"] if auto["n"] else 0.0
    m["codecs.compress.decompress.s"] = r("codecs.compress.decompress")["s"]
    m["codecs.fsst.train.s"] = r("codecs.fsst.train")["s"]
    m["codecs.fsst.train.calls"] = r("codecs.fsst.train")["calls"]
    m["codecs.fsst.compress.s"] = r("codecs.fsst.compress")["s"]
    m["codecs.fsst.compress.mb_in"] = r("codecs.fsst.compress")["n"] / 1e6
    m["codecs.fsst.decompress.s"] = r("codecs.fsst.decompress")["s"]
    m["codecs.bloom.s"] = r("codecs.bloom")["s"]
    for mod in ("rle", "dictionary", "for_bp", "bss"):
        for d in ("encode", "decode"):
            m[f"codecs.{mod}.{d}_s"] = r(f"codecs.{mod}.{d}")["s"]
    m["codecs.util.pack_bits.s"] = r("codecs.util.pack_bits")["s"]
    m["trace.replay_untraced_s"] = replay_walls[0]
    m["trace.overhead_s"] = replay_walls[1] - replay_walls[0]
    return m


def _traced_extras(wl, calls, tracer, cores, replay_groups):
    """Per-layer only: encode-only jobs (the base of cpu_vs_encode),
    pruning counts, and the in-process replay, untraced then traced."""
    from parquetjs_spark import pipeline

    from encbench import tracing

    for _ in range(2):
        wl.ops.run(
            "encode_only",
            lambda: calls.measure(
                "encode_columns",
                lambda: pipeline.encode_summary(
                    pipeline.encode_columns(wl.df, wl.columns, codec="auto")
                ).collect(),
            ),
            keep=False,
        )
    for key in wl.keys[:3]:
        def stats(key=key):
            rows = calls.measure(
                "scan_stats",
                lambda: pipeline.scan_stats(wl.blobs, eqs={wl.key: key}).collect(),
            )
            calls.calls[-1].update(
                chunks_kept=rows[0]["chunks_kept"], chunks_total=rows[0]["chunks_total"]
            )
            return rows

        wl.ops.run("scan_stats", stats, lambda rows: rows[0]["chunks_kept"] >= 1, keep=False)

    dtypes = {f.name: pipeline.logical_dtype(f.dataType) for f in wl.df.schema.fields}
    parts = tracing.partitions(wl.rows, cores)
    p = int(np.random.default_rng([wl.seed, 2]).integers(len(parts)))
    lo, hi = parts[p]
    hi = min(hi, lo + replay_groups * pipeline.DEFAULT_CHUNK_ROWS)
    walls = []
    tracing.replay(wl.table, dtypes, lo, hi)  # warm: first touch of fresh memory
    for traced in (False, True):
        t0 = time.perf_counter()
        if traced:
            with tracer:
                out = tracing.replay(wl.table, dtypes, lo, hi)
        else:
            out = tracing.replay(wl.table, dtypes, lo, hi)
        walls.append(time.perf_counter() - t0)
    manifest = {
        (r["chunk_seq"], r["column"]): (r["codec"], r["compression"], r["encoded_bytes"])
        for r in pipeline.read_manifest(wl.spark, wl.out_path)
        .where(F.col("part_id") == p)
        .collect()
    }
    mismatches = sum(
        manifest.get((seq, col)) != (codec, comp, size)
        for seq, col, codec, comp, size in out["chunks"]
    )
    return walls, {"partition": p, "rows": [lo, hi], "verify_failures": out["verify_failures"],
                   "manifest_mismatches": mismatches}


def run(args) -> dict:
    from encbench import inputs, sparkstats, tracing, workloads
    from encbench.workloads import median

    scale = SCALES["smoke" if args.smoke else "full"]
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    bench_dir = os.path.join(ROOT, ".encbench")
    run_dir = os.path.join(bench_dir, f"run-{os.getpid()}")
    results_dir = os.path.join(bench_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    steal0, t_run = sparkstats.steal_s(), time.perf_counter()
    wl = workloads.Workload(args.workload, args.seed, scale, run_dir)
    procs = sparkstats.ProcTree()
    tracer = tracing.Tracer(run_id)
    spark = None
    try:
        # the parquetjs reference size needs only the input: compute it
        # while the JVM starts, so it overlaps no timed phase
        with ThreadPoolExecutor(max_workers=1) as pool:
            ref_gzip = pool.submit(wl.reference_gzip_bytes, cores)
            t_session = time.perf_counter()
            spark = sparkstats.make_session(cores, run_dir)
            session_s = time.perf_counter() - t_session
            ref_gzip = ref_gzip.result()
        procs.start()
        calls = sparkstats.SparkCalls(spark, procs, enabled=bool(args.trace))
        wl.setup(spark, calls)
        wl.run(args.seconds)
        extras = {}
        if args.trace:
            walls, extras = _traced_extras(wl, calls, tracer, cores, scale["replay_groups"])
            calls.collect()
        sizes = wl.sizes(ref_gzip)
        samples = wl.ops.samples
        lat = [1e3 * x for x in samples["lookup"]]
        p50, p75 = np.percentile(lat, [50, 75]).tolist() if lat else [0.0, 0.0]

        def mb_s(phase):
            return wl.content_mb / median(samples[phase]) if samples[phase] else 0.0

        e2e = {
            "setup_s": median(wl.setup_s),
            "encode_mb_s": mb_s("encode"),
            "decode_mb_s": mb_s("decode"),
            "verify_mb_s": mb_s("verify"),
            "lookup_p50_ms": p50,
            "lookup_p75_ms": p75,
            "size_ratio": sizes["size_ratio"],
            "content_vs_parquetjs_gzip": sizes["content_vs_parquetjs_gzip"],
            "peak_rss_mb": procs.peak_rss / 1e6,
        }
        layer = _per_layer(wl, calls, tracer.rollup(), walls) if args.trace else {}
        input_partitions = wl.df.rdd.getNumPartitions()
    finally:
        procs.stop()
        wl.close()
        if spark is not None:
            _stop_session(spark, procs)
        shutil.rmtree(run_dir, ignore_errors=True)
    codecs, comps = wl.codec_mix()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "scale": scale,
        "input_digest": inputs.digest(wl.table),
        "rows": wl.rows,
        "content_mb": wl.content_mb,
        "codec_mix": codecs,
        "compression_mix": comps,
        "sizes": sizes,
        "end_to_end": e2e,
        "per_layer": layer,
        "attempted": wl.ops.attempted,
        "failed": wl.ops.failed,
        "errors": wl.ops.errors,
        "samples_s": dict(samples),
        "setup_reps_s": wl.setup_s,
        "host_probe_s": wl.probe_s,
        "rounds": wl.rounds,
        "stage_s": wl.stage_s,
        "replay": extras,
        "pipeline_calls": calls.calls,
        "env": {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": np.__version__,
            "nproc": nproc,
            "master": f"local[{cores}]",
            "shuffle_partitions": cores,
            "input_partitions": input_partitions,
            "session_start_s": session_s,
            "run_wall_s": time.perf_counter() - t_run,
            "steal_s": sparkstats.steal_s() - steal0,
            "peak_python_rss_mb": procs.peak_python_rss / 1e6,
        },
    }
    with open(os.path.join(results_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        for c in calls.calls:
            tracer.add(f"pipeline.{c['name']}", c["start"], c["end"],
                       **{k: v for k, v in c.items() if k not in ("name", "start", "end")})
        tracer.write(os.path.join(results_dir, f"{run_id}.spans.jsonl"))
    return record


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import parquetjs_spark.pipeline  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"encbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    record = run(args)
    units = PER_LAYER if args.trace else END_TO_END
    values = record["per_layer"] if args.trace else record["end_to_end"]
    print(f"# {record['workload']} seed={record['seed']} rows={record['rows']} "
          f"content_mb={record['content_mb']:.2f} {record['env']['master']} "
          f"steal_s={record['env']['steal_s']:.2f}")
    for name, unit in units.items():
        print(f"#   {name:<44} {values[name]:>14.6g} {unit}")
    err = record["failed"] / record["attempted"]
    print(f"#   {'error_rate':<44} {err:>14.6g} ratio "
          f"({record['failed']}/{record['attempted']} ops)")
    for e in record["errors"][:20]:
        print(f"# error: {e}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
