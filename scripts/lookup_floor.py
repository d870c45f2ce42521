"""Where a driver-path point lookup's time goes.

A ``scan_eq`` with ``columns`` on a ``read_encoded`` table whose kept row
groups hold at most ``pipeline._LOCAL_SCAN_BYTES`` encoded bytes runs no
Spark job: the driver prunes, reads, decodes and filters the row groups
itself and hands the rows to the JVM in one ``pipeline._local_frame``.  This
script encodes one seeded encbench table (``encbench/inputs.py``, the
benchmark's session and columns) into a temporary directory, reads it
back with ``read_encoded`` and runs ``--warmup`` then ``--runs`` lookups
of ``scan_eq(key, columns=<the workload's lookup columns>).collect()``
on distinct keys.  It reports medians per lookup of:

* ``round_trips``: Py4J gateway calls (``send_command``) from
  ``scan_eq`` through ``collect``, and the share of them in each phase
  below (``round_trips_by_phase``);
* ``prune_ms``: the call's one column resolution, the predicate specs
  and the driver keep-set (``_meta_rows_for``, ``_predicate_specs``,
  ``_kept_groups``);
* ``read_ms``: reading the kept blob rows with pyarrow (``_read_kept_blobs``);
* ``decode_ms``: row-group reassembly and the residual (``_assemble_row_group``);
* ``handoff_ms``: handing the decoded rows to the JVM (``_local_frame``:
  4 round trips on pyspark 4.1.2, or ``createDataFrame`` where it
  falls back);
* ``collect_ms``: the caller's ``collect``;
* ``other_ms``: the rest of the lookup (layout, plan building);
* ``total_ms``: the whole lookup, as encbench's ``lookup`` phase times it.

Every lookup must run on the driver: the script fails if one runs a
Spark job or returns no row.

Usage: python scripts/lookup_floor.py [--workload source_read|lineitem_roundtrip]
                                      [--seed 1] [--cores 4] [--runs 40] [--warmup 5]
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the engine too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import numpy as np  # noqa: E402
from py4j import clientserver  # noqa: E402

from encbench import inputs, sparkstats  # noqa: E402
from parquetjs_spark import pipeline  # noqa: E402

# workload -> (table maker, rows, columns, key, lookup columns), as encbench runs it
WORKLOADS = {
    "source_read": (
        inputs.source_table, 32768, inputs.SOURCE_COLUMNS, "commit", ["repo", "path", "content"]
    ),
    "lineitem_roundtrip": (
        inputs.lineitem_table, 150_000, inputs.LINEITEM_COLUMNS, "l_orderkey",
        [c for c in inputs.LINEITEM_COLUMNS if c != "l_orderkey"],
    ),
}
PHASES = {
    "prune": [
        (pipeline, "_meta_rows_for"), (pipeline, "_predicate_specs"), (pipeline, "_kept_groups")
    ],
    "read": [(pipeline, "_read_kept_blobs")],
    "decode": [(pipeline, "_assemble_row_group")],
    "handoff": [(pipeline, "_local_frame")],
}


class Meter:
    """Wall time and Py4J round trips, per phase, of the current lookup."""

    def __init__(self):
        self.calls = 0
        self.ms: dict[str, float] = defaultdict(float)
        self.trips: dict[str, int] = defaultdict(int)

    def wrap(self, phase: str, fn):
        def timed(*args, **kw):
            calls, t0 = self.calls, time.perf_counter()
            try:
                return fn(*args, **kw)
            finally:
                self.ms[phase] += (time.perf_counter() - t0) * 1000.0
                self.trips[phase] += self.calls - calls

        return timed

    def reset(self) -> None:
        self.calls = 0
        self.ms.clear()
        self.trips.clear()


def _install(meter: Meter) -> None:
    send = clientserver.ClientServerConnection.send_command

    def counted(conn, command, *args, **kw):
        meter.calls += 1
        return send(conn, command, *args, **kw)

    clientserver.ClientServerConnection.send_command = counted
    for phase, targets in PHASES.items():
        for owner, name in targets:
            setattr(owner, name, meter.wrap(phase, getattr(owner, name)))


def _median(xs) -> float:
    return round(statistics.median(xs), 2)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), default="source_read")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--runs", type=int, default=40)
    ap.add_argument("--warmup", type=int, default=5)
    args = ap.parse_args()
    build, rows, columns, key, out_cols = WORKLOADS[args.workload]
    table = build(args.seed, rows)
    keys = np.unique(table.column(key).to_numpy(zero_copy_only=False))
    picks = np.random.default_rng([args.seed, 1]).choice(
        keys, size=args.warmup + args.runs, replace=False
    ).tolist()
    run_dir = tempfile.mkdtemp(prefix="lookup_floor_")
    spark = sparkstats.make_session(args.cores, run_dir)
    sc = spark.sparkContext
    meter = Meter()
    samples: dict[str, list[float]] = defaultdict(list)
    try:
        path = os.path.join(run_dir, "table")
        df = spark.createDataFrame(table)
        pipeline.write_encoded(pipeline.encode_columns(df, columns), path)
        blobs = pipeline.read_encoded(spark, path)
        _install(meter)
        sc.setJobGroup("lookups", "lookups")
        for i, k in enumerate(picks):
            meter.reset()
            t0 = time.perf_counter()
            scan = pipeline.scan_eq(blobs, key, k, columns=out_cols)
            calls, t1 = meter.calls, time.perf_counter()
            got = scan.collect()
            t2 = time.perf_counter()
            if not got:
                raise RuntimeError(f"lookup of {k!r} returned no row")
            if i < args.warmup:
                continue
            total, collect = (t2 - t0) * 1000.0, (t2 - t1) * 1000.0
            samples["round_trips"].append(meter.calls)
            samples["collect_round_trips"].append(meter.calls - calls)
            samples["total_ms"].append(total)
            samples["collect_ms"].append(collect)
            for phase in PHASES:
                samples[f"{phase}_ms"].append(meter.ms[phase])
                samples[f"{phase}_round_trips"].append(meter.trips[phase])
            samples["other_ms"].append(total - collect - sum(meter.ms[p] for p in PHASES))
        sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup("lookups"))
        if jobs:
            raise RuntimeError(f"the lookups ran Spark jobs {jobs}: not the driver path")
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    trips = {p: _median(samples[f"{p}_round_trips"]) for p in PHASES}
    trips["collect"] = _median(samples["collect_round_trips"])
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "cores": args.cores,
        "runs": args.runs,
        "lookup_columns": len(out_cols),
        "round_trips": _median(samples["round_trips"]),
        "round_trips_by_phase": trips,
        **{f"{p}_ms": _median(samples[f"{p}_ms"]) for p in PHASES},
        "collect_ms": _median(samples["collect_ms"]),
        "other_ms": _median(samples["other_ms"]),
        "total_ms": _median(samples["total_ms"]),
    }))


if __name__ == "__main__":
    main()
