"""The three workloads, driven through the engine's public pipeline API.

Every operation is counted: an exception or a failed correctness gate is
a failure, never a crash, and only successful operations contribute
timings.
"""

from __future__ import annotations

import shutil
import statistics
import time
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from parquetjs_spark import pipeline

from . import inputs

WORKLOADS = ("source_ingest", "lineitem_roundtrip", "source_read")


class Ops:
    """Attempted/failed counts and per-phase timings of successful ops."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.errors: list[str] = []

    def run(self, phase: str, work, check=lambda out: True, keep=True) -> bool:
        """Time ``work()``, then judge its output with ``check`` untimed."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = work()
            dt = time.perf_counter() - t0
            ok = bool(check(out))
            if not ok:
                self.errors.append(f"{phase}: gate failed")
        except Exception as e:  # counted, reported, and the run goes on
            ok = False
            self.errors.append(f"{phase}: {type(e).__name__}: {str(e)[:300]}")
        if not ok:
            self.failed += 1
        elif keep:
            self.samples[phase].append(dt)
        return ok


class Workload:
    """One workload's table, its expected answers, and its phases."""

    def __init__(self, name, seed, scale, run_dir):
        if name not in WORKLOADS:
            raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
        self.name = name
        self.seed = seed
        self.scale = scale
        self.out_path = f"{run_dir}/out"
        self.ops = Ops()
        self.setup_s: list[float] = []
        self.probe_s: list[float] = []
        self.stage_s: dict[str, float] = {}
        self.df = None
        self.blobs = None
        self.manifest: list = []
        t0 = time.perf_counter()
        if name == "lineitem_roundtrip":
            self.table = inputs.lineitem_table(seed, scale["lineitem_rows"])
            self.columns = inputs.LINEITEM_COLUMNS
            self.content_columns = inputs.LINEITEM_COLUMNS
            self.key = "l_orderkey"
            self.lookup_columns = [c for c in self.columns if c != self.key]
        else:
            self.table = inputs.source_table(seed, scale["source_rows"])
            self.columns = inputs.SOURCE_COLUMNS
            self.content_columns = ["content"]
            self.key = "commit"
            self.lookup_columns = ["repo", "path", "content"]
        self.generate_s = time.perf_counter() - t0
        self.rows = self.table.num_rows
        self.content = inputs.content_bytes(self.table)
        self.content_mb = sum(self.content.values()) / 1e6
        self.strings = [
            c for c in self.columns if pa.types.is_string(self.table.schema.field(c).type)
        ]
        rng = np.random.default_rng([seed, 1])
        keys = np.unique(self.table.column(self.key).to_numpy(zero_copy_only=False))
        n_keys = scale["lookups_read"] if name == "source_read" else scale["lookups"]
        self.keys = rng.choice(keys, size=n_keys + 1, replace=False).tolist()

    # ---------------------------------------------------------------- setup

    def _load(self) -> None:
        if self.df is not None:
            self.df.unpersist(blocking=True)
        self.df = self.spark.createDataFrame(self.table).cache()
        if self.df.count() != self.rows:
            raise RuntimeError("input row count mismatch after caching")

    def setup(self, spark, calls) -> None:
        """Cache the input in Spark; source_read also encodes and writes
        the table it will read.  The first repetition warms the JVM and
        the Python workers and is not timed; ``setup_reps`` more follow."""
        self.spark, self.calls = spark, calls
        mark = time.perf_counter()
        for rep in range(1 + self.scale["setup_reps"]):
            t0 = time.perf_counter()
            self._load()
            if self.name == "source_read":
                self.encode_write(keep=rep > 0)
            if rep > 0:
                self.setup_s.append(time.perf_counter() - t0)
        self._expect()
        self.stage_s["setup"] = time.perf_counter() - mark

    def _aggs(self):
        """Per-iteration decode gate: row count, string bytes per column
        and an order-independent sum of 32-bit row hashes."""
        row_hash = F.xxhash64(*[F.col(c) for c in self.columns])
        return (
            [F.count("*")]
            + [F.sum(F.octet_length(c)) for c in self.strings]
            + [F.sum(row_hash.bitwiseAND(F.lit(0xFFFFFFFF)))]
        )

    def _expect(self) -> None:
        """Expected answers, computed from the cached input (untimed)."""
        self.expected_aggs = tuple(self.df.agg(*self._aggs()).first())
        want = defaultdict(Counter)
        rows = (
            self.df.where(F.col(self.key).isin(self.keys))
            .select(self.key, *self.lookup_columns)
            .collect()
        )
        for r in rows:
            want[r[0]][tuple(r[1:])] += 1
        self.expected_lookup = dict(want)

    # --------------------------------------------------------------- phases

    def encode_write(self, keep=True) -> bool:
        def work():
            blobs = pipeline.encode_columns(self.df, self.columns, codec="auto")
            self.calls.measure(
                "write_encoded", lambda: pipeline.write_encoded(blobs, self.out_path)
            )

        def check(_):
            self.blobs = pipeline.read_encoded(self.spark, self.out_path)
            # the manifest is small: read it straight from disk, no Spark job
            m = pq.read_table(
                f"{self.out_path}/manifest",
                columns=["column", "codec", "compression", "n", "content_bytes",
                         "encoded_bytes"],
            )
            self.manifest = (
                m.group_by(["column", "codec", "compression"])
                .aggregate([("n", "count"), ("n", "sum"), ("content_bytes", "sum"),
                            ("encoded_bytes", "sum")])
                .to_pylist()
            )
            for r in self.manifest:
                r["chunks"] = r.pop("n_count")
                for k in ("n", "content_bytes", "encoded_bytes"):
                    r[k] = r.pop(f"{k}_sum")
            n, content = Counter(), Counter()
            for r in self.manifest:
                n[r["column"]] += r["n"]
                content[r["column"]] += r["content_bytes"]
            return all(n[c] == self.rows for c in self.columns) and dict(
                content
            ) == self.content

        return self.ops.run("encode", work, check, keep=keep)

    def decode(self) -> bool:
        work = lambda: self.calls.measure(
            "decode_table",
            lambda: pipeline.decode_table(self.blobs).agg(*self._aggs()).first(),
        )
        return self.ops.run("decode", work, lambda r: tuple(r) == self.expected_aggs)

    def verify(self) -> bool:
        def work():
            return self.calls.measure(
                "verify_blobs",
                lambda: pipeline.verify_blobs(self.blobs).groupBy("ok").count().collect(),
            )

        chunks = sum(r["chunks"] for r in self.manifest)
        return self.ops.run("verify", work, lambda rs: {r[0]: r[1] for r in rs} == {True: chunks})

    def lookup(self, key, keep=True) -> bool:
        def work():
            return self.calls.measure(
                "scan_eq",
                lambda: pipeline.scan_eq(
                    self.blobs, self.key, key, columns=self.lookup_columns
                ).collect(),
            )

        want = self.expected_lookup.get(key)
        return self.ops.run(
            "lookup", work, lambda rows: Counter(map(tuple, rows)) == want, keep=keep
        )

    def content_gate(self) -> bool:
        """Every decoded row's sha256 matches a source row's, as multisets."""

        def hashed(df, sign):
            cells = [F.col(c).cast("string") for c in self.columns]
            return df.select(
                F.sha2(F.concat_ws("\x1f", *cells), 256).alias("h"),
                F.lit(sign).alias("d"),
            )

        def work():
            both = hashed(self.df, 1).unionByName(
                hashed(pipeline.decode_table(self.blobs), -1)
            )
            return both.groupBy("h").agg(F.sum("d").alias("d")).where("d != 0").count()

        return self.ops.run("content_gate", work, lambda bad: bad == 0, keep=False)

    def host_probe(self, reps: int = 4) -> list[float]:
        """Wall times of a fixed Spark job that runs none of the engine's
        code: one task per partition, each sorting the same 2**18 doubles
        in a Python worker.  It shows how fast this shared host is at
        the moment of the run."""

        def work(batches):
            for _ in batches:
                x = np.sin(np.arange(1 << 18, dtype=np.float64))
                yield pa.RecordBatch.from_pydict({"n": [int(np.argsort(x)[0])]})

        parts = self.spark.sparkContext.defaultParallelism
        df = self.spark.range(0, parts, numPartitions=parts)
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df.mapInArrow(work, "n long").collect()
            out.append(time.perf_counter() - t0)
        return out

    # ------------------------------------------------------------------ run

    def run(self, seconds: float) -> None:
        """Warm every phase once (untimed), then the timed phases."""
        mark = time.perf_counter()
        keys = iter(self.keys)
        if self.name != "source_read":
            self.encode_write(keep=False)
        self.decode()
        self.verify()
        self.lookup(next(keys), keep=False)
        for phase in ("decode", "verify"):
            self.ops.samples[phase].clear()
        self.probe_s += self.host_probe()
        self.stage_s["warmup"] = time.perf_counter() - mark
        mark = time.perf_counter()
        t_end = mark + seconds
        rounds = 0
        min_rounds = self.scale["min_rounds"]
        if self.name == "source_ingest":
            while rounds < min_rounds or time.perf_counter() < t_end:
                self.encode_write()
                rounds += 1
            for _ in range(min_rounds):
                self.decode()
                self.verify()
        elif self.name == "lineitem_roundtrip":
            while rounds < min_rounds or time.perf_counter() < t_end:
                self.encode_write()
                self.decode()
                self.verify()
                rounds += 1
        else:
            per_round = self.scale["lookups_per_round"]
            looked = 0
            while True:
                for _ in range(per_round):
                    key = next(keys, None)
                    if key is not None:
                        self.lookup(key)
                        looked += 1
                for _ in range(2):
                    self.decode()
                    self.verify()
                rounds += 1
                if rounds >= min_rounds and time.perf_counter() >= t_end and (
                    looked >= self.scale["lookups_read"]
                ):
                    break
        self.stage_s["timed"] = time.perf_counter() - mark
        mark = time.perf_counter()
        self.probe_s += self.host_probe()
        for key in keys:
            self.lookup(key)
        self.content_gate()
        self.stage_s["tail"] = time.perf_counter() - mark
        self.rounds = rounds

    # -------------------------------------------------------------- results

    def codec_mix(self) -> tuple[dict[str, int], dict[str, int]]:
        codecs, comps = Counter(), Counter()
        for r in self.manifest:
            codecs[r["codec"]] += r["chunks"]
            comps[r["compression"]] += r["chunks"]
        return dict(codecs), dict(comps)

    def reference_gzip_bytes(self, threads: int) -> int:
        return inputs.reference_gzip_bytes(self.table, self.content_columns, threads)

    def sizes(self, ref: int) -> dict:
        enc = sum(r["encoded_bytes"] for r in self.manifest)
        content = sum(r["content_bytes"] for r in self.manifest)
        enc_content = sum(
            r["encoded_bytes"] for r in self.manifest if r["column"] in self.content_columns
        )
        return {
            "size_ratio": enc / content if content else 0.0,
            "content_vs_parquetjs_gzip": enc_content / ref,
            "encoded_bytes": enc,
            "content_bytes": content,
            "reference_gzip_bytes": ref,
        }

    def close(self) -> None:
        if self.df is not None:
            self.df.unpersist()
        shutil.rmtree(self.out_path, ignore_errors=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
