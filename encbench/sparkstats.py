"""Spark session, process-tree sampling from /proc, and per-call Spark
stage metrics from the status REST API of the local UI."""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def make_session(cores: int, run_dir: str):
    """``local[cores]`` session whose scratch space lives under ``run_dir``.
    Partition counts are pinned (no adaptive re-planning) so every run
    executes the same plan."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # a fixed-size heap keeps the JVM's resident size from following GC
    # heuristics from run to run
    java_opts = f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("encbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        # the allocator tuning the engine's own session helper applies, set
        # for the Python workers only: in the JVM's environment it would
        # keep freed native memory resident and make its RSS drift
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(256 << 20))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def steal_s() -> float:
    """Host steal time, summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK


def _stat(pid: int) -> tuple[str, float, int] | None:
    """(comm, cpu seconds incl. reaped children, rss bytes) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    cpu = sum(int(x) for x in rest[11:15]) / _CLK_TCK
    return raw[raw.index("(") + 1 : raw.rindex(")")], cpu, int(rest[21]) * _PAGE


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from a worker
    thread, not its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


class ProcTree:
    """Samples the processes this driver started (the JVM and its Python
    workers) in a background thread: peak summed RSS, and Python worker
    CPU on demand."""

    def __init__(self, interval_s: float = 0.25):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self.peak_python_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _descendants(self) -> dict[int, tuple]:
        """Every process below this one, except a child the JVM is
        spawning under its own name (it shares the JVM's memory)."""
        out, todo = {}, [(c, None) for c in _children(self.root)]
        while todo:
            pid, parent = todo.pop()
            st = _stat(pid)
            if st is not None and not (st[0] == parent == "java"):
                out[pid] = st
                todo.extend((c, st[0]) for c in _children(pid))
        return out

    def _loop(self):
        while not self._stop.is_set():
            # only the JVM and the Python workers: a helper the JVM spawns
            # (chmod, rm) shares the JVM's memory until it execs
            procs = [
                p for p in self._descendants().values()
                if p[0] == "java" or p[0].startswith("python")
            ]
            self.peak_rss = max(self.peak_rss, sum(p[2] for p in procs))
            py = sum(p[2] for p in procs if p[0].startswith("python"))
            self.peak_python_rss = max(self.peak_python_rss, py)
            self._stop.wait(self.interval_s)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def descendant_pids(self) -> list[int]:
        return list(self._descendants())

    @staticmethod
    def alive(pid: int) -> bool:
        """False once ``pid`` has exited (a zombie counts as exited)."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    @staticmethod
    def kill(pid: int) -> None:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def python_cpu_s(self) -> float:
        """CPU seconds of the Python worker processes, reaped ones included."""
        return sum(
            p[1] for p in self._descendants().values() if p[0].startswith("python")
        )


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


class SparkCalls:
    """Tags every Spark job of one pipeline call with its own job group,
    then reads the groups' stage metrics back from the status REST API."""

    def __init__(self, spark, procs: ProcTree, enabled: bool):
        self.sc = spark.sparkContext
        self.procs = procs
        self.enabled = enabled
        self.calls: list[dict] = []

    def measure(self, name: str, fn):
        if not self.enabled:
            return fn()
        group = f"encbench-{len(self.calls)}"
        self.sc.setJobGroup(group, name)
        cpu0, t0, e0 = self.procs.python_cpu_s(), time.perf_counter(), time.time()
        try:
            return fn()
        finally:
            wall = time.perf_counter() - t0
            self.calls.append(
                {
                    "name": name,
                    "group": group,
                    "start": e0,
                    "end": e0 + wall,
                    "wall_s": wall,
                    "python_cpu_s": self.procs.python_cpu_s() - cpu0,
                }
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _get(self, path: str):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, timeout_s: float = 30.0) -> None:
        """Attach each call's Spark metrics to its record.  The UI's
        listener runs behind the jobs, so wait until it has them all."""
        groups = {c["group"] for c in self.calls}
        deadline = time.time() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            seen = {j["jobGroup"] for j in jobs}
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if (done and seen == groups) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for s in self._get("/stages"):
            if s["status"] == "COMPLETE":
                stages.setdefault(s["stageId"], s)
        by_group: dict[str, list] = {}
        for j in jobs:
            by_group.setdefault(j["jobGroup"], []).append(j)
        for c in self.calls:
            cj = by_group.get(c["group"], [])
            st = [stages[i] for j in cj for i in j["stageIds"] if i in stages]
            spans = [
                (_ts(s["submissionTime"]), _ts(s["completionTime"])) for s in st
            ]
            c.update(
                jobs=len(cj),
                stages=len(st),
                jvm_cpu_s=sum(s["executorCpuTime"] for s in st) / 1e9,
                gc_s=sum(s["jvmGcTime"] for s in st) / 1e3,
                shuffle_write_mb=sum(s["shuffleWriteBytes"] for s in st) / 1e6,
                shuffle_read_mb=sum(s["shuffleReadBytes"] for s in st) / 1e6,
                output_mb=sum(s["outputBytes"] for s in st) / 1e6,
                driver_gap_s=max(0.0, c["wall_s"] - _union_s(spans)),
            )
            c["executor_cpu_s"] = c["jvm_cpu_s"] + c["python_cpu_s"]

    def median(self, name: str, key: str) -> float:
        vals = [c[key] for c in self.calls if c["name"] == name and key in c]
        return statistics.median(vals) if vals else 0.0
