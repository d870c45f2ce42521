"""Python-worker hygiene: engine UDFs drop the cached zipimporter
finders that PySpark's per-task ``importlib.invalidate_caches()`` would
otherwise make re-read every zip archive on sys.path."""

import os
import subprocess
import sys
import textwrap
import zipfile

from parquetjs_spark import pipeline

_ZIP_PROBE = textwrap.dedent(
    """
    import importlib, sys, zipimport
    sys.path.insert(0, sys.argv[1])
    import zpkg.first
    assert any(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
    if sys.version_info < (3, 13):  # 3.13 drops the directory cache instead of re-reading
        importlib.invalidate_caches()
        assert reads, "cached zip finders re-read nothing"
    from parquetjs_spark.worker import drop_zip_finders
    drop_zip_finders()
    assert not any(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [], reads
    import zpkg.second
    assert zpkg.second.VALUE == 2
    assert reads == [], reads
    print("ok")
    """
)


def test_drop_zip_finders_keeps_zip_imports(tmp_path):
    """After drop_zip_finders, importlib.invalidate_caches() re-reads no
    zip directory, and a module of the zip that was not yet imported
    still imports (in a fresh interpreter: the helper edits
    sys.path_importer_cache)."""
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/first.py", "VALUE = 1\n")
        z.writestr("zpkg/second.py", "VALUE = 2\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, str(archive)],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_engine_stage_leaves_no_zip_finders(spark, tmp_path, monkeypatch):
    """After one engine stage (encode_columns), a later stage's tasks in
    the workers it used (matched by pid) find no zipimporter finder, so
    PySpark's per-task invalidate_caches() has no zip archive left to
    re-read -- also in a fresh worker, whose first engine task imports
    the engine after the body's first drop."""

    def worker_state(batches):
        # a plain (non-engine) Arrow UDF: this worker's pid and the
        # zipimporter finders it holds when the task's body starts
        import zipimport

        import pyarrow as pa

        finders = sys.path_importer_cache.values()
        zips = sum(isinstance(f, zipimport.zipimporter) for f in finders)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "zips": [zips]})

    encode_chunk = pipeline._encode_chunk
    src = spark.range(0, 8192, numPartitions=8).toDF("k")

    def encode_pids(run: int) -> set[int]:
        log = str(tmp_path / f"encode_pids{run}")

        def logged(*args, **kw):
            with open(log, "a") as f:
                f.write(f"{os.getpid()}\n")
            return encode_chunk(*args, **kw)

        # encode_fn resolves _encode_chunk when it is pickled, so its
        # tasks run the logging wrapper
        monkeypatch.setattr(pipeline, "_encode_chunk", logged)
        blobs = pipeline.encode_columns(src, chunk_rows=1024)
        blobs.write.format("noop").mode("overwrite").save()
        with open(log) as f:
            return {int(line) for line in f}

    # a worker's first task imports modules after the helper's first
    # drop, which caches the sys.path zip finders again; the drop when
    # the body finishes removes them, so one encode task is enough
    warm = encode_pids(0)
    # enough tasks to reach every idle worker, the encode's included
    probe = spark.range(0, 64, numPartitions=32).mapInArrow(worker_state, "pid long, zips long")
    seen = [(r.pid, r.zips) for r in probe.collect() if r.pid in warm]
    assert seen, (warm, probe.collect())
    assert all(zips == 0 for _, zips in seen), seen
