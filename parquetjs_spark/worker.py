"""What every engine Arrow UDF body does in its Python worker, first
and last."""

from __future__ import annotations

import functools
import sys
import zipimport


def drop_zip_finders() -> None:
    """Drop this process's cached ``zipimporter`` path finders.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark.worker_util.setup_spark_files``).  On
    CPython < 3.13 that makes every cached ``zipimporter`` re-read its
    whole archive directory; a worker holds about 16 of them over
    ``pyspark.zip`` (1,328 entries), the py4j zip and a Spark jar, which
    cost 150-270 ms of CPU per task on a 4-core VM with CPython 3.11
    (3.13 only drops the directory cache).  The finders are only a
    cache: an import rebuilds one on demand from
    ``zipimport._zip_directory_cache``, so imports behave as before, and
    the worker's next ``invalidate_caches()`` has no directory left to
    re-read."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def drops_zip_finders(body):
    """Wrap ``body``, the generator of an engine Arrow UDF, so it calls
    drop_zip_finders() when it starts and again when it finishes.  A
    fresh worker's first task imports the modules the body needs after
    the first drop, and each import caches its ``sys.path`` zip finders
    again; the second drop leaves the worker's next task none to
    re-read."""

    @functools.wraps(body)
    def run(*args):
        drop_zip_finders()
        try:
            yield from body(*args)
        finally:
            drop_zip_finders()

    return run
