"""The Python worker daemon of the engine's sessions (`spark.python.daemon.module`).

    python -m crawlingathome_worker_spark.worker_daemon   # started by Spark, never by hand

PySpark's worker calls `importlib.invalidate_caches()` at the start of every
task (`pyspark.worker_util.setup_spark_files`), so that files shipped with
`addFile`/`addPyFile` become importable. On Python 3.11 that call makes every
`zipimporter` in `sys.path_importer_cache` re-read its archive's whole
directory. Spark puts `pyspark.zip`, the py4j zip and the spark-core jar on the
worker path, and a worker that imported pyspark from the zip holds one
zipimporter per imported subpackage plus two for the jar: 16 of them,
0.26–0.29 s of CPU per call on a 4-core VM, so per Python task.

An archive on a worker's path does not change while the worker lives, so this
daemon hands the workers it forks an invalidation that skips zipimporters.
Every other finder is still invalidated, so shipped files stay importable.
When pyspark's internals differ from what this patches, the stock daemon runs
unchanged.
"""

from __future__ import annotations

import importlib
import sys
import zipimport


def invalidate_caches_except_zips() -> None:
    """`importlib.invalidate_caches()` with every zipimporter left as it is."""
    zips = {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    }
    for path in zips:
        del sys.path_importer_cache[path]
    try:
        importlib.invalidate_caches()
    finally:
        sys.path_importer_cache.update(zips)


class _WorkerImportlib:
    """`importlib` as pyspark's worker sees it, but for the invalidation."""

    invalidate_caches = staticmethod(invalidate_caches_except_zips)

    def __getattr__(self, name: str):
        return getattr(importlib, name)


def install() -> bool:
    """Swap the worker's per-task invalidation; False (and nothing changed)
    when pyspark no longer calls it through `worker_util.importlib`."""
    try:
        from pyspark import worker_util
    except ImportError:
        return False
    if getattr(worker_util, "importlib", None) is not importlib:
        return False
    worker_util.importlib = _WorkerImportlib()
    return True


if __name__ == "__main__":
    import pyspark.daemon

    install()
    pyspark.daemon.manager()
