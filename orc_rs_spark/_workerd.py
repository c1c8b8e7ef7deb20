"""Python worker daemon that starts Spark's workers without its zip importers.

``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
on every task, and on Python 3.11 that makes every cached zipimporter re-read
its whole directory: ``pyspark.zip``, ``py4j-*-src.zip`` and the spark-core
JAR that Spark puts on the worker path (~0.25 CPU-s per task on a 4-vCPU
host with Spark 4.1.2). When the unpacked pyspark install is the same version as Spark's
``pyspark.zip``, this module drops those three entries before anything
imports pyspark, so the forked workers load pyspark and py4j from
site-packages and the per-task invalidation has no zip directories left to
read. Otherwise it runs ``pyspark.daemon`` unchanged. Any other zip on the
path (a ``--py-files`` zip) stays.

It also wraps the worker's ``main`` before the daemon reads it, whether or
not the zips were dropped. With worker reuse on, the daemon runs
``gc.collect()`` in each worker after every task, and every collection walks
the ~74 k objects that numpy, pyarrow, pandas, pyspark and this package leave
in the worker (15-38 ms per task on a 4-vCPU host). After a task that grew
``sys.modules``, the wrapper collects once more and calls ``gc.freeze()``, so
the imported module graph moves to the permanent generation and later
collections, the daemon's and the automatic ones inside a task, walk only
objects made since. A task that imports nothing new freezes nothing, so task
garbage is never frozen. The wrapper flushes the task's output first, so the
JVM does not wait on the collection, and it freezes nothing in a worker that
exits after its task (worker reuse off). This cut the Python-worker CPU of a
lengths pass from ~0.12 s to ~0.01 s.

``session.get_spark`` selects it through ``spark.python.daemon.module`` for
``local[...]`` masters only; other masters run the stock ``pyspark.daemon``
and get neither change. The daemon thereby imports this package's (lazy)
``__init__`` from its directory, and the forked workers inherit it.
"""

from __future__ import annotations

import fnmatch
import functools
import gc
import importlib
import os
import runpy
import sys
import zipimport
from importlib.machinery import PathFinder

_SPARK_ENTRIES = ("pyspark.zip", "py4j-*-src.zip", "spark-*.jar")


def _unpacked(name: str, path: list) -> str | None:
    """Directory of package ``name`` when ``path`` imports it from disk."""
    spec = PathFinder.find_spec(name, path)
    locs = list(spec.submodule_search_locations or ()) if spec else []
    return locs[0] if locs and os.path.isdir(locs[0]) else None


def evict_spark_zips() -> bool:
    """Drop Spark's zip and JAR entries from ``sys.path`` and their importers
    (subpackage entries included) from ``sys.path_importer_cache``. Returns
    False, changing nothing, unless pyspark is not yet imported, an unpacked
    pyspark and py4j remain on the path, and the unpacked ``version.py``
    equals the one inside ``pyspark.zip``."""
    if "pyspark" in sys.modules:
        return False
    drop = [
        p for p in sys.path if any(fnmatch.fnmatch(os.path.basename(p), g) for g in _SPARK_ENTRIES)
    ]
    rest = [p for p in sys.path if p not in drop]
    zips = [p for p in drop if os.path.basename(p) == "pyspark.zip"]
    pkg = _unpacked("pyspark", rest)
    if not zips or pkg is None or _unpacked("py4j", rest) is None:
        return False
    try:
        with open(os.path.join(pkg, "version.py"), "rb") as f:
            same = f.read() == zipimport.zipimporter(zips[0]).get_data("pyspark/version.py")
    except (OSError, ImportError):
        return False
    if not same:
        return False
    sys.path[:] = rest
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in drop):
            del sys.path_importer_cache[key]
    return True


def freeze_after_imports(worker_main):
    """``worker_main`` that, after a task that grew ``sys.modules``, flushes
    the task's output and then collects and freezes the heap (see the module
    docstring). It freezes nothing in a worker that exits after its task
    (``SPARK_REUSE_WORKER`` unset, as ``pyspark.daemon`` reads it), or whose
    flush fails (the daemon's own flush then reports the error). A
    ``SystemExit`` from a failed task propagates without any of this."""

    @functools.wraps(worker_main)
    def run(infile, outfile):
        n_modules = len(sys.modules)
        result = worker_main(infile, outfile)
        if len(sys.modules) > n_modules and os.environ.get("SPARK_REUSE_WORKER"):
            try:
                outfile.flush()  # the JVM gets the task's last bytes before the collection
            except (OSError, ValueError):
                return result
            gc.collect()
            gc.freeze()
        return result

    return run


def main() -> None:
    evict_spark_zips()
    # the worker module pyspark.daemon picks: its argv[1] when that names a
    # pyspark module, else pyspark.worker
    argv = sys.argv[1:]
    name = argv[0] if argv and argv[0].startswith("pyspark") else "pyspark.worker"
    worker = importlib.import_module(name)
    worker.main = freeze_after_imports(worker.main)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
