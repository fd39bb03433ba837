"""Python worker daemon of the engine's Spark sessions.

``plans.job.build_session`` names this module in
``spark.python.daemon.module``, so Spark starts it once per session as
``python -m html_to_document_spark.worker_daemon pyspark.worker`` and
every Python worker is forked from it.  Before it hands over to
``pyspark.daemon.manager`` it removes the start-up work that does not
depend on the documents:

1. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j zip
   first on the worker path.  The zips hold source only, no ``.pyc``, so
   every daemon compiles pyspark again: ``import pyspark.daemon`` takes
   0.41 s from the zip and 0.08 s from the installed, bytecode-cached
   copy.  When the installed copy is the same release, the zips move to
   the end of ``sys.path``; otherwise (or on a host without an installed
   copy) the path stays as Spark set it.
2. ``PREIMPORTS`` are imported before the fork, so each worker inherits
   what it would otherwise import during its first task.
3. ``pyspark.worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()`` on every task, which re-reads the
   directory of every cached zip importer (the zips above, the
   spark-core jar).  It now runs only when ``sys.path`` or the mtime of
   one of its entries changed, the same signal Python's own path finder
   uses to refresh a directory listing.
4. A reused worker waits for its next task in ``select`` instead of
   inside ``pyspark.worker.main``.  ``main`` takes its ``boot_time``
   before its first read, and Spark reports ``pythonInitTime`` as init
   minus boot time, so a worker that waited there counted its idle time
   as Python init.
"""

from __future__ import annotations

import importlib
import os
import select
import sys
import zipfile

# what a worker imports during its first extraction task
PREIMPORTS = (
    "pandas",
    "pyarrow.compute",
    "pyarrow.pandas_compat",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "html_to_document_spark.operators.extract_spans",
    "html_to_document_spark.core.stream_extract",
)


def _zipped_package(entry: str) -> str | None:
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def _same_release(zip_path: str, package: str, path: list[str]) -> bool:
    """True when ``package`` is installed outside any zip on ``path`` with
    a byte-equal ``version.py`` and the size of every file it shares with
    the zip (the zip also holds tests the installed copy leaves out)."""
    from importlib.machinery import PathFinder

    spec = PathFinder.find_spec(package, [p for p in path if os.path.isdir(p)])
    if spec is None or not spec.submodule_search_locations:
        return False
    root = os.path.dirname(spec.submodule_search_locations[0])
    with zipfile.ZipFile(zip_path) as z:
        try:
            with open(os.path.join(root, package, "version.py"), "rb") as f:
                if f.read() != z.read(f"{package}/version.py"):
                    return False
        except (OSError, KeyError):
            return False
        for info in z.infolist():
            if info.is_dir():
                continue
            try:
                size = os.stat(os.path.join(root, info.filename)).st_size
            except OSError:
                continue
            if size != info.file_size:
                return False
    return True


def prefer_installed(path: list[str]) -> list[str]:
    """``path`` with each Spark source zip moved to the end when the
    installed copy of its package is the same release."""
    moved = []
    for entry in path:
        package = _zipped_package(entry)
        if package and os.path.isfile(entry) and _same_release(entry, package, path):
            moved.append(entry)
    return [e for e in path if e not in moved] + moved


class GuardedImportlib:
    """``importlib`` for ``pyspark.worker_util`` whose ``invalidate_caches``
    runs only when ``sys.path`` or an entry's ``st_mtime_ns`` changed."""

    def __init__(self):
        self._seen = None

    def __getattr__(self, name):
        return getattr(importlib, name)

    def invalidate_caches(self) -> None:
        seen = []
        for entry in sys.path:
            try:
                seen.append((entry, os.stat(entry or ".").st_mtime_ns))
            except OSError:
                seen.append((entry, None))
        if seen != self._seen:
            importlib.invalidate_caches()
            self._seen = seen


def await_task(worker):
    """``worker(sock, authenticated)`` that first blocks until ``sock``
    is readable, so the worker's boot time is taken when a task arrives."""

    def wait_then_work(sock, authenticated):
        select.select([sock], [], [])
        return worker(sock, authenticated)

    return wait_then_work


def main() -> None:
    sys.path[:] = prefer_installed(sys.path)
    for name in PREIMPORTS:
        try:
            importlib.import_module(name)
        except ImportError:  # the task that needs it reports the error
            pass
    from pyspark import daemon, worker_util

    # a pyspark whose worker_util no longer calls importlib keeps its own path
    if worker_util.importlib is importlib:
        worker_util.importlib = GuardedImportlib()
    daemon.worker = await_task(daemon.worker)
    daemon.manager()


if __name__ == "__main__":
    main()
