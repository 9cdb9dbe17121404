"""Ship the shmr_spark package to Spark Python workers, and keep the
workers from re-reading zip archives on every call.

Arrow/RDD operators (mapInPandas decode, compat records tier) pickle
closures that reference shmr_spark module functions BY REFERENCE —
every Python worker must be able to ``import shmr_spark``. When the
driver process wasn't launched from the repo (arbitrary cwd, no
PYTHONPATH), workers crash with ModuleNotFoundError. The canonical
fix is ``sc.addPyFile`` with a zip of the package: Spark distributes
it and prepends it to every worker's sys.path — works identically on
local mode and a 1000-executor cluster. ``ensure_package_shipped`` is
called lazily by the driver-contract entry points and the CLI; it is a
no-op after the first call per SparkContext, and the zip is removed
when the driver's interpreter exits (executors fetch it lazily, so it
must outlive every job).

Zip re-reads. Before every task and every Python data source planner
call (create the source, plan a read, plan a write, commit), pyspark's
worker runs ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, once per zipimporter, and a worker holds one per package it
imported from a zip. Measured in a reused worker (CPython 3.11.7,
pyspark 4.1.2, 4-core host): 18 zipimporters over four archives, among
them ``pyspark.zip`` (1,328 entries), the py4j zip and the shipped
package zip. One sweep took 0.24–0.26 s, against 0.2 ms with
``skip_unchanged_zip_rereads`` installed. A perfbench
``shmr_partitions`` job (``local[2]``) makes six such calls; its
median job time fell from 1.88 s to 0.58 s (seed 1, ten alternating
runs each). CPython 3.13 reads lazily (gh-103200), so there the
function does nothing. ``shmr_spark/__init__`` installs it at import,
so every worker that unpickles a shmr object (the data source, its
reader and writer, UDF closures) installs it too.
"""

from __future__ import annotations

import atexit
import functools
import os
import tempfile
import threading
import zipfile
import zipimport

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_FLAG = "_shmr_spark_pkg_shipped"


def _zip_stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip the directory re-read
    when the archive is unchanged since its last read: same
    ``(st_ino, st_size, st_mtime_ns)`` and still in
    ``zipimport._zip_directory_cache``. The instance then takes the
    shared cached directory; otherwise the original method runs.

    3.13's form (drop the cache entry, read on demand) is not
    backported: on 3.11 ``self._files`` is read directly in several
    methods, and ``pkgutil.iter_zipimport_modules`` indexes
    ``_zip_directory_cache[archive]``, so both must stay populated.
    """
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or getattr(
        cls.invalidate_caches, "_skips_unchanged", False
    ):
        return
    original = cls.invalidate_caches
    # archive path -> (st_ino, st_size, st_mtime_ns) at its last read
    read_at: dict[str, tuple[int, int, int]] = {}
    lock = threading.Lock()

    @functools.wraps(original)
    def invalidate_caches(self):
        with lock:
            stat = _zip_stat(self.archive)
            files = zipimport._zip_directory_cache.get(self.archive)
            if stat is not None and files is not None and read_at.get(self.archive) == stat:
                self._files = files
                return
            # Stat before reading: a change that lands in between is
            # caught by the next sweep, never hidden.
            original(self)
            if stat is not None and self.archive in zipimport._zip_directory_cache:
                read_at[self.archive] = stat
            else:
                read_at.pop(self.archive, None)

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def ensure_package_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _FLAG, False):
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"shmr_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                arc = os.path.join(
                    "shmr_spark", os.path.relpath(full, _PKG_DIR)
                )
                z.write(full, arc)
    atexit.register(_remove, zpath)
    sc.addPyFile(zpath)
    setattr(sc, _FLAG, True)
