"""Spark's Python worker daemon, with a zip import cache that survives tasks.

Spark forks its Python workers from daemon processes, and a reused
worker runs ``pyspark.worker_util.setup_spark_files`` at the start of
every task. That ends in ``importlib.invalidate_caches()``, which before
CPython 3.13 makes each cached ``zipimporter`` re-parse its archive's
whole central directory (``pyspark.zip`` has ~1,300 entries and ~16
importers). Measured at ~0.2 CPU-s a task whatever the task's size, it
was most of the Python-worker CPU of a small UDF job. CPython 3.13 only
drops the cache there, so it needs no change.

:func:`install` replaces ``zipimporter.invalidate_caches`` with one that
keeps an archive's parsed directory while the file's
``(st_mtime_ns, st_size, st_ino)`` is the same as when it was last read,
and re-reads it exactly as before once the file changes (or the first
time the process sees an archive). Run as a module, this file imports
``pyspark.daemon``, installs the patch and runs the daemon, so every
worker the daemon forks inherits both the patch and the parsed
``pyspark.zip`` directory. ``sif_spark.session.get_session`` selects it
for local masters through Spark's ``spark.python.daemon.module`` conf.

That conf reaches the workers of Python UDFs, ``mapInPandas`` and Python
RDDs. Spark 4.1 starts the data-source planner workers
(``pyspark.sql.worker.*``) from ``pyspark.daemon`` whatever the conf
says, and the per-query streaming-source runner outside any daemon (it
calls ``invalidate_caches`` once), so neither of those changes.
"""

from __future__ import annotations

import os
import sys
import zipimport


# archive -> its stat key when this process last parsed its directory
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _remember(archive: str, key: tuple[int, int, int] | None) -> None:
    if key is None:
        _read_at.pop(archive, None)
    else:
        _read_at[archive] = key


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process (and the
    processes it forks), and re-read every archive already cached so the
    patch knows how fresh its directory is. Returns True when the patch
    is in place; False on CPython >= 3.13, whose own method is cheap."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13):
        return False
    if not getattr(cls.invalidate_caches, "_sif_keeps_unchanged", False):
        reread = cls.invalidate_caches

        def invalidate_caches(self) -> None:
            key = _stat_key(self.archive)
            cached = zipimport._zip_directory_cache.get(self.archive)
            if key is not None and cached is not None and _read_at.get(self.archive) == key:
                self._files = cached
                return
            # stat before the read: a change during the read shows next time
            reread(self)
            _remember(self.archive, key)

        invalidate_caches._sif_keeps_unchanged = True
        cls.invalidate_caches = invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        key = _stat_key(archive)
        try:
            zipimport._zip_directory_cache[archive] = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            del zipimport._zip_directory_cache[archive]
            key = None
        _remember(archive, key)
    return True


if __name__ == "__main__":
    # pyspark.daemon picks the worker module from sys.argv[1], which
    # Spark passes to this module unchanged. Importing it first lets
    # install() take in the archives (pyspark.zip) it was loaded from,
    # so forked workers skip even their first re-read.
    from pyspark.daemon import manager

    install()
    manager()
