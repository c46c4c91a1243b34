"""Python worker daemon: ``pyspark.daemon`` with a zip-directory guard.

Why. At the start of every task, ``pyspark.worker`` calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
Before CPython 3.13, each ``zipimport.zipimporter`` in
``sys.path_importer_cache`` answers that by re-reading its archive's
whole central directory in pure Python. Spark prepends
``pyspark.zip`` and the ``spark-core`` jar to every worker's
``PYTHONPATH`` (``PythonUtils.sparkPythonPath``), so a reused worker
holds about 16 such importers: ``pyspark.zip`` and its subpackage
paths (one read of that archive: 13 ms) and the jar twice (53 ms per
read). Measured on a 4-CPU host with CPython 3.11.7 and Spark 4.1.2,
that is 160-370 ms of every Python task, against 0.05 ms for the same
call in a plain Python process. No Spark setting removes those path
entries. CPython 3.13 makes the invalidation lazy, so the guard is
installed only below 3.13.

What. :func:`guarded_invalidate` wraps the stdlib method: an archive's
directory is re-read only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read's. An archive rewritten in place
is still re-read on the next task, a missing archive behaves as the
stdlib does (empty file table, no raise), a new path still gets a fresh
importer, and directory finders are untouched. The daemon installs the
guard and reads every archive once before it forks; forked workers
inherit both. Measured as above, in-worker ``invalidate_caches()`` drops
to 0.09-0.16 ms per task, and an identity ``mapInPandas`` over 16 rows
in 4 tasks from a warm median of 690 ms to 297 ms (a JVM-only job over
the same rows: 150-180 ms).

How it runs. ``sources.tables.get_spark`` names this module as
``spark.python.daemon.module``; Spark starts it as ``python -m``.
Importing the module changes nothing: the guard is installed by
:func:`main` only. It imports nothing beyond the standard library and
``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def guarded_invalidate(stdlib_invalidate):
    """-> an ``invalidate_caches(self)`` for ``zipimport.zipimporter``
    that calls ``stdlib_invalidate`` only when the importer's archive
    changed since the last read through the returned function. Each
    returned function keeps its own record of what it read."""
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and read_at.get(self.archive) == key \
                and cached is not None:
            # the shared cache entry was read from this very file state
            self._files = cached
            return
        # stat before the read: a change racing the read shows as a new
        # key on the next call and is read again
        stdlib_invalidate(self)
        if self.archive in zipimport._zip_directory_cache and key is not None:
            read_at[self.archive] = key
        else:
            read_at.pop(self.archive, None)

    return invalidate_caches


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the guard (CPython
    < 3.13 only) and read every cached archive once, so that workers
    forked afterwards start with a record of each."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = guarded_invalidate(
        zipimport.zipimporter.invalidate_caches)
    importlib.invalidate_caches()


def main() -> None:
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run the module's functions under its import name, not as __main__,
    # so the installed guard names this module.
    from distributed_gpu_lsh_using_sycl_spark.sources import worker_daemon

    worker_daemon.main()
