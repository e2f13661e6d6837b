"""Python worker daemon: PySpark's own daemon, minus a zip re-read per task.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so the JVM starts ``python -m gps_stream_processing_spark.worker_daemon``
where it would start ``pyspark.daemon``; the forked workers then run
``pyspark.worker`` exactly as before.

Why: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. On CPython
before 3.13, each cached ``zipimport.zipimporter`` answers that by
re-reading its whole archive directory, eagerly. A worker holds about a
dozen importers over ``pyspark.zip`` (1328 entries) and a couple over the
spark-core jar (5359 entries) that ``PythonUtils.sparkPythonPath`` puts on
the worker path: 135-196 ms per task in a lone worker, 130-272 ms with 4
workers side by side, and ~0.1 ms once unchanged archives are skipped.
CPython 3.13 made the re-read lazy, so there nothing is patched.

The patch keeps the invalidation contract: an archive whose
``(st_mtime_ns, st_size)`` changed since its last read is read again,
and every importer over it picks the new directory up.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_at: dict[str, tuple[int, int] | None] = {}
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # the stat precedes the read, so a rewrite racing the read leaves a
    # stale key behind and the next call reads the archive again
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and cached is not None and _read_at.get(self.archive) == key:
        self._files = cached
        return
    _stdlib_invalidate(self)
    _read_at[self.archive] = key


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed on disk. No-op on CPython 3.13+, where the re-read
    is already lazy."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    # record each archive's key once here, so forked workers start warm
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
