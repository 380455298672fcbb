"""Python workers re-read a zip archive's directory only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.10-3.12 that
call makes every zipimporter on the import path re-read its archive's
central directory, eagerly: Spark puts ``pyspark.zip`` (one zipimporter
per pyspark package the worker has imported) and the ``spark-core`` jar on
the worker path, so a reused worker parses 16 zip directories (0.13-0.22 s
on a busy 4-core host) before each task's UDF runs a line.  CPython 3.13
made the call lazy.

Inside a PySpark worker on those versions, importing the package wraps
``zipimport.zipimporter.invalidate_caches`` once: an archive's directory
is re-read only when the archive's ``(st_ino, st_mtime_ns, st_size)``
differs from what it was when the directory in
``zipimport._zip_directory_cache`` was read.  A rewritten archive (a new
``--py-files`` upload, say) is still re-read on the next call.  The
driver process keeps the stdlib method.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _guard(stdlib):
    """A replacement for ``stdlib`` (zipimporter.invalidate_caches) that
    re-reads an archive only when needed.  ``read`` maps an archive to
    (its stat key taken before the read, the directory dict the read put
    in the cache); the re-read is skipped while both still hold."""
    cache = zipimport._zip_directory_cache
    read: dict = {}

    def reread(archive: str) -> dict:
        key = _stat_key(archive)
        try:
            cache[archive] = files = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)
            return {}
        if key is not None:
            read[archive] = (key, files)
        return files

    def invalidate_caches(self):
        key, files = read.get(self.archive, (None, None))
        if files is None or files is not cache.get(self.archive) or key != _stat_key(self.archive):
            files = reread(self.archive)
        self._files = files

    def prime():
        # the directories already cached may predate a rewrite
        for archive in list(cache):
            reread(archive)

    invalidate_caches.__wrapped__ = stdlib
    invalidate_caches.prime = prime
    return invalidate_caches


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once, in a PySpark worker on
    CPython 3.10-3.12."""
    current = zipimport.zipimporter.invalidate_caches
    in_worker = "pyspark.worker" in sys.modules or "PYTHON_WORKER_FACTORY_SECRET" in os.environ
    if (
        hasattr(current, "__wrapped__")
        or not in_worker
        or sys.implementation.name != "cpython"
        or not (3, 10) <= sys.version_info[:2] <= (3, 12)
    ):
        return
    guarded = _guard(current)
    guarded.prime()
    zipimport.zipimporter.invalidate_caches = guarded
