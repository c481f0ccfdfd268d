"""Stat-checked ``zipimport`` cache invalidation.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). Up to
CPython 3.12, ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory, once for each zip-backed importer in
``sys.path_importer_cache``. A worker holds 21 of them (``pyspark.zip``
once per package, the Spark core jar, py4j and the shipped
``movement_spark`` zip), about 0.2 CPU-s per task with no archive ever
changing.

Importing this module (``movement_spark/__init__.py`` does) wraps that
method: an importer re-reads its archive only when the archive's
``os.stat`` key (``st_mtime_ns``, ``st_size``, ``st_ino``) differs from
the key it saw at its last read, the staleness rule ``FileFinder``
applies to directories. A missing archive falls through to the stdlib
method, which drops the cache. The first invalidation after install
reads each archive once, to learn its key. The contract holds on the
eager (3.11/3.12) and the lazy (3.13+, which only drops the shared
cache) stdlib forms alike: a replaced or resized archive is re-read, an
unchanged one is not. Like ``FileFinder``'s check, the key does not see
an in-place rewrite that keeps the size and lands within one
file-timestamp tick; replacing an archive by rename gives it a new
inode, which it does see.

A Python worker imports the package when it unpickles the first engine
UDF (``operators.ordering._assemble`` and the rest are pickled by
reference), so every later task in that reused worker skips the
re-reads.
"""

from __future__ import annotations

import functools
import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


@functools.wraps(_stdlib_invalidate)
def _invalidate_if_changed(self) -> None:
    key = _stat_key(self.archive)
    if key is not None and key == getattr(self, "_archive_stat", None):
        return
    _stdlib_invalidate(self)
    # stat taken before the read: a write racing the read changes the
    # key again, so the next call re-reads
    self._archive_stat = key


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
