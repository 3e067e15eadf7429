"""Stat-stamped ``zipimporter.invalidate_caches`` for CPython < 3.12.

Every PySpark worker task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory, and a worker holds one importer per zip path
entry and per package imported from it: pyspark.zip, the py4j zip and the
Spark jar on the worker path give 16 directory reads per task: 0.16-0.21
CPU-s per task before it reads a row, in a 200-task trivial pandas-UDF job
on a 4-vCPU host (about 0.025 s with this module).

With this module loaded an archive's directory is re-read only when the
archive's stat stamp (inode, size, mtime, ctime) differs from the stamp
taken just before its directory was last read; otherwise the importer
takes the directory already read for that stamp. Writing to or replacing
an archive moves its ctime (which utime cannot set back) or its inode,
so invalidation still picks up changes on disk; only a same-size rewrite
within one tick of the filesystem clock after the read could go unseen.
CPython 3.12 made zipimporter invalidation lazy; there nothing is patched.

The package ``__init__`` imports this module, so every worker that
unpickles an engine UDF installs it; later tasks in that (reused) worker
pay one ``stat`` per importer instead of a directory read.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> stat stamp taken just before its directory was read
_stamps: dict[str, tuple[int, int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _stamped(read_directory):
    @functools.wraps(read_directory)
    def _read_directory(archive):
        stamp = _stamp(archive)
        _stamps.pop(archive, None)
        files = read_directory(archive)
        if stamp is not None:
            _stamps[archive] = stamp
        return files

    return _read_directory


def _lazy(invalidate):
    @functools.wraps(invalidate)
    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
            self._files = files
        else:
            invalidate(self)

    return invalidate_caches


def install() -> None:
    """Idempotent: wrap ``zipimport._read_directory`` and
    ``zipimporter.invalidate_caches`` once per process."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    zipimport._read_directory = _stamped(zipimport._read_directory)
    cls.invalidate_caches = _lazy(cls.invalidate_caches)


install()
