"""Keep zip-archive directories across ``importlib.invalidate_caches()``.

Every PySpark task calls ``importlib.invalidate_caches()`` once it has put
the job's ``--py-files`` on ``sys.path`` (``setup_spark_files`` in
``pyspark/worker_util.py:144``). Before CPython 3.12 that makes every
``zipimport.zipimporter`` re-read its archive's whole central directory:
workers import pyspark from ``pyspark.zip`` (1,300+ entries) through one
importer per package directory, so a task spends ~0.2 s re-reading
archives that did not change. CPython 3.12 made the re-read lazy
(https://github.com/python/cpython/issues/103200).

On CPython < 3.12, importing this module replaces
``zipimporter.invalidate_caches`` with a version that re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since this
module last read it; otherwise the importer takes the directory already
in ``zipimport._zip_directory_cache``, which all importers of one archive
share. An archive that cannot be ``stat``-ed goes to the original method.
Installing twice is a no-op; on CPython >= 3.12 nothing is replaced.

The package ``__init__`` imports this module, so it is installed in the
driver and in every Python worker that unpickles a package function: a
reused worker skips the re-reads from its second task on.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` (CPython < 3.12 only)."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_stat_keyed", False):
        return
    # archive path -> (stat key before the read, directory dict it read)
    read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return original(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        cached = zipimport._zip_directory_cache.get(self.archive)
        last = read_at.get(self.archive)
        if last is not None and last[0] == key and last[1] is cached:
            self._files = cached
            return
        # stat before the read: a change racing the read leaves a stale
        # key, which costs one extra read, never a stale directory
        original(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None:
            read_at.pop(self.archive, None)
        else:
            read_at[self.archive] = (key, files)

    invalidate_caches._stat_keyed = True
    invalidate_caches.__doc__ = original.__doc__
    cls.invalidate_caches = invalidate_caches


install()
