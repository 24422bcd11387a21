"""Stop Python workers from re-reading unchanged zip archives on every task.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``). On CPython
3.10-3.12 that makes every ``zipimport.zipimporter`` re-read its whole
archive directory, and pyspark is imported from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,300+ entries) through one
importer per subpackage. A reused worker then spends most of a small
task's CPU in ``zipimport._read_directory``, for an archive that has not
changed. CPython 3.13 only drops its cache entry there, so it is left
alone.

:func:`keep_unchanged_zip_directories` runs when the package is imported,
which every worker that unpickles one of the package's UDFs does. It
keeps the re-read only for an archive whose ``(st_mtime_ns, st_size)``
differs from the last read, so a replaced archive is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport


def keep_unchanged_zip_directories() -> None:
    """On CPython 3.10-3.12, make ``zipimporter.invalidate_caches`` skip
    the directory re-read of an archive that has not changed since its
    last read. Idempotent; a no-op on other versions."""
    if not (3, 10) <= sys.version_info[:2] <= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_keeps_unchanged", False):
        return
    stamps: dict = {}  # archive -> (st_mtime_ns, st_size) at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        unchanged = stamp is not None and stamps.get(self.archive) == stamp
        if unchanged and files is not None:
            self._files = files  # another importer may have done the re-read
            return
        # stat before the read: a change during the read shows at the next call
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches._keeps_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
