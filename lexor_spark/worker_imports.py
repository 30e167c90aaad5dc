"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``).  Before
CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` eagerly
re-reads its archive's whole central directory, and a reused worker holds
twelve importers into ``pyspark.zip`` and two into the spark-core jar:
160-230 ms of CPU per task on a 4-vCPU Xeon host, where a task of 625
template pages otherwise takes about 300 ms.  CPython 3.13 made the
re-read lazy.

``install`` (called once when ``lexor_spark`` is imported, so every worker
that unpickles one of the package's UDFs has it) wraps the method so that
an archive is re-read only when its ``(st_mtime_ns, st_size, st_ino)``
stamp differs from the stamp taken before its last read; an archive
rewritten on disk is still picked up.  On CPython >= 3.13 it does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp taken before the read, the directory it read)
_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _reads.pop(self.archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _reads.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread(self)
    if zipimport._zip_directory_cache.get(self.archive) is self._files:
        _reads[self.archive] = (stamp, self._files)
    else:  # the archive is no longer a readable zip
        _reads.pop(self.archive, None)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` in this process (CPython < 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
