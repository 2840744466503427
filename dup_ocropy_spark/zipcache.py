"""Stop Spark Python workers from re-reading zip archives on every task.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``), so that archives shipped
with ``addPyFile`` / ``--py-files`` become importable. On CPython 3.11
and 3.12, ``zipimporter.invalidate_caches`` answers that call by eagerly
re-reading the archive's whole central directory, once per zipimporter
instance. A worker holds one instance per package directory it imported
from ``pyspark.zip`` (about 16 over the 3.5 MB archive), so every task
pays about 0.2 s of CPU whatever it does. CPython 3.13 made the call
lazy.

``install()`` backports that: an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since it was last read, so an archive
rewritten or newly shipped at a path is still picked up. It patches only
inside a Spark Python worker and only on CPython < 3.13. pyspark marks
the process as a worker before it unpickles the task's function, and
that unpickling is what imports this package there. The driver, plain
Python processes and newer interpreters keep the stock importer.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size), files) as of its last read;
# process-wide, like zipimport's own _zip_directory_cache
_last_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    last = _last_read.get(self.archive)
    if key is not None and last is not None and last[0] == key:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]  # noqa: SLF001
        return
    _stock_invalidate(self)
    if key is not None and zipimport._zip_directory_cache.get(self.archive) is self._files:  # noqa: SLF001
        _last_read[self.archive] = (key, self._files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` when this process is a Spark
    Python worker on CPython < 3.13."""
    files = sys.modules.get("pyspark.core.files")
    if sys.version_info < (3, 13) and files is not None and files.SparkFiles._is_running_on_worker:  # noqa: SLF001
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
