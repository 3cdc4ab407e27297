"""PySpark's worker daemon, minus the per-task re-read of zip archives.

``session.get_spark`` selects this module with ``spark.python.daemon.module``
where the daemon can import it (see ``session.daemon_conf``). Run as
``python -m firmwarescraper_spark.daemon``, it guards
``zipimport.zipimporter.invalidate_caches`` and then runs
``pyspark.daemon.manager()`` unchanged.

Why: PySpark 4.1.2 starts every Python task with
``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. On Python 3.11 that calls
``invalidate_caches`` on every cached ``zipimporter``, and each one re-reads
its archive's whole central directory: about a dozen importers over
``pyspark.zip``'s 1,328 entries, 0.07–0.15 s of CPU per task even over an
empty partition. A crawl round runs eight or more such tasks.

The guard re-reads an archive only when its ``os.stat``
``(st_ino, st_size, st_mtime_ns)`` differs from the one taken before its last
read, so a rewritten archive is still re-read. The file-system finders keep
their own invalidation, so ``.py`` files and archives that ``addPyFile`` or
``SparkFiles`` add after the first task still import. The daemon reads every
archive once before it forks, so its workers inherit the recorded keys.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_keys: dict = {}  # archive path -> stat key taken before its last read


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_keys.get(self.archive) == key:
        self._files = files
        return
    _reread(self)
    _read_keys[self.archive] = key


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
