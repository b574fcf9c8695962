"""PySpark daemon that keeps Python tasks from re-reading zip archives.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that
makes every ``zipimporter`` re-read its whole archive directory, and
workers hold about 16 of them over ``pyspark.zip``, the py4j zip and
the spark-core JAR: 150-300 ms per task on 4 cores. Here an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
differs from its last read; otherwise it takes the shared
``zipimport._zip_directory_cache`` entry. Python 3.13 made the re-read
lazy, so there the stock daemon runs unchanged.

``session.get_spark`` selects this module via ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_read_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    stamp = _stamp(self.archive)  # taken before the read: a change during it re-reads next time
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


if __name__ == "__main__":
    from pyspark.daemon import manager

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # read each archive once; forked workers inherit the stamps
    manager()
