"""Per-process setup of a Python UDF worker.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory: ``pyspark.zip`` is held by one importer per package
directory imported from it (a dozen), the spark-core jar by two, plus py4j —
about 27k directory entries, ~0.18 CPU-s, on every task. A reused worker
(``spark.python.worker.reuse``, the default) pays it again for each task.

``cache_zip_directories`` swaps in an invalidation that re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last read,
so a new or rewritten archive still becomes importable. It runs once per
worker process; on the driver, and on Python 3.13+ (which already defers the
re-read until the archive is next used), it installs nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat at its last read


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    The stat is taken before the read: an archive rewritten in between is
    recorded with its older stat and read again next time."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        # another importer of this archive may have re-read it: share that
        self._files = files
        return
    _reread(self)
    if key is None:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = key


def cache_zip_directories() -> None:
    """Install ``_invalidate_if_changed`` in this Python worker (idempotent;
    a no-op on the driver and on Python 3.13+). Every library UDF body calls
    it first, so the tasks after a worker's first one skip the re-reads."""
    if sys.version_info >= (3, 13) or zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    from pyspark.core.files import SparkFiles

    if SparkFiles._is_running_on_worker:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
