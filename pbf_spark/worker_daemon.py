"""Python worker daemon: ``pyspark.daemon`` with zip directories re-read
only when the archive changed on disk.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task. On CPython 3.11 each
``zipimport.zipimporter.invalidate_caches()`` re-reads its archive's
whole central directory, and a worker holds ~16 importers over
``pyspark.zip`` (1,328 entries), the spark-core jar (5,359 entries) and
the py4j zip: ~220 ms per task before the UDF body runs.

Run as ``python -m pbf_spark.worker_daemon`` (``get_spark`` sets
``spark.python.daemon.module``), so ``pbf_spark`` must be importable by
the worker's Python, as it already is for the engine's UDFs. The patch
is applied in the daemon process only and forked workers inherit it;
importing this module patches nothing.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _stat_key(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> None:
    """Make a zipimporter re-read its archive's directory only when the
    archive's ``(st_ino, st_mtime_ns, st_size)`` differs from the one
    taken before its last read, or is unknown (stat failed, or the
    directory came from another importer's read)."""
    init = zipimport.zipimporter.__init__
    reread = zipimport.zipimporter.invalidate_caches

    def __init__(self, path) -> None:
        key = _stat_key(path)
        cached = zipimport._zip_directory_cache.get(path)
        init(self, path)
        # keyed only if this importer read ``path`` itself, after the stat
        self._read_key = key if self._files is not cached else None

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        if key is None or key != getattr(self, "_read_key", None):
            reread(self)
        self._read_key = key

    zipimport.zipimporter.__init__ = __init__
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # read the directories of the importers the daemon already holds, so
    # forked workers start with every key current
    importlib.invalidate_caches()
    daemon.manager()
