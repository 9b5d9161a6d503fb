"""Python worker daemon: ``pyspark.daemon`` with warm workers.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so the JVM starts it (``python -m``) in place of ``pyspark.daemon``.
Two per-task costs of the stock daemon go away:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at the start of EVERY task. On
  CPython 3.11 and 3.12 each ``zipimporter.invalidate_caches`` re-reads
  its archive's whole directory in pure Python, and a worker holds one
  importer per package imported from ``pyspark.zip`` (16 of them over
  its 1,328 entries): about 0.9 s of CPU per reused-worker task. The
  replacement below re-reads an archive only when its
  ``(st_mtime_ns, st_size)`` changed since the last read, which keeps
  the invalidation's meaning (a rewritten archive is read again).
- Each forked worker imported numpy, pandas and pyarrow on its first
  Arrow task. The daemon imports them once before it forks.
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: the Arrow UDF stack (mapInPandas / pandas UDFs) every forked worker
#: inherits already imported
PRELOAD = ("numpy", "pandas", "pyarrow", "pyspark.sql.pandas.serializers")

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) taken just before its last
#: read (None when the stat failed)
_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken BEFORE the re-read, so an archive rewritten
    during the read is read again next time. The directory cache is
    shared by every importer over one archive: on 3.11/3.12 an importer
    that skips adopts the dict another importer's re-read stored there
    (3.13 reads that cache lazily and has no per-importer copy)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and stamp == _stamps.get(self.archive) and files is not None:
        if hasattr(self, "_files"):
            self._files = files
        return
    _stamps[self.archive] = stamp
    _reread(self)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # these imports start threads (OpenBLAS's pool, jemalloc's
    # background thread); both libraries restart them in a forked child
    for name in PRELOAD:
        importlib.import_module(name)
    # stamp every archive once here, so forked workers inherit the stamps
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
