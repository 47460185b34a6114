"""PySpark worker daemon that keeps zip archives' directories cached.

``get_spark`` starts every Python worker of the session through this
module (``spark.python.daemon.module``).  It is ``pyspark.daemon`` with
one change to the import system of the daemon and the workers it forks.

Before each task runs, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Up to CPython 3.12 that makes every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-parse its
archive's central directory: a worker holds one importer per package
path inside ``pyspark.zip`` and the py4j zip, so each task re-read the
same 1,328-entry directory about 16 times (~0.15 CPU-s per task on a
4-core host).  After ``install``, an importer re-reads its archive only
when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the
key of the directory last read for it; an archive that cannot be
stat'ed takes the stock path.  The daemon reads each archive once more
before it forks, so its workers start with the keys in place.  CPython
3.13 made ``invalidate_caches`` lazy (``_get_files``), and there
``install`` changes nothing.

The module imports nothing beyond the stdlib and ``pyspark.daemon``,
and writes nothing to stdout: the daemon protocol reports its port
there.
"""
from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat key of the directory now in zipimport's cache;
# process-wide, like that cache
_read_keys: dict[str, tuple[int, int, int]] = {}


def _archive_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive directory only if the file changed."""
    try:
        key = _archive_key(self.archive)
    except OSError:
        _read_keys.pop(self.archive, None)
        return _stock_invalidate(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_keys.get(self.archive) == key:
        self._files = files
        return
    _stock_invalidate(self)
    _read_keys[self.archive] = key


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` where the stdlib re-reads
    eagerly; return whether the patch is in place."""
    if hasattr(zipimport.zipimporter, "_get_files"):  # lazy since 3.13
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    if install():
        importlib.invalidate_caches()
    daemon.manager()
