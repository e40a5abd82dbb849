"""Stat-checked zip-directory invalidation for reused PySpark workers."""

from __future__ import annotations

import os
import sys
import zipimport


def install_stat_checked_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives.

    Before every task a PySpark worker calls ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 and 3.12
    ``zipimporter.invalidate_caches`` answers by re-reading the central
    directory of its archive, once per zip entry in
    ``sys.path_importer_cache``: ``pyspark.zip`` under each cached
    sub-package entry, py4j, and any jar on the path (``spark-core`` has
    over 5,000 entries). In a reused worker that is 16 directory reads and
    100-250 ms of CPU per task before the UDF sees a row, paid by every
    Arrow UDF stage. CPython 3.13 dropped the eager re-read (its method
    only pops the cache), hence the version gate.

    The patched method stats the archive and keys it on
    ``(st_mtime_ns, st_size)``. It re-reads the central directory, as the
    stock method does, when that key differs from the one taken at the
    last read or when the archive was never stamped; a rewritten archive
    (new mtime or size) is therefore still re-read and its new modules
    become importable. Otherwise the importer keeps the directory cached
    in ``zipimport._zip_directory_cache``. Archives already cached are
    read and stamped once at install, so no stale directory is kept.

    Applies on CPython < 3.13 only; a second call is a no-op. Returns
    whether this call installed the patch.
    """
    zipimporter = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(
        zipimporter.invalidate_caches, "stat_checked", False
    ):
        return False
    reread = zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    stamps: dict[str, tuple[int, int] | None] = {}

    def stat_key(archive: str) -> tuple[int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self) -> None:
        archive = self.archive
        key = stat_key(archive)
        if key is not None and stamps.get(archive) == key and archive in cache:
            self._files = cache[archive]
            return
        # The key is taken before the read, so a change made during the
        # read shows up as a new key next time. A failed read leaves the
        # archive out of the cache, and the next call reads it again.
        reread(self)
        stamps[archive] = key

    invalidate_caches.stat_checked = True
    for archive in list(cache):
        key = stat_key(archive)
        try:
            cache[archive] = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            del cache[archive]
        stamps[archive] = key
    zipimporter.invalidate_caches = invalidate_caches
    return True
