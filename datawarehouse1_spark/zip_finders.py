"""Zip-archive import finders that re-read an archive only when it changed.

PySpark's Python worker calls `importlib.invalidate_caches()` before
every task (`pyspark.worker_util.setup_spark_files`). Before CPython 3.13
that makes every cached `zipimport.zipimporter` re-read its
archive's central directory, whether or not the archive changed. A
worker imports pyspark from `pyspark.zip` (1,328 members), and each
imported sub-package (`pyspark.sql`, `pyspark.sql.pandas`, ...) caches a
finder of its own, so a reused worker re-reads that directory ~16 times
per task. On a 4-core x86 box that is ~210-240 ms of worker CPU before a
`mapInPandas` task starts its work, against ~40 ms with these finders.

`install()` swaps the stdlib class for `StampedZipImporter`, both in
`sys.path_hooks` (finders created later) and in `sys.path_importer_cache`
(finders already created). Its `invalidate_caches()` re-reads the archive
only when the archive's `(st_mtime_ns, st_size)` differs from what it was
when the finder last read it, so a rewritten archive is still picked up
on the next invalidation, as with the stdlib finder.

The package `__init__` calls `install()`, so it runs in the application
process and in every Python worker that deserializes package code (the
first task in a worker pays the old cost once; later tasks do not).
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A `zipimporter` whose `invalidate_caches()` is a no-op while the
    archive's modification time and size are unchanged."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _stamp(self.archive)

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == self._stamp:
            return
        super().invalidate_caches()
        self._stamp = stamp


def install() -> None:
    """Use `StampedZipImporter` for new and already-cached zip finders.
    Idempotent: only plain stdlib finders and hooks are replaced."""
    hooks = sys.path_hooks
    for i, hook in enumerate(hooks):
        if hook is zipimport.zipimporter:
            hooks[i] = StampedZipImporter
    refreshed: set[str] = set()
    for key, finder in list(sys.path_importer_cache.items()):
        if type(finder) is not zipimport.zipimporter:
            continue
        if finder.archive not in refreshed:
            # what this process cached may predate a rewrite: read each
            # archive once more, so the new finders' stamps match their data
            finder.invalidate_caches()
            refreshed.add(finder.archive)
        try:
            sys.path_importer_cache[key] = StampedZipImporter(key)
        except zipimport.ZipImportError:
            sys.path_importer_cache.pop(key, None)
