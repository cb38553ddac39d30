"""Stop PySpark's Python worker from re-reading zip archives per task.

Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that files added by
``addPyFile`` become importable. On CPython 3.10-3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory, whether or not the archive changed: a
worker holds 12 importers of ``pyspark.zip`` (1,328 entries) and a few
of other archives, which costs 0.1-0.2 s of CPU per Python task, more
than a warm scorer task spends on real work.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read, and lets every importer of the
archive share that one read. A replaced or newly added archive is
re-read exactly as on stock CPython. On 3.13+, where importers read
``zipimport._zip_directory_cache`` lazily, the same assignments keep
the cache filled instead of dropping it.

The package ``__init__`` installs it only inside a Spark task; the
driver and non-Spark users keep the stock method.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat stamp, directory) of the last read; one per
# process, like zipimport's own _zip_directory_cache
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if it changed on disk."""
    archive = self.archive
    # stat before reading: a change racing the read leaves an old stamp,
    # so the next call reads again
    stamp = _stamp(archive)
    hit = _last_read.get(archive)
    if hit is not None and hit[0] == stamp:
        files = hit[1]
    else:
        _last_read.pop(archive, None)
        try:
            files = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(archive, None)
            self._files = {}
            return
        if stamp is not None:
            _last_read[archive] = (stamp, files)
    zipimport._zip_directory_cache[archive] = files
    self._files = files


def active() -> bool:
    """True when this process runs the guarded invalidate_caches."""
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` for the rest of the
    process. Reads each archive already imported from once, so the
    next task's invalidation finds every stamp recorded. Idempotent."""
    if active():
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
