"""Python-worker bootstrap: read each zip archive on ``sys.path`` once.

PySpark's ``worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``.  Before CPython 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory: a worker holds about 16 of them over pyspark.zip, py4j
and the spark-core jar, about 0.25 s of CPU per task.  :func:`install`
replaces ``zipimporter.invalidate_caches`` with a version that re-reads an
archive only when its ``(st_mtime_ns, st_size)`` changed since it was last
read; importers of one archive share that read through
``zipimport._zip_directory_cache``.  CPython 3.13 already invalidates
lazily, so :func:`install` does nothing there.

The package root calls :func:`install` on Python workers only; the driver
keeps the stdlib behaviour.  A worker imports the package only when
unpickling the function the engine sent it does so.  A module-level
function, or a ``functools.partial`` of one, is pickled by reference and
does; a closure defined inside an API function is pickled by value and
does only if it refers to a module-level name of the package.
``tests/test_worker_bootstrap.py`` checks every engine entry point.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) as of its last directory read;
# process-wide, like zipimport._zip_directory_cache itself
_stamps: dict[str, tuple[int, int]] = {}


def _read(archive: str) -> None:
    st = os.stat(archive)  # before the read: a write after it shows as a change
    zipimport._zip_directory_cache[archive] = zipimport._read_directory(archive)
    _stamps[archive] = (st.st_mtime_ns, st.st_size)


def _invalidate_caches(self) -> None:
    """Re-read the archive only if it changed since its last read."""
    archive = self.archive
    try:
        st = os.stat(archive)
        if (
            _stamps.get(archive) != (st.st_mtime_ns, st.st_size)
            or archive not in zipimport._zip_directory_cache
        ):
            _read(archive)
        self._files = zipimport._zip_directory_cache[archive]
    except (OSError, zipimport.ZipImportError):
        _stamps.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        self._files = {}


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process (idempotent).

    Archives already cached are re-read once here, so every cached
    directory has the stamp it was read at."""
    if sys.version_info >= (3, 13) or zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    for archive in list(zipimport._zip_directory_cache):
        try:
            _read(archive)
        except (OSError, zipimport.ZipImportError):
            zipimport._zip_directory_cache.pop(archive, None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
