"""Stop Spark Python workers from re-reading unchanged zip archives.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before Python
3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads its archive's
central directory on every call (CPython gh-103200; lazy since 3.13), and
a worker holds one zipimporter per package directory it has imported
from an archive: 16 of them after a ``mapInArrow`` task (12 on the
1,328-entry ``pyspark.zip``, 2 each on py4j's zip and the 5,359-entry
``spark-core`` jar). On a 4-core VM (Python 3.11.7, Spark 4.1.2) those
re-reads cost about 53 ms of CPU per task, over half of the 90-100 ms
of process-tree CPU an identity ``mapInArrow`` task costs.

:func:`install` replaces that method, in Spark worker processes on
Python < 3.13 only, with :func:`_invalidate_caches`: it re-reads an
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the last read, and otherwise hands the importer the shared
``zipimport._zip_directory_cache`` entry. A rewritten archive is still
re-read, once, by the first of its importers to be invalidated.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) seen just before the last read
# of its directory into zipimport._zip_directory_cache. Process-wide,
# like the directory cache it describes.
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    # stat BEFORE any read: a rewrite racing the read then leaves an old
    # stamp behind, which forces one more read next time, never a miss
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None \
            and _read_stamps.get(archive) == stamp:
        self._files = cached
        return
    _stock_invalidate_caches(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp
    else:
        _read_stamps.pop(archive, None)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` if this is a Spark Python
    worker on Python < 3.13; returns whether the patch is in place."""
    if sys.version_info < (3, 13) and "pyspark.worker" in sys.modules:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches
