"""Stamp-checked ``zipimporter.invalidate_caches`` for Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 each live ``zipimporter`` then re-reads its
whole archive's central directory, and a worker holds one importer per
package imported from ``pyspark.zip`` (about 14 over ~1,300 entries):
~100 ms of every Python task, before any row is touched.

:func:`install` replaces the method with one that re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last
read; importers over the same unchanged archive share that one read.
A replaced or rewritten archive is still re-read, so the documented
contract (``invalidate_caches`` picks up modules added to a zip on
``sys.path``) holds. ``ocr_spark/__init__.py`` installs it, so every
worker that unpickles one of this package's UDFs runs with it from its
next task on.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> stamp of the file its cached directory was read from
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches``; idempotent."""
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "_stamp_checked", False):
        return

    def invalidate_caches(self) -> None:
        archive = self.archive
        stamp = _stamp(archive)
        cached = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and cached is not None \
                and _stamps.get(archive) == stamp:
            self._files = cached
            return
        # stat BEFORE the read: an archive replaced in between carries a
        # new stamp at the next call and is read again
        reread(self)
        if stamp is None:
            _stamps.pop(archive, None)
        else:
            _stamps[archive] = stamp

    invalidate_caches._stamp_checked = True
    invalidate_caches.__doc__ = reread.__doc__
    cls.invalidate_caches = invalidate_caches
