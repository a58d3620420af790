"""Stop zip archives on ``sys.path`` being re-read on every
``importlib.invalidate_caches()``.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task. Before Python 3.13, ``zipimporter.invalidate_caches``
then re-reads the whole central directory of its archive, once per
zipimporter: a worker importing from ``pyspark.zip`` (or from an
``ocr_spark.zip`` shipped with ``--py-files``) holds one per package
directory imported from it, so every task re-reads the same archive
over and over before it reads a row. Python 3.13 only drops the cache
entry there.

:func:`install` wraps the method so that an archive is re-read only
when its ``(st_mtime_ns, st_size)`` differs from the stamp taken at its
last re-read; a changed archive is still re-read. The stat is taken
before the read, so a rewrite during the read leaves an old stamp and
the next call reads again. ``ocr_spark/__init__.py`` installs it at
import: from the next task of a worker that imported the engine on, each
archive is read once more to take its stamp, and after that only when
it changes.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` (before 3.13;
    idempotent)."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "stamped", False):
        return
    stamps: dict = {}  # archive path -> _stamp at its last re-read

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches.stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
