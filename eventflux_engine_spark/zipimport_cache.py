"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py``, ``setup_spark_files``) so that
files shipped with ``addPyFile`` become importable. On CPython 3.11 and 3.12
that call makes every ``zipimporter`` re-parse its archive's whole central
directory. A warm worker holds one zipimporter per ``sys.path`` entry that
lies inside ``pyspark.zip``, the py4j zip or the Spark core jar: about 26.7k
directory entries, 150-275 ms on a 4-core box, paid by every task of every
``mapInPandas`` / ``mapInArrow`` / ``applyInPandas`` stage. CPython 3.13 made
the re-read lazy.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the last read. A new or rewritten archive is still read. Importing the
engine package installs it, so every worker that unpickles an engine UDF
carries it from then on. On Python >= 3.13 nothing is installed.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp of the archive when it was last read, its directory)
_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_caches(self) -> None:
    """Reload the archive's directory only if the file changed since the
    last read; otherwise re-point this importer at that read's directory."""
    # stat BEFORE reading: an archive rewritten mid-read is recorded with
    # its old stamp, so the next call sees a change and reads it again
    stamp = _stamp(self.archive)
    seen = _read.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _original(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read[self.archive] = (stamp, self._files)
    else:  # unreadable or gone: the original dropped it from the cache
        _read.pop(self.archive, None)


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> None:
    """Install the stamp check; a no-op on Python >= 3.13, which reads
    zip directories lazily and needs no fix."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
