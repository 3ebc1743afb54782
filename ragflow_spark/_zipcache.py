"""Skip zip-archive directory re-reads when the archive has not changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``). On CPython < 3.12
``zipimport.zipimporter.invalidate_caches`` then eagerly re-reads the
central directory of its archive — and a worker's ``sys.path`` holds
``pyspark.zip`` (~1.3k entries, one importer per imported sub-package)
and the ``spark-core`` jar (~5.4k entries). Measured on a 4-core box that
is about 0.1 s per task in a bare mapInPandas worker (16 importers) before
any user code runs, on every task of a reused worker; 0.06 ms with the
guard.

``install()`` wraps the method so the re-read happens only when the
archive's stat stamp (inode, mtime in ns, size) differs from the one taken
at the last read through the wrapper. A changed archive is re-read exactly
as before; an unchanged one keeps the shared directory cache
``zipimport._zip_directory_cache`` (which every importer of the archive
reads from). CPython 3.12+ already invalidates lazily (gh-103200), so
``install()`` does nothing there.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_MARK = "_ragflow_spark_stamped"


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _wrap(original):
    # archive path -> stamp taken just before its last directory read
    stamps: dict[str, tuple] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and stamps.get(self.archive) == stamp:
            # another importer of the same archive may have re-read it
            # since this one last did: adopt the shared, current directory
            self._files = files
            return
        original(self)
        if stamp is not None:
            stamps[self.archive] = stamp

    setattr(invalidate_caches, _MARK, True)
    return invalidate_caches


def install() -> bool:
    """Install the wrapper once per process; True when it is in place."""
    if sys.version_info >= (3, 12):
        return False
    cls = zipimport.zipimporter
    if not getattr(cls.invalidate_caches, _MARK, False):
        cls.invalidate_caches = _wrap(cls.invalidate_caches)
    return True


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, _MARK, False)
