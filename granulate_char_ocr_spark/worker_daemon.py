"""Spark Python daemon that stops per-task re-reads of zip archives.

``session.get_spark`` points ``spark.python.daemon.module`` here, so every
Python worker is forked from this process. Before each task pyspark calls
``importlib.invalidate_caches()``; below Python 3.13 that makes every
``zipimporter`` on ``sys.path`` re-read its archive's whole directory, and
the workers' path holds pyspark.zip and the spark-core jar (~0.2 s a task).
The patch re-reads an archive only when its stat stamp changed, so a new or
rewritten archive is still picked up.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> stat stamp taken before its last read


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is not None and _stamps.get(self.archive) == stamp:
        # another importer over this archive already re-read it
        self._files = zipimport._zip_directory_cache.get(self.archive, {})
        return
    _stamps[self.archive] = stamp
    _reread(self)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``; Python 3.13+ already reads
    archive directories lazily, so it is left alone there."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    install()
    # record every archive's stamp once here, so forked workers start warm
    importlib.invalidate_caches()
    daemon.manager()
