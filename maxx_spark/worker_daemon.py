"""Python worker daemon of every engine session (``spark.python.daemon.module``).

Spark forks every Python worker from this daemon. Each task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on CPython 3.11 ``zipimporter.invalidate_caches`` re-reads its archive's
whole central directory; workers import pyspark and py4j from zips, so the
~18 zip importers cost ~0.27 s of CPU per task. Here an importer re-reads its
archive only when the archive's stat differs from the one recorded at its last
read (the first call always re-reads); directory finders are untouched.
The daemon records every importer's stamp before it forks, so a worker's
first task re-reads nothing that is unchanged.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def stat_checked_invalidate_caches(self):
    """Re-read the archive unless its (mtime_ns, size, inode) is unchanged since the last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and read every cached zip
    importer's archive once, recording its stamp for the forked workers."""
    zipimport.zipimporter.invalidate_caches = stat_checked_invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
