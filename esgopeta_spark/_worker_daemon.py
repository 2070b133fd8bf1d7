"""PySpark's worker daemon, with zip directories kept until the archive changes.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Before every task a Python worker calls ``importlib.invalidate_caches()``,
and on CPython < 3.13 ``zipimporter.invalidate_caches`` re-reads the
whole directory of its archive: 16 reads of ``pyspark.zip``/py4j per task.
Here that method first compares the archive's ``(mtime_ns, size, ino)``
with the signature taken when its directory was last read, and reads it
again only when they differ.  The daemon patches before it forks, so
every worker inherits the patch and the directories the daemon read.
"""

import functools
import os
import sys
import zipimport

from pyspark import daemon


def _signature(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def keep_zip_directories():
    cache = zipimport._zip_directory_cache
    read_as = {archive: _signature(archive) for archive in list(cache)}
    reread = zipimport.zipimporter.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        sig = _signature(self.archive)
        if sig is not None and read_as.get(self.archive) == sig and self.archive in cache:
            self._files = cache[self.archive]
            return
        reread(self)
        read_as[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 drops the cache instead of re-reading
        keep_zip_directories()
    daemon.manager()
