"""Re-read a zip archive on import-cache invalidation only if it changed.

Every Python task in a Spark worker starts with
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Before CPython 3.13 that makes each ``zipimporter`` on ``sys.path`` re-parse
its archive's whole central directory: ``pyspark.zip`` once per package
importer and the spark-core jar, about 0.3 s of CPU in every task.  Here an
archive is re-read only when its ``(st_mtime_ns, st_size, st_ino)`` differs
from the key it had before its last read, so a rewritten or re-shipped
archive (``addPyFile``) is still picked up.  CPython 3.13 invalidates
lazily, so nothing is installed there.
"""

import os
import sys
import zipimport


def _install() -> None:
    reread = zipimport.zipimporter.invalidate_caches
    read_at = {}  # archive -> (stat key taken before the read, its files)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = read_at.get(self.archive)
        if seen is not None and seen[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        read_at.pop(self.archive, None)
        reread(self)
        if self.archive in zipimport._zip_directory_cache:  # the read succeeded
            read_at[self.archive] = key, self._files

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _install()
