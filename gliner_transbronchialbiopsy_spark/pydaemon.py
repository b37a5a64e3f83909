"""Python worker daemon (`spark.python.daemon.module`): pyspark's own
daemon, with `zipimporter.invalidate_caches` made lazy first.

Every task's `worker.main` calls `importlib.invalidate_caches()`, and
before CPython 3.13 that makes each cached zipimporter re-read its whole
archive directory (pyspark.zip, py4j, the spark-core jar): ~0.2 s of
CPU per task on a 4-vCPU host, more than a small stage's own Python
work. The guard re-reads an archive only after its mtime or size has
changed; the forked workers inherit it.
"""

import os
import sys
import zipimport


def _install_zip_guard() -> None:
    stdlib = zipimport.zipimporter.invalidate_caches
    read_at = {}  # archive -> (st_mtime_ns, st_size) when last read here

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib(self)  # a missing archive: _files = {}
        stamp = (st.st_mtime_ns, st.st_size)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is None or read_at.get(self.archive) != stamp:
            stdlib(self)
            read_at[self.archive] = stamp
        else:
            self._files = cached

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 drops the cache entry lazily
        _install_zip_guard()
    from pyspark import daemon

    daemon.manager()
