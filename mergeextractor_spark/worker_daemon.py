"""Python worker daemon whose tasks re-read a zip archive only when it changed.

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. On Python
3.11 and 3.12 that makes every ``zipimporter`` on the worker's path
re-read its archive's central directory: 14-16 importers over the
1,328-entry ``pyspark.zip``, about 0.27 s of worker CPU per task before
the task reads a row. ``install()`` keeps the re-read but skips it while
the archive's ``(st_mtime_ns, st_size, st_ino)`` equals that of the last
read in this process. ``get_spark`` starts Spark's daemon through this
module (``spark.python.daemon.module``); its forked workers inherit the
patch. Under pyspark's own daemon the package's ``__init__`` calls
``install()`` in each worker that imports it. Importing this module
patches nothing.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` (idempotent)."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "__wrapped__", None) is not None:
        return
    read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stamp of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return original(self)  # drops the archive from the cache
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        if self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = stamp

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # pyspark.daemon reads the worker module from sys.argv[1] on import
    import pyspark.daemon

    install()
    importlib.invalidate_caches()  # record every archive before the first fork
    pyspark.daemon.manager()
