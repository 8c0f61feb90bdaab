"""Spark workers call ``importlib.invalidate_caches()`` per task; before 3.12
that re-reads every zip on the path (150-270 ms a task, 4-core VM)."""
import os
import sys
import zipimport


def _stamp_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip an unchanged archive."""
    files = sys.modules.get("pyspark.core.files")
    reread = zipimport.zipimporter.invalidate_caches
    if (sys.version_info >= (3, 12) or getattr(reread, "stamped", False)
            or files is None or not files.SparkFiles._is_running_on_worker):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._read_stamp = None
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp
    invalidate_caches.stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
