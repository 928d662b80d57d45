"""Skip per-task zip re-reads in PySpark Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` then re-reads the whole
central directory of its archive, eagerly. A reused worker holds a
dozen importers over ``pyspark.zip`` (1.3k entries) plus two over the
spark-core jar (5.4k entries), so every task paid about 0.3 CPU-s of
zip parsing before any UDF code ran.

``install()`` wraps that method so an importer re-reads its archive only
when the archive's ``os.stat`` key ``(st_ino, st_size, st_mtime_ns)``
changed since that importer last read it. A replaced or rewritten
archive still invalidates. Python 3.13 made the method lazy, so there,
as in any process that is not running a Spark task, nothing is patched.
"""

import functools
import os
import sys
import zipimport

_KEY_ATTR = "_honas_stat_key"


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _in_spark_worker() -> bool:
    # pyspark.taskcontext is always loaded in a worker; looking it up in
    # sys.modules keeps a plain import from pulling in pyspark.
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


def _wrap(reread):
    @functools.wraps(reread)
    def invalidate_caches(self):
        # stat before reading: a write racing the read changes the key
        # again, so the next call re-reads
        key = _stat_key(self.archive)
        if key is not None and getattr(self, _KEY_ATTR, None) == key:
            return
        reread(self)
        setattr(self, _KEY_ATTR, key)

    return invalidate_caches


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` inside a Spark task on
    Python < 3.13; return whether the patch is in place."""
    if installed():
        return True
    if sys.version_info >= (3, 13) or not _in_spark_worker():
        return False
    cls = zipimport.zipimporter
    cls.invalidate_caches = _wrap(cls.invalidate_caches)
    return True


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
