"""Cut the fixed per-task cost of a reused PySpark Python worker.

``install()``, which ``import honas_spark`` calls, puts two fixes in
place inside a running Spark task; in any other process it does nothing.

Zip re-reads.  A PySpark worker calls ``importlib.invalidate_caches()``
before every task (``pyspark.worker_util.setup_spark_files``). Before
Python 3.13, ``zipimport.zipimporter.invalidate_caches`` then re-reads
the whole central directory of its archive, eagerly. A reused worker
holds a dozen importers over ``pyspark.zip`` (1.3k entries) plus two
over the spark-core jar (5.4k entries), so every task paid about 0.3
CPU-s of zip parsing before any UDF code ran. The fix wraps that method
so an importer re-reads its archive only when the archive's ``os.stat``
key ``(st_ino, st_size, st_mtime_ns)`` changed since that importer last
read it. A replaced or rewritten archive still invalidates. Python 3.13
made the method lazy, so there it is not patched.

Post-task full collections.  PySpark's daemon runs ``gc.collect()``
after every task of a reused worker (``pyspark/daemon.py``). Each one
walks every tracked object of the worker: about 74k once pandas,
pyarrow, numpy and honas_spark are loaded, about 20 ms of CPU per task,
spent after the task has reported its times. The fix is a
``gc.callbacks`` hook that calls ``gc.freeze()`` after a generation-2
collection that ran while no task was active. What survives the
daemon's post-task collection is the worker's long-lived state, so each
later post-task collection walks only the objects created since the
previous task boundary. A collection during a task never freezes
anything, so cyclic garbage made by a task is still reclaimed at the
end of that task. Frozen objects are still freed by reference counting;
only a reference cycle among them is never collected.
"""

import functools
import gc
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


def _task_active() -> bool:
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


def _freeze_between_tasks(phase, info):
    """gc callback: freeze the survivors of a full collection that ran
    while no task was active (the daemon's post-task collection)."""
    if phase == "stop" and info["generation"] == 2 and not _task_active():
        gc.freeze()


def install() -> bool:
    """Inside a Spark task, add the GC hook and, on Python < 3.13,
    patch ``zipimporter.invalidate_caches``; return whether a task was
    active (nothing is installed otherwise)."""
    if not _task_active():
        return False
    if sys.version_info < (3, 13) and not zip_fix_installed():
        cls = zipimport.zipimporter
        cls.invalidate_caches = _wrap(cls.invalidate_caches)
    if not gc_hook_installed():
        gc.callbacks.append(_freeze_between_tasks)
    return True


def zip_fix_installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def gc_hook_installed() -> bool:
    return _freeze_between_tasks in gc.callbacks
