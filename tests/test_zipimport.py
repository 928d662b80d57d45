"""The worker-side zipimport fix: an importer re-reads its archive on
``importlib.invalidate_caches()`` only when the archive's stat key
changed, and the fix installs only inside a Spark task on Python < 3.13.
(The GC hook that the same install adds is tested in test_worker_gc.py.)"""

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest

from honas_spark import _worker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _drop_gc_hook():
    while _worker._freeze_between_tasks in gc.callbacks:
        gc.callbacks.remove(_worker._freeze_between_tasks)


@pytest.fixture
def patched(monkeypatch):
    """Install the fix as if inside a worker; undone after the test."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(_worker, "_task_active", lambda: True)
    if sys.version_info >= (3, 13):
        pytest.skip("zipimporter.invalidate_caches is lazy on 3.13+")
    try:
        assert _worker.install()
        assert _worker.zip_fix_installed()
        yield
    finally:
        _drop_gc_hook()


def test_unchanged_archive_is_not_reread(patched, tmp_path, monkeypatch):
    arch = str(tmp_path / "pkg.zip")
    mod_a, mod_b = f"hzt_a_{id(tmp_path)}", f"hzt_b_{id(tmp_path)}"
    _write_zip(arch, {mod_a: "X = 1\n"})
    monkeypatch.syspath_prepend(arch)
    # registered through monkeypatch so the importer is dropped afterwards
    monkeypatch.setitem(
        sys.path_importer_cache, arch, zipimport.zipimporter(arch)
    )
    assert importlib.import_module(mod_a).X == 1

    reads = []
    orig_read = zipimport._read_directory

    def counting_read(archive):
        if archive == arch:
            reads.append(archive)
        return orig_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # the first invalidation reads (the importer has no key yet) ...
    importlib.invalidate_caches()
    assert len(reads) == 1
    # ... and later ones on the unchanged archive do not
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1

    # a rewritten archive is re-read and its new module imports
    _write_zip(arch, {mod_a: "X = 1\n", mod_b: "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module(mod_b).Y == 2
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_not_installed_outside_worker_or_on_313(monkeypatch):
    import pyspark.taskcontext  # noqa: F401  (present, but no task)

    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    assert not _worker.zip_fix_installed()
    assert not _worker._task_active()
    assert not _worker.install()
    with monkeypatch.context() as m:
        m.delitem(sys.modules, "pyspark.taskcontext")
        assert not _worker._task_active()
    with monkeypatch.context() as m:
        m.setattr(_worker, "_task_active", lambda: True)
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        try:
            # the GC hook still goes in; the zip patch does not
            assert _worker.install()
            assert _worker.gc_hook_installed()
        finally:
            _drop_gc_hook()
    assert not _worker.zip_fix_installed()


def test_fix_active_inside_spark_worker(spark):
    """A mapInPandas task that imports honas_spark sees the fix in place
    and re-reads no archive on a repeated invalidation."""

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        import pandas as pd

        from honas_spark import _worker as z

        orig = zi._read_directory
        reads = []
        zi._read_directory = lambda a: reads.append(a) or orig(a)
        try:
            il.invalidate_caches()  # stamps importers created earlier
            del reads[:]
            il.invalidate_caches()
        finally:
            zi._read_directory = orig
        for _ in batches:
            pass
        yield pd.DataFrame({
            "eager": [s.version_info < (3, 13)],
            "installed": [z.zip_fix_installed()],
            "zip_importers": [sum(
                isinstance(f, zi.zipimporter)
                for f in s.path_importer_cache.values()
            )],
            "rereads": [len(reads)],
        })

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(
            probe,
            "eager boolean, installed boolean, zip_importers long, "
            "rereads long",
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["installed"] == r["eager"], r
        if r["eager"]:
            assert r["zip_importers"] > 0, r
            assert r["rereads"] == 0, r
