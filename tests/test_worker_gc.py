"""The worker-side GC hook: installed only inside a Spark task, it
freezes the survivors of a full collection that ran while no task was
active (the daemon's post-task collection), so later post-task
collections walk only what the last task left, and it never keeps a
task's cyclic garbage alive."""

import gc

import pytest

from honas_spark import _worker


@pytest.fixture
def freezes(monkeypatch):
    """Record gc.freeze calls instead of freezing the test process."""
    calls = []
    monkeypatch.setattr(gc, "freeze", lambda: calls.append(1))
    return calls


def test_gc_hook_not_installed_outside_task():
    import pyspark.taskcontext  # noqa: F401  (present, but no task)

    assert not _worker._task_active()
    assert not _worker.install()
    assert not _worker.gc_hook_installed()
    assert _worker._freeze_between_tasks not in gc.callbacks


def test_gc_hook_freezes_only_after_full_collection_between_tasks(
    monkeypatch, freezes
):
    cb = _worker._freeze_between_tasks
    monkeypatch.setattr(_worker, "_task_active", lambda: True)
    for gen in (0, 1, 2):
        cb("start", {"generation": gen})
        cb("stop", {"generation": gen, "collected": 0, "uncollectable": 0})
    assert freezes == []  # a task is active: never freeze
    monkeypatch.setattr(_worker, "_task_active", lambda: False)
    cb("start", {"generation": 2})
    cb("stop", {"generation": 0, "collected": 0, "uncollectable": 0})
    cb("stop", {"generation": 1, "collected": 0, "uncollectable": 0})
    assert freezes == []  # only a full collection's survivors
    cb("stop", {"generation": 2, "collected": 0, "uncollectable": 0})
    assert freezes == [1]


def test_reused_worker_freezes_long_lived_state(spark):
    def _gc_probe(batches):
        """mapInPandas body: report the worker's freeze count and tracked
        objects at task start, and the weakrefs of earlier tasks' cycles."""
        import gc as g
        import sys as s
        import types
        import weakref

        import pandas as pd

        import honas_spark  # noqa: F401  (installs the hook in this worker)
        from honas_spark import _worker as w

        frozen, tracked = g.get_freeze_count(), len(g.get_objects())
        box = s.modules.setdefault(
            "_honas_gc_test", types.ModuleType("_honas_gc_test")
        )
        refs = getattr(box, "refs", [])
        seen, alive = len(refs), sum(r() is not None for r in refs)

        class Node:
            pass

        node = Node()
        node.self = node  # cyclic garbage once the task ends
        box.refs = refs + [weakref.ref(node)]
        del node
        for _ in batches:
            pass
        yield pd.DataFrame({
            "hooked": [w.gc_hook_installed()], "frozen": [frozen],
            "tracked": [tracked], "seen": [seen], "alive": [alive],
        })

    schema = ("hooked boolean, frozen long, tracked long, seen long,"
              " alive long")
    df = spark.range(4, numPartitions=4)
    # `seen` numbers this probe's earlier tasks on the worker.  Idle
    # workers are handed out oldest first, so with a pool left by
    # earlier jobs a run may land on workers this probe never used:
    # run until some task is a worker's third probe task.  A fresh
    # worker's second task still re-reads each zip archive once (the zip
    # fix records the archives' stat keys then), which leaves ~14k new
    # directory tuples tracked; from its third task on only what the
    # previous task left is.
    rows = []
    for _ in range(30):
        rows += df.mapInPandas(_gc_probe, schema).collect()
        if any(r["seen"] >= 2 for r in rows):
            break
    assert all(r["hooked"] for r in rows)
    third = [r for r in rows if r["seen"] >= 2]
    assert third, rows
    for r in third:
        # the worker's long-lived state (~74k objects) is frozen; only
        # what the previous task left behind is still tracked
        assert r["frozen"] > 0, r
        assert r["tracked"] < 5000, r
    # the cycle each earlier task made on a worker was collected after
    # that task, not frozen with the worker's state
    assert all(r["alive"] == 0 for r in rows), rows
