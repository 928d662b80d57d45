"""Checkpointed, resumable sketch builds with per-partition lineage.

The reference persists each period's state as an atomically-published
binary file (O_TMPFILE + linkat, src/honas_state.c:476-543) and resumes by
re-opening the active state (honas_gather.c:984-1010).  Here a checkpoint
is a directory of per-window Parquet partitions, each published crash-safely
(write to tmp dir, then `publish`'s rename-aside swap, which `recover`
completes or rolls back) together with a JSON manifest carrying lineage
(spec, input fingerprint, run id) and metrics (rows, bits set, estimates).
The streaming store (streaming/stream.py) publishes through the same swap.

Resume = enumerate manifests, skip windows already done (the anti-join the
north rule asks for), build only the missing ones.  The same layout works
on any shared filesystem; on object stores swap the rename for a job-commit
protocol (Iceberg/era-appropriate committer)."""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..spec import SketchSpec

_MANIFEST = "manifest.json"


def _part_dir(root: str, key: str) -> str:
    return os.path.join(root, f"window={key}")


def window_key(value) -> str:
    """Directory-safe key of a window value (`window=KEY/`)."""
    return str(value).replace(" ", "T").replace(":", "-")


def window_dirs(root: str) -> list[str]:
    """Sorted names of the published `window=` dirs under `root` — a
    swap's `.old` copy and unpublished `.tmp-` dirs are not windows."""
    if not os.path.isdir(root):
        return []
    return sorted(
        n for n in os.listdir(root)
        if n.startswith("window=") and not n.endswith(".old")
        and ".tmp-" not in n
    )


def publish(tmp: str, final: str) -> None:
    """Crash-safe swap of a fully written `tmp` dir into `final`: the
    previous version is renamed aside before the new one lands, so no
    crash point loses the window (the reference publishes states via
    O_TMPFILE+linkat, src/honas_state.c:476-543; `recover` undoes a
    half-done swap)."""
    old = final + ".old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(final):
        os.rename(final, old)
    os.rename(tmp, final)
    if os.path.isdir(old):
        shutil.rmtree(old)


def recover(root: str) -> None:
    """Make a store consistent after a crash mid-publish: a `.old` dir
    whose final is missing is rolled back; orphan `.old` and stray
    `.tmp-` dirs are dropped."""
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.endswith(".old"):
            final = path[: -len(".old")]
            if not os.path.isdir(final):
                os.rename(path, final)  # crash between the 2 renames
            else:
                shutil.rmtree(path)
        elif ".tmp-" in name:
            shutil.rmtree(path)


def list_done_windows(root: str) -> dict[str, dict]:
    """window_key -> manifest for every committed partition."""
    done = {}
    for name in window_dirs(root):
        mpath = os.path.join(root, name, _MANIFEST)
        if os.path.isfile(mpath):
            with open(mpath) as f:
                done[name.split("=", 1)[1]] = json.load(f)
    return done


def write_spec(root: str, spec: SketchSpec) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_spec.json"), "w") as f:
        json.dump(spec.to_dict(), f, indent=2)


def read_spec(root: str) -> SketchSpec:
    with open(os.path.join(root, "_spec.json")) as f:
        return SketchSpec.from_dict(json.load(f))


def commit_window(
    root: str,
    window_value,
    sketch_rows: DataFrame,
    spec: SketchSpec,
    input_fingerprint: str,
    metrics: dict,
    run_id: str,
) -> None:
    """Atomically publish one window's sketch rows + manifest."""
    final = _part_dir(root, window_key(window_value))
    tmp = final + f".tmp-{run_id}"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    sketch_rows.write.mode("overwrite").parquet(os.path.join(tmp, "data"))
    manifest = {
        "window": str(window_value),
        "run_id": run_id,
        "committed_at": time.time(),
        "spec": spec.to_dict(),
        "input_fingerprint": input_fingerprint,
        "metrics": metrics,
    }
    with open(os.path.join(tmp, _MANIFEST), "w") as f:
        json.dump(manifest, f, indent=2)
    publish(tmp, final)


def input_fingerprint(df: DataFrame, sha_col: str = "content_sha256") -> str:
    """Order-insensitive fingerprint of the input slice: count + xor-fold
    of xxhash64 over the per-row sha column (the content-sha256 ingest
    guard doubles as the lineage anchor).  XOR never overflows (ANSI-safe)
    and ignores row order."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({sha_col}))").alias("x"),
    ).collect()[0]
    return f"n={row['n']},xor={row['x']}"


def build_resumable(
    spark: SparkSession,
    df: DataFrame,
    spec: SketchSpec,
    root: str,
    window_col: str,
    group_cols: Sequence[str],
    build_fn,
    run_id: str = "run",
    verify_fingerprints: bool = True,
) -> DataFrame:
    """Build sketches per window, skipping committed windows.

    `build_fn(windows_df) -> sketch DataFrame` builds sketch rows for the
    windows it is given (it must group by `window_col`, which every caller
    already does).  Returns the full checkpointed sketch table.

    Scale shape: exactly TWO passes over the raw input regardless of the
    number of windows — one column-pruned groupBy for the per-window
    fingerprints, one build over all missing windows together (the old
    per-window `df.filter(...)` loop re-scanned the raw table O(W)
    times).  Per-window publication then slices the small CACHED sketch
    table, never the raw data.

    With `verify_fingerprints`, a committed window whose input slice no
    longer matches its manifest's fingerprint is rebuilt instead of
    silently reused."""
    write_spec(root, spec)
    # undo a crashed run's half-done publish and sweep its tmp dirs (a
    # tmp dir with a different run_id would otherwise linger forever)
    recover(root)
    done = list_done_windows(root)

    has_sha = "content_sha256" in df.columns
    aggs = [F.count(F.lit(1)).alias("n")]
    if has_sha:
        aggs.append(
            F.expr("bit_xor(xxhash64(content_sha256))").alias("x")
        )
    fp_rows = df.groupBy(window_col).agg(*aggs).collect()
    if not fp_rows and not done:
        raise ValueError(
            f"build_resumable: input has no rows (no {window_col} windows)"
            " and no committed checkpoint exists"
        )
    fps: dict[str, str] = {}
    windows = []
    for r in fp_rows:
        w = r[window_col]
        windows.append(w)
        fps[window_key(w)] = (
            f"n={r['n']},xor={r['x']}" if has_sha else f"rows={r['n']}"
        )
    windows.sort(key=str)

    stale = {
        k
        for k, m in done.items()
        if verify_fingerprints
        and k in fps
        and m.get("input_fingerprint") not in (None, fps[k])
    }
    for k in sorted(stale):
        print(
            f"checkpoint: window {k} input fingerprint changed "
            f"({done[k].get('input_fingerprint')} -> {fps[k]}), rebuilding"
        )
    todo = [
        w
        for w in windows
        if window_key(w) not in done or window_key(w) in stale
    ]
    if todo:
        missing = df.filter(F.col(window_col).isin(todo))
        sketch = build_fn(missing).cache()
        counts = {
            r[0]: r[1]
            for r in sketch.groupBy(window_col).count().collect()
        }
        for w in todo:
            wsk = sketch.filter(F.col(window_col) == F.lit(w))
            commit_window(
                root, w, wsk, spec, fps[window_key(w)],
                {"sketch_rows": int(counts.get(w, 0))}, run_id,
            )
        sketch.unpersist()
    return read_checkpoint(spark, root)


def read_checkpoint(spark: SparkSession, root: str) -> DataFrame:
    recover(root)
    parts = [
        os.path.join(root, name, "data")
        for name in window_dirs(root)
        if os.path.isfile(os.path.join(root, name, _MANIFEST))
    ]
    if not parts:
        raise FileNotFoundError(f"no committed windows under {root}")
    return spark.read.parquet(*parts)
