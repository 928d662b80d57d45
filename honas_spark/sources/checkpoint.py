"""The sketch store: one writer, one manifest schema and one reader for the
per-window sketch rows of batch builds, rotations and streams.

The reference persists each period's state as an atomically-published
binary file (O_TMPFILE + linkat, src/honas_state.c:476-543) and resumes by
re-opening the active state (honas_gather.c:984-1010).  Here a store is a
directory holding `_spec.json` and one `window=KEY/` dir per window: the
window's sketch rows as Parquet under `data/`, and a `manifest.json` with
`window`, `run_id`, `committed_at`, `sketch_rows` and `spec`, plus the
`input_fingerprint` of a batch build or the `last_epoch_id` of a stream.
This module is the only one that knows the layout and the key format:

- `write_windows` publishes any number of windows with ONE Spark write
  job, then swaps each window in with `publish`'s rename-aside swap,
  which `recover` completes or rolls back after a crash.
  `build_resumable`, the CLI's `rotate` and the streaming
  sink (streaming/stream.py) all write through it.
- `read_checkpoint` reads every committed window, or the named ones.
  Stores written by the earlier streaming sink, with the Parquet files and
  a `_manifest.json` directly in `window=KEY/`, read in place until a
  batch rewrites their windows.
- `window_key` computes the keys in Spark, in the session time zone.
  Earlier code keyed windows in the driver's local zone; before it
  resumes a build or merges a stream's first batch, `check_window_keys`
  refuses a store whose earlier-format windows carry such keys.

Resume = enumerate manifests, skip windows already done (the anti-join the
north rule asks for), build only the missing ones.  The same layout works
on any shared filesystem; on object stores swap the rename for a job-commit
protocol (Iceberg/era-appropriate committer)."""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path
from typing import Collection, Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..spec import SketchSpec

_MANIFEST = "manifest.json"


def window_key(col: str) -> Column:
    """Directory-safe key of each row's window (`window=KEY/`), for a
    TIMESTAMP or TIMESTAMP_NTZ column.

    Computed in Spark, in the session time zone: a window value collected
    to the driver becomes a local-time datetime, which folds the two
    hours of a DST fall-back into one."""
    # microseconds only when a window starts between whole seconds
    return F.regexp_replace(
        F.date_format(col, "yyyy-MM-dd'T'HH-mm-ss.SSSSSS"), r"\.0{6}$", ""
    )


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
    `.tmp-` dirs (of any run id) are dropped.  Every read and write of
    the windows runs it first."""
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


def _committed(
    root: str, keys: Optional[Collection[str]] = None
) -> dict[str, tuple[str, str]]:
    """window key -> (data path, manifest path) of every committed window,
    or of the windows whose keys are in `keys`."""
    recover(root)
    out = {}
    for name in window_dirs(root):
        if keys is not None and name.split("=", 1)[1] not in keys:
            continue
        wdir = os.path.join(root, name)
        for data, manifest in (
            (os.path.join(wdir, "data"), os.path.join(wdir, _MANIFEST)),
            (wdir, os.path.join(wdir, "_manifest.json")),  # earlier stream
        ):
            if os.path.isfile(manifest):
                out[name.split("=", 1)[1]] = (data, manifest)
                break
    return out


def list_done_windows(
    root: str, keys: Optional[Collection[str]] = None
) -> dict[str, dict]:
    """window key -> manifest for every committed window, or for the
    windows whose keys are in `keys`."""
    return {k: json.loads(Path(m).read_text())
            for k, (_, m) in _committed(root, keys).items()}


def check_window_keys(spark: SparkSession, root: str, window_col: str) -> None:
    """Refuse to extend a store whose earlier-format windows (manifest
    `window` not equal to the key) carry keys that the windows' own
    `window_col` values no longer give.  Earlier code keyed windows in the
    driver's local time zone; resuming such a store would add a second
    copy of each window under its session-zone key."""
    old = {k for k, m in list_done_windows(root).items()
           if m.get("window") != k}
    if old:
        keys = read_checkpoint(spark, root, old).select(window_key(window_col))
        new = {r[0] for r in keys.distinct().collect()}
        if new != old:
            raise ValueError(
                f"{root}: windows {sorted(old)} hold the data of windows "
                f"{sorted(new)}, keyed in another time zone; rebuild the "
                "store, or `rotate` it into a new one")


def write_spec(root: str, spec: SketchSpec) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_spec.json"), "w") as f:
        json.dump(spec.to_dict(), f, indent=2)


def read_spec(root: str) -> SketchSpec:
    with open(os.path.join(root, "_spec.json")) as f:
        return SketchSpec.from_dict(json.load(f))


def write_windows(
    root: str,
    rows: DataFrame,
    key: str,
    fields: dict,
    run_id: str,
    fingerprints: Optional[Mapping[str, str]] = None,
) -> int:
    """Publish every window of `rows` (windowed by column `key`) under
    `root` with ONE Spark write job, whatever the number of windows, and
    return how many were published.

    Every manifest records `fields` besides the `window`, `run_id`,
    `committed_at` and `sketch_rows` written here, and window `k`'s
    `input_fingerprint` is `fingerprints[k]` when that is given; a window
    without one fails before anything is written.
    Each window is moved from the job's output into its own tmp dir and
    swapped in by `publish`, so a crash leaves every window at its old or
    its new version.  A window without rows publishes nothing."""
    recover(root)
    rows = rows.withColumn("_wkey", window_key(key)).cache()
    counts = dict(rows.groupBy("_wkey").count().collect())
    if fingerprints is not None and counts.keys() - fingerprints.keys():
        rows.unpersist()
        raise ValueError(f"no input fingerprint for windows "
                         f"{sorted(counts.keys() - fingerprints.keys())}")
    tmp_root = os.path.join(root, f"all.tmp-{run_id}")
    rows.write.partitionBy("_wkey").parquet(tmp_root)
    rows.unpersist()
    for wkey, n in counts.items():
        final = os.path.join(root, f"window={wkey}")
        tmp = f"{final}.tmp-{run_id}"
        os.makedirs(tmp)
        os.rename(os.path.join(tmp_root, f"_wkey={wkey}"),
                  os.path.join(tmp, "data"))
        manifest = {**fields, "window": wkey, "run_id": run_id,
                    "committed_at": time.time(), "sketch_rows": n}
        if fingerprints is not None:
            manifest["input_fingerprint"] = fingerprints[wkey]
        with open(os.path.join(tmp, _MANIFEST), "w") as f:
            json.dump(manifest, f, indent=2)
        publish(tmp, final)
    shutil.rmtree(tmp_root)
    return len(counts)


def build_resumable(
    spark: SparkSession,
    df: DataFrame,
    spec: SketchSpec,
    root: str,
    window_col: str,
    group_cols: Sequence[str],
    build_fn,
    run_id: str = "run",
) -> DataFrame:
    """Build sketches per window, skipping committed windows.

    `build_fn(windows_df) -> sketch DataFrame` builds sketch rows for the
    windows it is given (it must group by `window_col`, which every caller
    already does).  Returns the full checkpointed sketch table.

    Scale shape: exactly TWO passes over the raw input regardless of the
    number of windows — one column-pruned groupBy for the per-window
    fingerprints, one build over all missing windows together — and one
    write job for all of them.

    A committed window whose input slice no longer matches its manifest's
    fingerprint (count + xor-fold of xxhash64 over `content_sha256` when
    the input has it, else the row count) is rebuilt instead of silently
    reused."""
    write_spec(root, spec)
    check_window_keys(spark, root, window_col)
    done = list_done_windows(root)

    wkey = window_key(window_col)
    has_sha = "content_sha256" in df.columns
    aggs = [F.count(F.lit(1)).alias("n")]
    if has_sha:
        aggs.append(
            F.expr("bit_xor(xxhash64(content_sha256))").alias("x")
        )
    fps = {
        r["k"]: f"n={r['n']},xor={r['x']}" if has_sha else f"rows={r['n']}"
        for r in df.groupBy(wkey.alias("k")).agg(*aggs).collect()
    }
    if not fps and not done:
        raise ValueError(
            f"build_resumable: input has no rows (no {window_col} windows)"
            " and no committed checkpoint exists"
        )
    stale = {
        k
        for k, m in done.items()
        if k in fps and m.get("input_fingerprint") not in (None, fps[k])
    }
    for k in sorted(stale):
        print(
            f"checkpoint: window {k} input fingerprint changed "
            f"({done[k].get('input_fingerprint')} -> {fps[k]}), rebuilding"
        )
    todo = sorted(k for k in fps if k not in done or k in stale)
    if todo:
        write_windows(
            root, build_fn(df.filter(wkey.isin(todo))), window_col,
            {"spec": spec.to_dict()}, run_id, {k: fps[k] for k in todo},
        )
    return read_checkpoint(spark, root)


def read_checkpoint(
    spark: SparkSession, root: str, keys: Optional[Collection[str]] = None
) -> DataFrame:
    """The sketch rows of every committed window under `root`, or of the
    windows whose keys are in `keys`."""
    parts = [data for data, _ in _committed(root, keys).values()]
    if not parts:
        raise FileNotFoundError(f"no committed windows under {root}")
    return spark.read.parquet(*parts)
