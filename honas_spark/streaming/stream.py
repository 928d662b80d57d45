"""Structured Streaming ingestion — the honas-gather daemon re-expressed.

honas-gather is a socket-fed streaming aggregator with period rotation
(src/bin/honas_gather.c event loop + recheck_handler:1302-1351).  The
Spark-native equivalent: `readStream` over the landing zone ->
`foreachBatch` building per-window partial sketches for each micro-batch
-> merge into the persistent sketch store.

The merge algebra does the heavy lifting for exactly-once semantics: the
Bloom/HLL components are idempotent under re-delivery (a replayed batch
ORs in bits already set), so the store converges even across restarts;
the additive counters (n_rows, CMS) rely on the streaming checkpoint for
effectively-once, same as any counting sink.  Late/out-of-order data is
handled *better* than the reference (which stamps with now() — Quirk W3):
rows land in the window of their event time, and a re-merge is a no-op."""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..spec import SketchSpec
from ..operators.sketch_agg import build_sketches, rollup_sketches
from ..sources.checkpoint import publish, recover, window_dirs, window_key


class StreamingSketchBuilder:
    """foreachBatch sink: accumulates a sketch table at `store_dir`."""

    def __init__(
        self,
        spec: SketchSpec,
        store_dir: str,
        group_cols: Sequence[str],
        key_sha_col: str = "key_sha",
        client_col: Optional[str] = None,
        ts_col: Optional[str] = None,
        window_col: str = "window_start",
    ):
        self.spec = spec
        self.store_dir = store_dir
        self.group_cols = list(group_cols)
        self.key_sha_col = key_sha_col
        self.client_col = client_col
        self.ts_col = ts_col
        self.window_col = window_col

    def _store_path(self) -> str:
        return os.path.join(self.store_dir, "sketches")

    def read_store(self, spark: SparkSession) -> Optional[DataFrame]:
        root = self._store_path()
        recover(root)
        dirs = window_dirs(root)
        if not dirs:
            return None
        return spark.read.parquet(*(os.path.join(root, d) for d in dirs))

    def _read_manifest(self, final: str) -> Optional[dict]:
        import json

        p = os.path.join(final, "_manifest.json")
        if not os.path.isfile(p):
            return None
        try:
            with open(p) as f:
                return json.load(f)
        except (ValueError, OSError):
            return None

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Merge one micro-batch into the store.

        The store is partitioned by window (`window=KEY/` dirs) and only
        windows TOUCHED by this batch are read+merged+rewritten — per-batch
        cost is O(batch + touched windows' sketch rows), independent of
        stream length.  All touched windows are written by ONE
        `partitionBy` job (a backfill batch touching hundreds of windows
        issues O(1) Spark jobs, not one per window); the crash-safe
        per-directory swap then happens on the local filesystem only.

        Idempotent under foreachBatch's at-least-once replay: a window
        whose manifest already records this epoch_id has this batch merged
        in — re-merging would double-count the additive CMS / n_rows
        components (Bloom OR / HLL max are idempotent, counter-add is
        not), so replayed windows are skipped.  Restarting a stream over
        an existing store therefore requires the same checkpoint dir (so
        epoch ids continue) — standard Structured Streaming practice."""
        if batch_df.isEmpty():
            return
        import json
        import shutil
        import time as _time

        spark = batch_df.sparkSession
        root = self._store_path()
        recover(root)
        batch_sketches = build_sketches(
            batch_df,
            self.spec,
            group_cols=[self.window_col] + self.group_cols,
            key_sha_col=self.key_sha_col,
            client_col=self.client_col,
            ts_col=self.ts_col,
        ).cache()
        # bounded collect: one value per window touched by this batch
        touched = [
            r[0]
            for r in batch_sketches.select(self.window_col)
            .distinct()
            .collect()
        ]
        os.makedirs(root, exist_ok=True)
        todo, existing = [], []
        for w in touched:
            final = os.path.join(root, f"window={window_key(w)}")
            man = self._read_manifest(final)
            if man is not None and man.get("last_epoch_id") == int(epoch_id):
                continue  # replayed epoch: this batch is already merged
            todo.append(w)
            if os.path.isdir(final):
                existing.append(final)
        if not todo:
            batch_sketches.unpersist()
            return
        union = (
            batch_sketches
            if len(todo) == len(touched)
            else batch_sketches.filter(F.col(self.window_col).isin(todo))
        )
        if existing:
            union = spark.read.parquet(*existing).unionByName(union)
        merged = rollup_sketches(
            union, self.spec, self.window_col, self.spec.window,
            self.group_cols,
        ).cache()
        # ONE write job for every touched window: partition dirs under a
        # tmp root (`recover` clears a stray one after a crash) ...
        tmp_root = os.path.join(root, f"all.tmp-{epoch_id}")
        if os.path.isdir(tmp_root):
            shutil.rmtree(tmp_root)
        # the partition key MUST byte-match the Python-side window_key
        # used to locate the dirs below — so it IS window_key, applied
        # driver-side per touched window and shipped as a literal map
        # (windows per batch are bounded; a string-cast re-derivation in
        # SQL diverges on fractional-second window starts)
        wkey_map = F.create_map(
            *[x for w in touched
              for x in (F.lit(w), F.lit(window_key(w)))]
        )
        (
            merged.withColumn("_wkey", wkey_map[F.col(self.window_col)])
            .write.mode("overwrite")
            .partitionBy("_wkey")
            .parquet(tmp_root)
        )
        # ... and ONE count job off the cached merge for the manifests
        # (no re-read of files just written)
        counts = {
            r[0]: r[1]
            for r in merged.groupBy(self.window_col).count().collect()
        }
        merged.unpersist()
        batch_sketches.unpersist()
        for w in todo:
            wk = window_key(w)
            tmp = os.path.join(tmp_root, f"_wkey={wk}")
            if not os.path.isdir(tmp):
                # a todo window that merged to zero rows writes no
                # partition dir — nothing to publish (and a missing dir
                # must not fail the whole batch)
                continue
            # per-window lineage manifest (north rule): which epoch last
            # touched this window, when, and how many sketch rows it holds
            with open(os.path.join(tmp, "_manifest.json"), "w") as f:
                json.dump(
                    {
                        "window": str(w),
                        "last_epoch_id": int(epoch_id),
                        "committed_at": _time.time(),
                        "sketch_rows": int(counts.get(w, 0)),
                        "spec": self.spec.to_dict(),
                    },
                    f,
                )
            publish(tmp, os.path.join(root, f"window={wk}"))
        shutil.rmtree(tmp_root, ignore_errors=True)

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: Optional[str] = None,
        trigger_once: bool = True,
    ):
        writer = stream_df.writeStream.foreachBatch(self.process_batch)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
