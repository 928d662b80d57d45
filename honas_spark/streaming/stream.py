"""Structured Streaming ingestion — the honas-gather daemon re-expressed.

honas-gather is a socket-fed streaming aggregator with period rotation
(src/bin/honas_gather.c event loop + recheck_handler:1302-1351).  The
Spark-native equivalent: `readStream` over the landing zone ->
`foreachBatch` building per-window partial sketches for each micro-batch
-> merge into the sketch store of sources/checkpoint.py, the same store a
batch build or a rotation writes: `read_checkpoint` reads the touched
windows, `write_windows` publishes the merged ones, and each window's
manifest records the last epoch merged into it.

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

from pyspark.sql import DataFrame, SparkSession

from ..spec import SketchSpec
from ..operators.sketch_agg import build_sketches, rollup_sketches
from ..sources.checkpoint import (
    check_window_keys, list_done_windows, read_checkpoint, window_key,
    write_windows,
)


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
        self._keys_checked = False

    def _store_path(self) -> str:
        return os.path.join(self.store_dir, "sketches")

    def read_store(self, spark: SparkSession) -> Optional[DataFrame]:
        """The store's sketch table, or None before the first batch."""
        try:
            return read_checkpoint(spark, self._store_path())
        except FileNotFoundError:
            return None

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Merge one micro-batch into the store.

        Only the windows TOUCHED by this batch are read, merged and
        rewritten, and only their manifests are loaded, so the work per
        batch is O(batch + touched windows' sketch rows), independent of
        stream length, and `write_windows` publishes all of them with one
        Spark write job.  The first batch of a builder also runs
        `check_window_keys` over the whole store once.

        Idempotent under foreachBatch's at-least-once replay: a window
        whose manifest already records this epoch_id has this batch merged
        in — re-merging would double-count the additive CMS / n_rows
        components (Bloom OR / HLL max are idempotent, counter-add is
        not), so replayed windows are skipped.  Restarting a stream over
        an existing store therefore requires the same checkpoint dir (so
        epoch ids continue) — standard Structured Streaming practice."""
        if batch_df.isEmpty():
            return
        root = self._store_path()
        spark = batch_df.sparkSession
        if not self._keys_checked:
            check_window_keys(spark, root, self.window_col)
            self._keys_checked = True
        batch = build_sketches(
            batch_df,
            self.spec,
            group_cols=[self.window_col] + self.group_cols,
            key_sha_col=self.key_sha_col,
            client_col=self.client_col,
            ts_col=self.ts_col,
        ).cache()
        wkey = window_key(self.window_col)
        # bounded collect: one key per window touched by this batch
        touched = [r[0] for r in batch.select(wkey).distinct().collect()]
        done = list_done_windows(root, touched)
        todo = [
            k for k in touched
            if done.get(k, {}).get("last_epoch_id") != int(epoch_id)
        ]
        if todo:
            rows = batch.filter(wkey.isin(todo))
            existing = [k for k in todo if k in done]
            if existing:
                rows = read_checkpoint(spark, root, existing).unionByName(rows)
            merged = rollup_sketches(
                rows, self.spec, self.window_col, self.spec.window,
                self.group_cols,
            )
            write_windows(
                root, merged, self.window_col,
                {"spec": self.spec.to_dict(), "last_epoch_id": int(epoch_id)},
                f"epoch{epoch_id}",
            )
        batch.unpersist()

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
