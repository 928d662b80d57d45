"""Stateful streaming NEAR-dedup: flag documents whose MinHash
signature approximately matches one seen in ANY earlier micro-batch.

The batch engine clusters near-duplicates after the fact
(operators/dedup.near_dedup); a continuously-fed pipeline wants the
signal AT INGEST — "this document is probably a near-copy of doc X we
already took" — hours or days after the original landed.  It streams
on the LSH band buckets: the same banding that bounds the batch join also
bounds the state lookup, so each arriving document is compared against
ONLY the signatures sharing one of its band values, never the corpus.

Semantics (per band bucket, key = (band, band-hash)):
  * state holds the bucket's member signatures, ordered by arrival
    (capped at max_bucket_size — a bucket that large is a degenerate
    fingerprint region, same rationale as the batch hot-bucket cap;
    overflow documents still EMIT matches but are not retained);
  * an arriving document whose signature agrees with a stored member
    on >= min_eq of num_hashes components emits one row
    (id, rep_id, n_eq, band) against the BEST-matching member
    (earliest on ties) — n_eq / num_hashes is the MinHash estimate of
    the Jaccard similarity;
  * a document appears in `bands` buckets, so it can emit up to
    `bands` rows; reduce downstream with groupBy(id).max(n_eq) (batch
    job or foreachBatch) — a second stateful aggregation in the same
    stream would chain stateful operators, which Spark restricts.

Scale shape: signatures are computed JVM-side (the zero-shuffle
minhash projection from operators/dedup) BEFORE the stateful exchange;
the stateful shuffle carries (band, bh, id, sig[num_hashes]) — content
never enters the state store.  State per bucket is <=
max_bucket_size * num_hashes longs; back with RocksDB at corpus scale
(spark.sql.streaming.stateStore.providerClass)."""

from __future__ import annotations

import math
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


def _near_matcher(
    num_hashes: int, min_eq: int, max_bucket_size: int,
    ttl_ms: "int | None" = None,
):
    def fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            # bucket idle past the TTL: drop its member signatures —
            # the bounded-state contract for infinite streams (a
            # near-copy arriving later than the TTL is simply not
            # flagged, like a key aged out of any TTL'd dedup cache)
            state.remove()
            return
        rows = []
        for pdf in pdfs:
            for did, sig in zip(pdf["_id"], pdf["sig"]):
                rows.append((int(did), np.asarray(sig, dtype=np.int64)))
        if not rows:
            return
        rows.sort(key=lambda r: r[0])  # deterministic within a batch
        if state.exists:
            ids, flat = state.get
            ids = list(ids)
            sigs = np.asarray(flat, dtype=np.int64).reshape(
                -1, num_hashes
            )
        else:
            ids = []
            sigs = np.empty((0, num_hashes), dtype=np.int64)
        out = []
        for did, sig in rows:
            if len(ids):
                eq = (sigs == sig).sum(axis=1)
                j = int(np.argmax(eq))  # best match, earliest on ties
                if eq[j] >= min_eq:
                    out.append((did, ids[j], int(eq[j]), int(key[0])))
            if len(ids) < max_bucket_size:
                ids.append(did)
                sigs = np.vstack([sigs, sig[None, :]])
        state.update(
            (ids, [int(x) for x in sigs.reshape(-1)])
        )
        if ttl_ms is not None:
            # sliding idle-TTL: every batch that touches the bucket
            # re-arms the timer
            state.setTimeoutDuration(ttl_ms)
        if out:
            yield pd.DataFrame(
                out, columns=["_id", "rep_id", "n_eq", "band"]
            )

    return fn


def near_dedup_stream(
    stream_df,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    state_ttl_minutes: "int | None" = None,
    hash_fn: str = "xxhash64",
):
    """stream_df (streaming DataFrame with id_col, text_col) ->
    append-mode stream of (id, rep_id, n_eq, band): one row per band
    bucket in which the arriving document's MinHash signature agrees
    with an earlier document's on >= ceil(threshold * num_hashes)
    components.  Blank documents carry no signature and never match
    (pair them via the exact-dedup stream instead).

    state_ttl_minutes bounds state for INFINITE streams: a bucket idle
    for that long is evicted (processing-time timeout, re-armed by
    every batch that touches the bucket), so total state is
    O(buckets active within the TTL window) instead of O(all history).
    The trade is documented recall: a near-copy arriving later than
    the TTL after its original is not flagged.  None (default) keeps
    state forever — right for bounded backfills and parity with the
    batch operator.

    hash_fn: the MinHash family ("xxhash64" production default;
    "md5" is the portable family the cross-engine oracle recomputes —
    queries()["streaming_neardedup"])."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import band_hashes, minhash_signatures

    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes "
            f"({num_hashes}); see lsh_params()"
        )
    min_eq = max(1, math.ceil(threshold * num_hashes))
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        stream_df, id_col, text_col, num_hashes, n, hash_fn=hash_fn
    ).withColumnRenamed(id_col, "_id")
    # the SAME banding expression as the batch LSH (operators/dedup.
    # band_hashes) — the stream's state-bucket keys are batch bucket
    # keys by construction
    banded = sig.select(
        "_id",
        "sig",
        F.posexplode(
            band_hashes(F.col("sig"), bands, rows_per_band)
        ).alias("band", "bh"),
    )
    if state_ttl_minutes is not None and int(state_ttl_minutes) < 1:
        # fail at plan time, not per micro-batch: ttl_ms=0 would make
        # every live bucket's setTimeoutDuration raise inside the
        # stateful operator (and fractional minutes truncate to 0)
        raise ValueError(
            f"state_ttl_minutes must be >= 1: {state_ttl_minutes}"
        )
    out_schema = "_id long, rep_id long, n_eq int, band int"
    state_schema = "ids array<long>, sigs array<long>"
    ttl_ms = (
        None if state_ttl_minutes is None
        else int(state_ttl_minutes) * 60_000
    )
    timeout = (
        GroupStateTimeout.NoTimeout if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        banded.groupBy("band", "bh")
        .applyInPandasWithState(
            _near_matcher(num_hashes, min_eq, max_bucket_size, ttl_ms),
            out_schema,
            state_schema,
            "append",
            timeout,
        )
        .withColumnRenamed("_id", id_col)
    )
