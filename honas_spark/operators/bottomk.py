"""Bottom-k distinct SAMPLE — the eighth mergeable sketch sibling.

Where the theta/KMV sibling (operators/theta.py) keeps only the k
minimum HASHES (cardinality algebra), this one keeps the VALUES riding
on those hashes: a uniform, mergeable sample over the DISTINCT value
set of each group (Cohen & Kaplan, "Summarizing data using bottom-k
sketches", PODC 2007).  The reference has no sampling operator at all —
its closest notion is the dry-run advice counters; this sibling is what
a 100 TB corpus needs to eyeball "which distinct user ids / tokens does
this slice actually contain" without a full distinct shuffle.

Same protocol as Bloom/HLL/CMS/KLL/t-digest/MG/theta, on the shared
two-phase plan (`common.two_phase_agg`): values hash JVM-side
(whole-stage codegen), one partial bottom-k per (partition, group) via
mapInPandas, packed as JSON `[hashes, values]` — only P x k (hash,
value) pairs per group ever shuffle, never the raw rows — then one
mapInPandas merge per hash partition of the groups with an associative
merge (union, unique by hash, keep k smallest).  Merging any split of the
data yields the identical sample: the k globally-smallest hashes win
regardless of partitioning, which also makes the sample itself
deterministic and cross-engine verifiable under the portable md5
family.

est_distinct rides along for free: the k-th smallest hash IS a KMV
cardinality estimator ((k-1) * range / h_k, ~1/sqrt(k) relative error;
exact below k distinct).
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .common import two_phase_agg

_MD5_PREFIX_RANGE = 16 ** 15  # 60-bit prefix, always positive in int64


def _hash_col(value_col: str, hash_fn: str):
    v = F.col(value_col).cast("string")
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(v), 1, 15), 16, 10).cast("long")
    if hash_fn == "xxhash64":
        return F.xxhash64(v)
    raise ValueError(f"hash_fn must be xxhash64|md5: {hash_fn}")


def _bottomk(hs: np.ndarray, vs: np.ndarray, k: int):
    """k smallest distinct hashes (uint64 order) + their values."""
    u = hs.view(np.uint64)
    _, idx = np.unique(u, return_index=True)  # sorted ascending, first hit
    idx = idx[:k]
    return hs[idx], vs[idx]


def _pack(st) -> bytes:
    return json.dumps([st[0].tolist(), st[1].tolist()]).encode()


def _unpack(buf: bytes):
    hs, vs = json.loads(buf)
    return np.asarray(hs, dtype=np.int64), np.asarray(vs, dtype=object)


def bottomk_sample_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """-> one row per group: `sample` (array<string>, the bottom-k
    distinct values in hash order — a uniform sample of the group's
    distinct set), `n_sample` (int) and `est_distinct` (long; exact
    while the group holds < k distinct values).

    Values are sampled AS STRINGS (the cast also feeds the hash), so
    one sketch type serves any value column; keep ids/keys if the
    original type matters downstream."""
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    hash_range = _MD5_PREFIX_RANGE if hash_fn == "md5" else 2 ** 64

    def add(st, hs: np.ndarray, vs: np.ndarray):
        return _bottomk(
            np.concatenate([st[0], np.asarray(hs, dtype=np.int64)]),
            np.concatenate([st[1], vs]),
            k,
        )

    def finish(st) -> dict:
        hs, vs = st
        if hs.size >= k:
            kth = int(hs.view(np.uint64)[-1])
            est = int(round((k - 1) * float(hash_range) / float(max(kth, 1))))
        else:
            est = int(hs.size)
        return {
            "sample": list(vs), "n_sample": int(hs.size), "est_distinct": est
        }

    return two_phase_agg(
        df, group_cols,
        [_hash_col(value_col, hash_fn), F.col(value_col).cast("string")],
        "sample array<string>, n_sample int, est_distinct long",
        new=lambda: (np.empty(0, dtype=np.int64), np.empty(0, dtype=object)),
        add=add,
        merge=lambda a, b: add(a, *b),
        pack=_pack,
        unpack=_unpack,
        finish=finish,
    )
