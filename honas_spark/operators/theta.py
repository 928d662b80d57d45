"""Theta/KMV distinct sketch aggregation + set operations across groups.

The reference approximates "how many keys hit in BOTH filters" only at
search time via the hit-bitmap AND (src/bin/honas_search.c:303-314);
this sibling makes union AND intersection cardinality first-class over
any grouping — "distinct part keys shared by window A and B" — under
the same zero/update/merge/finalize protocol as the Bloom/HLL/CMS/KLL
/t-digest/MG families (kernels.kmv_*).

Plan shape: values hash JVM-side (xxhash64, whole-stage codegen) so the
Python path only folds already-hashed longs, on the shared two-phase
plan (`common.two_phase_agg`): one partial sketch per (partition, group)
via mapInPandas, then one mapInPandas merge per hash partition of the
groups.  A sketch row is <= k * 8 bytes, so the pairwise set-operation
stage joins the G-row sketch table against itself broadcast — never the
raw data.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import kernels as K
from .common import two_phase_agg


def theta_sketch_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 4096,
) -> DataFrame:
    """-> one row per group: `sketch` (serialized KMV state) and
    `est_distinct` (long; exact while the group has < k distinct
    values, ~1/sqrt(k) relative error beyond)."""
    return two_phase_agg(
        df, group_cols, [F.xxhash64(F.col(value_col))],
        "sketch binary, est_distinct long",
        new=K.kmv_zero,
        add=lambda st, h: K.kmv_update(st, h.view(np.uint64), k),
        merge=lambda a, b: K.kmv_merge(a, b, k),
        pack=K.kmv_pack,
        unpack=K.kmv_unpack,
        finish=lambda st: {
            "sketch": K.kmv_pack(st),
            "est_distinct": int(round(K.kmv_estimate(st, k))),
        },
    )


def theta_pair_ops(
    sketches: DataFrame,
    group_cols: Sequence[str],
    k: int = 4096,
) -> DataFrame:
    """All unordered group pairs of a `theta_sketch_agg` output ->
    (group_a..., group_b..., est_intersect, est_union, est_diff_ab,
    est_diff_ba) as longs (exact while both sketches are exact;
    est_diff_ab = |A \\ B|).  The G-row sketch table self-joins with
    the _b side BROADCAST: G*(G-1)/2 pair rows of <= 16k sketch bytes
    each, never the raw data."""
    group_cols = list(group_cols)
    dtypes = dict(sketches.dtypes)
    a = sketches.select(
        *[F.col(c).alias(f"{c}_a") for c in group_cols],
        F.col("sketch").alias("_sk_a"),
    )
    b = sketches.select(
        *[F.col(c).alias(f"{c}_b") for c in group_cols],
        F.col("sketch").alias("_sk_b"),
    )
    cond = F.struct(*[F.col(f"{c}_a") for c in group_cols]) < F.struct(
        *[F.col(f"{c}_b") for c in group_cols]
    )
    pairs = a.join(F.broadcast(b), cond)
    out_ddl = (
        ", ".join(
            f"{c}_{s} {dtypes[c]}"
            for s in ("a", "b")
            for c in group_cols
        )
        + ", est_intersect long, est_union long"
        + ", est_diff_ab long, est_diff_ba long"
    )

    def ops(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            inter, uni, dab, dba = [], [], [], []
            for sa, sb in zip(pdf["_sk_a"], pdf["_sk_b"]):
                va, vb = K.kmv_unpack(sa), K.kmv_unpack(sb)
                inter.append(int(round(K.kmv_intersect_estimate(va, vb, k))))
                uni.append(int(round(K.kmv_union_estimate(va, vb, k))))
                dab.append(int(round(K.kmv_diff_estimate(va, vb, k))))
                dba.append(int(round(K.kmv_diff_estimate(vb, va, k))))
            out = {
                f"{c}_{s}": pdf[f"{c}_{s}"]
                for s in ("a", "b")
                for c in group_cols
            }
            out["est_intersect"] = inter
            out["est_union"] = uni
            out["est_diff_ab"] = dab
            out["est_diff_ba"] = dba
            yield pd.DataFrame(out)

    return pairs.mapInPandas(ops, schema=out_ddl)
