"""Search probe — the batch membership-query path.

Reproduces honas-search's probe loop (src/bin/honas_search.c:373-421 +
src/honas_state.c:456-474): every queried SHA-256 is checked against every
filter of every sketch row (with the per-filter hash transform); the result
per (sketch row, key) is a hit count and a per-filter hit bitmask.

Scale shape: the query set is tiny (a search job), the sketch table is the
big side -> the queries are precomputed on the driver (offsets per filter
index, derived ONCE per key — not per sketch row) and shipped inside the
mapInPandas closure (a broadcast).  No join, no shuffle: one pass over the
sketch table."""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import kernels as K
from ..spec import SketchSpec
from .common import group_fields_ddl


def probe_sketches(
    sketch_df: DataFrame,
    spec: SketchSpec,
    queries: Sequence[tuple],
    group_cols: Sequence[str],
) -> DataFrame:
    """queries: iterable of (group_id:int, key:str, sha:bytes 32B).

    Returns one row per (sketch row x query):
      group_cols..., group_id int, key string, hits int, filters_hit long,
      plus the sketch row's diagnostics needed by result shaping
      (n_rows, est_clients, est_items, total_bits_set).
    """
    group_cols = list(group_cols)
    qlist = list(queries)
    # object dtype: group ids are optional in the reference job format
    # (README.md:296-339) — None rides the Arrow long column as null
    gids = np.array([q[0] for q in qlist], dtype=object)
    keys = [q[1] for q in qlist]
    shas = [q[2] for q in qlist]

    group_ddl = group_fields_ddl(sketch_df, group_cols)
    out_schema = (
        f"{group_ddl}, group_id long, key string, hits long,"
        " filters_hit long, n_rows long, est_clients long, est_items long,"
        " total_bits_set long"
    )

    nq = len(qlist)
    keys_arr = np.array(keys, dtype=object)

    def probe(batches):
        # offsets are derived executor-side (vectorized numpy over all
        # queries x filters): the closure ships only the 32-byte SHAs
        # instead of k*F precomputed offsets per key — ~10x less task
        # payload for large query sets, and the derivation runs in
        # parallel across sketch partitions instead of serial on the
        # driver.  Lazily, so empty partitions pay nothing.
        per_filter_offsets = None
        for pdf in batches:
            if pdf.empty or nq == 0:
                continue
            if per_filter_offsets is None:
                limbs = K.hashes_to_limbs(shas, spec.hash_len)
                per_filter_offsets = [
                    K.bloom_offsets(
                        K.transform_limbs(limbs, fi), spec.m_bits, spec.k
                    )
                    for fi in range(spec.num_filters)
                ]
            # block assembly: the (R sketch rows x nq keys) output is
            # built from preallocated numpy matrices + repeat/tile — no
            # per-row Python lists, so a 10k-key job costs numpy time,
            # not interpreter time
            R = len(pdf)
            hits_mat = np.zeros((R, nq), dtype=np.int64)
            mask_mat = np.zeros((R, nq), dtype=np.int64)
            total_bits = np.zeros(R, dtype=np.int64)
            est_clients = np.zeros(R, dtype=np.int64)
            est_items = np.zeros(R, dtype=np.int64)
            filt_col = pdf["filters"].to_numpy()
            hllc_col = pdf["hll_clients"].to_numpy()
            hlli_col = pdf["hll_items"].to_numpy()
            for i in range(R):
                # lightweight parse: the probe needs only the filters and
                # HLLs — skip CMS/KLL deserialization entirely
                filters = K.bloom_unpack(
                    filt_col[i], spec.num_filters, spec.filter_bytes
                )
                hm, mm = hits_mat[i], mask_mat[i]
                for fi in range(spec.num_filters):
                    hit = K.bloom_probe(
                        filters[fi], per_filter_offsets[fi]
                    )
                    hm += hit
                    mm |= hit.astype(np.int64) << fi
                    total_bits[i] += K.bloom_bits_set(filters[fi])
                est_clients[i] = K.hll_count(
                    K.hll_unpack(hllc_col[i])
                )
                est_items[i] = K.hll_count(
                    K.hll_unpack(hlli_col[i])
                )
            data = {
                c: pdf[c].repeat(nq).reset_index(drop=True)
                for c in group_cols
            }
            data["group_id"] = np.tile(gids, R)
            data["key"] = np.tile(keys_arr, R)
            data["hits"] = hits_mat.reshape(-1)
            data["filters_hit"] = mask_mat.reshape(-1)
            data["n_rows"] = np.repeat(
                pdf["n_rows"].to_numpy(dtype=np.int64), nq
            )
            data["est_clients"] = np.repeat(est_clients, nq)
            data["est_items"] = np.repeat(est_items, nq)
            data["total_bits_set"] = np.repeat(total_bits, nq)
            yield pd.DataFrame(data)

    return sketch_df.mapInPandas(probe, schema=out_schema)


def cms_probe(
    candidates_df: DataFrame,
    cms_bytes: bytes,
    spec: SketchSpec,
    token_col: str = "token",
    out_col: str = "est",
) -> DataFrame:
    """Probe a count-min sketch for every candidate token, distributedly.

    The sketch is ONE bounded row (depth x width counters) shipped inside
    the closure (an implicit broadcast); the candidate column can be
    arbitrarily large — SHA-256 is computed JVM-side (`unhex(sha2(...))`,
    whole-stage codegen, same trick as sketch_agg.sha256_key) so the
    Python side of each Arrow batch is only the vectorized numpy CMS
    query; no per-row interpreted hashing anywhere.  This is the
    scale-correct heavy-hitters pattern: candidate generation stays in
    the engine, the CMS answers point queries in the map phase."""
    from pyspark.sql import functions as F

    depth, width = spec.cms_depth, spec.cms_width

    def probe(batches):
        cms = K.cms_unpack(cms_bytes, depth, width)
        for pdf in batches:
            if pdf.empty:
                continue
            # mirror SketchState.update exactly: truncate the digest to
            # spec.hash_len before taking the first 8 bytes as the CMS key
            limbs = K.hashes_to_limbs(list(pdf["_sha"]), spec.hash_len)
            h64 = limbs[:, :2].copy().view("<u8").reshape(-1)
            ests = K.cms_query(cms, h64)
            yield pd.DataFrame(
                {token_col: pdf[token_col], out_col: ests.astype("int64")}
            )

    # null candidates are dropped, not hashed: sha2(NULL) is NULL and a
    # null key has no meaningful CMS count (the old per-row Python path
    # silently hashed the string "None", which was worse)
    hashed = candidates_df.filter(F.col(token_col).isNotNull()).select(
        F.col(token_col),
        F.unhex(F.sha2(F.col(token_col), 256)).alias("_sha"),
    )
    return hashed.mapInPandas(
        probe, schema=f"{token_col} string, {out_col} long"
    )
