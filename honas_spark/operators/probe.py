"""Search probe — the batch membership-query path.

Reproduces honas-search's probe loop (src/bin/honas_search.c:373-421 +
src/honas_state.c:456-474): every queried SHA-256 is checked against every
filter of every sketch row (with the per-filter hash transform); the result
per (sketch row, key) is a hit count and a per-filter hit bitmask.

Scale shape: the query set is tiny (a search job), the sketch table is the
big side -> the queries are precomputed on the driver (offsets per filter
index, derived ONCE per key — not per sketch row) and shipped inside the
mapInPandas closure (a broadcast).  No join, no shuffle: one pass over the
sketch table.

`search_probe` is the search in that one pass: like the reference
(honas_search.c:188-217, 303-314) it folds the threshold, the flatten
clamp and each group's filter-mask AND inside the loop, with numpy per
Arrow batch, and emits only the key rows that pass the threshold plus one
summary row per (sketch row, group) with results — never the cross
product.  `probe_sketches` keeps the full cross product on the same
per-row kernel."""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import kernels as K
from ..spec import SketchSpec
from .common import group_fields_ddl


def _query_offsets(shas: list, spec: SketchSpec) -> list:
    """Bloom offsets of every query, one (nq, k) array per filter index.

    Derived executor-side (vectorized numpy over all queries x filters):
    the closure ships only the 32-byte SHAs instead of k*F precomputed
    offsets per key — ~10x less task payload for large query sets, and
    the derivation runs in parallel across sketch partitions instead of
    serial on the driver.  Callers derive lazily, so empty partitions pay
    nothing."""
    limbs = K.hashes_to_limbs(shas, spec.hash_len)
    return [
        K.bloom_offsets(K.transform_limbs(limbs, fi), spec.m_bits, spec.k)
        for fi in range(spec.num_filters)
    ]


def _probe_rows(pdf: pd.DataFrame, spec: SketchSpec, offsets: list):
    """Probe every query against every sketch row of one Arrow batch.

    -> (hits (R, nq), filters_hit (R, nq), total_bits_set (R,),
    est_clients (R,), est_items (R,)), all int64.  Preallocated numpy
    matrices, no per-row Python lists: a 10k-key job costs numpy time,
    not interpreter time.

    Rows are never unpacked: a dense Bloom row is probed as a read-only
    view of its bytes, a sparse one is scattered into one zeroed scratch
    that is cleared again after its probe, and the per-row statistics
    come from the packed bytes (bits set from the listed bytes, HLL
    estimates from register histograms) — CMS and KLL are never read."""
    R, nq = len(pdf), len(offsets[0])
    F, fb = spec.num_filters, spec.filter_bytes
    hits_mat = np.zeros((R, nq), dtype=np.int64)
    mask_mat = np.zeros((R, nq), dtype=np.int64)
    total_bits = np.zeros(R, dtype=np.int64)
    est_clients = np.zeros(R, dtype=np.int64)
    est_items = np.zeros(R, dtype=np.int64)
    filt_col = pdf["filters"].to_numpy()
    hllc_col = pdf["hll_clients"].to_numpy()
    hlli_col = pdf["hll_items"].to_numpy()
    scratch = None
    for i in range(R):
        idx, vals = K.bloom_entries(filt_col[i], F, fb)
        if idx is None:
            filters = vals.reshape(F, fb)
        else:
            if scratch is None:
                scratch = np.zeros(F * fb, dtype=np.uint8)
            scratch[idx] = vals
            filters = scratch.reshape(F, fb)
        hm, mm = hits_mat[i], mask_mat[i]
        for fi in range(F):
            hit = K.bloom_probe(filters[fi], offsets[fi])
            hm += hit
            mm |= hit.astype(np.int64) << fi
        if idx is not None:
            scratch[idx] = 0
        total_bits[i] = K.popcount(vals)
        est_clients[i] = K.hll_count_packed(hllc_col[i])
        est_items[i] = K.hll_count_packed(hlli_col[i])
    return hits_mat, mask_mat, total_bits, est_clients, est_items


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
    keys_arr = np.array([q[1] for q in qlist], dtype=object)
    shas = [q[2] for q in qlist]

    group_ddl = group_fields_ddl(sketch_df, group_cols)
    out_schema = (
        f"{group_ddl}, group_id long, key string, hits long,"
        " filters_hit long, n_rows long, est_clients long, est_items long,"
        " total_bits_set long"
    )
    nq = len(qlist)

    def probe(batches):
        offsets = None
        for pdf in batches:
            if pdf.empty or nq == 0:
                continue
            if offsets is None:
                offsets = _query_offsets(shas, spec)
            hits, masks, bits, est_c, est_i = _probe_rows(pdf, spec, offsets)
            # block assembly of the (R sketch rows x nq keys) output:
            # repeat/tile, no per-row Python lists
            R = len(pdf)
            data = {
                c: pdf[c].repeat(nq).reset_index(drop=True)
                for c in group_cols
            }
            data["group_id"] = np.tile(gids, R)
            data["key"] = np.tile(keys_arr, R)
            data["hits"] = hits.reshape(-1)
            data["filters_hit"] = masks.reshape(-1)
            data["n_rows"] = np.repeat(
                pdf["n_rows"].to_numpy(dtype=np.int64), nq
            )
            data["est_clients"] = np.repeat(est_c, nq)
            data["est_items"] = np.repeat(est_i, nq)
            data["total_bits_set"] = np.repeat(bits, nq)
            yield pd.DataFrame(data)

    return sketch_df.mapInPandas(probe, schema=out_schema)


def search_probe(
    sketch_df: DataFrame,
    spec: SketchSpec,
    queries: Sequence[tuple],
    group_cols: Sequence[str],
    flatten_on: str = "clients",
) -> DataFrame:
    """The honas-search result in one probe pass (`run_search`'s engine).

    queries as for `probe_sketches`.  Per sketch row, with u =
    filters_per_user:
      * flattened = est_clients (est_items when flatten_on="hostnames")
        < flatten_threshold; a flattened row's hits clamp to
        hits < u ? 0 : 1 (honas_search.c:200-201) -> hits_out
      * key rows: one per query whose RAW hits >= u (honas_search.c:
        199-217), carrying hits, hits_out, filters_hit, flattened and
        the row's diagnostics
      * summary rows: per (sketch row, group_id) the AND of the group's
        filter masks, all_found (every key hits_out > 0) and has_results
        (some key hits_out > 0); one row per group with results, carrying
        flattened and hits_by_all_hostnames = all_found ? (flattened ?
        popcount(AND) >= u : popcount(AND)) : 0 (honas_search.c:303-314)
    Group ids fold by value — two job groups with the same id are one
    group, and a missing id (None) is its own group.

    One schema, `summary` telling the two kinds apart:
      group_cols..., group_id long, summary boolean, key string (null on
      summaries), hits long, hits_out long, filters_hit long,
      flattened boolean, hits_by_all_hostnames int (0 on key rows),
      n_rows long, est_clients long, est_items long, total_bits_set long
    """
    group_cols = list(group_cols)
    qlist = list(queries)
    gids = np.array([q[0] for q in qlist], dtype=object)
    keys_arr = np.array([q[1] for q in qlist], dtype=object)
    shas = [q[2] for q in qlist]
    nq = len(qlist)
    # query columns sorted by group, so each group is one contiguous
    # segment for the ufunc .reduceat folds; factorize folds equal ids
    # and keeps None as its own group, but its uniques turn None into
    # NaN, so each group's id is read back from its first query
    codes, _ = pd.factorize(gids, use_na_sentinel=False)
    order = np.argsort(codes, kind="stable")
    starts = np.searchsorted(
        codes[order], np.arange(codes.max(initial=-1) + 1)
    )
    group_ids = gids[order[starts]]
    u = spec.filters_per_user
    threshold = spec.flatten_threshold
    use_clients = flatten_on == "clients"

    group_ddl = group_fields_ddl(sketch_df, group_cols)
    out_schema = (
        f"{group_ddl}, group_id long, summary boolean, key string,"
        " hits long, hits_out long, filters_hit long, flattened boolean,"
        " hits_by_all_hostnames int, n_rows long, est_clients long,"
        " est_items long, total_bits_set long"
    )

    def probe(batches):
        offsets = None
        for pdf in batches:
            if pdf.empty or nq == 0:
                continue
            if offsets is None:
                offsets = _query_offsets(shas, spec)
            hits, masks, bits, est_c, est_i = _probe_rows(pdf, spec, offsets)
            flat = (est_c if use_clients else est_i) < threshold
            found = hits >= u
            # the flatten clamp is hits < u ? 0 : 1, not min(hits, 1)
            hits_out = np.where(flat[:, None], found, hits)
            pos = (hits_out > 0)[:, order]
            and_mask = np.bitwise_and.reduceat(
                masks[:, order], starts, axis=1
            )
            and_pop = sum(
                (and_mask >> fi) & 1 for fi in range(spec.num_filters)
            )
            by_all = np.where(
                np.logical_and.reduceat(pos, starts, axis=1),
                np.where(flat[:, None], and_pop >= u, and_pop),
                0,
            )
            has_results = np.logical_or.reduceat(pos, starts, axis=1)
            kr, kq = np.nonzero(found)
            sr, sg = np.nonzero(has_results)
            nk, ns = len(kr), len(sr)
            if nk + ns == 0:
                continue  # never yield an empty frame
            rows = np.concatenate([kr, sr])
            zeros = np.zeros(ns, dtype=np.int64)
            data = {
                c: pdf[c].take(rows).reset_index(drop=True)
                for c in group_cols
            }
            data["group_id"] = np.concatenate([gids[kq], group_ids[sg]])
            data["summary"] = np.arange(nk + ns) >= nk
            data["key"] = np.concatenate(
                [keys_arr[kq], np.full(ns, None, dtype=object)]
            )
            data["hits"] = np.concatenate([hits[kr, kq], zeros])
            data["hits_out"] = np.concatenate([hits_out[kr, kq], zeros])
            data["filters_hit"] = np.concatenate([masks[kr, kq], zeros])
            data["flattened"] = flat[rows]
            data["hits_by_all_hostnames"] = np.concatenate(
                [np.zeros(nk, np.int32), by_all[sr, sg].astype(np.int32)]
            )
            data["n_rows"] = pdf["n_rows"].to_numpy(dtype=np.int64)[rows]
            data["est_clients"] = est_c[rows]
            data["est_items"] = est_i[rows]
            data["total_bits_set"] = bits[rows]
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
