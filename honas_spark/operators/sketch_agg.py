"""Distributed sketch aggregation — the engine's core operator.

Re-expresses honas's single-process streaming aggregation
(src/bin/honas_gather.c event loop -> honas_state_register_host_name_lookup)
as a two-phase Spark aggregation designed for 100 TB inputs:

  Phase 1 (map-side combine, NO shuffle of raw keys):
      df.mapInPandas(build_partials) — each input partition folds all its
      rows into one partial SketchState per (window, group) it sees, and
      emits only those partial rows.  Shuffle volume drops from O(keys) to
      O(partitions x groups x sketch_bytes).  This also makes key-skew a
      non-issue: a hot repo's keys never travel, only its OR-able partials.
      (This is the explicit two-phase partial aggregation the survey calls
      for — pandas GROUPED_AGG UDAFs cannot spill or tree-merge partials.)

  Phase 2 (merge, `_merge_phase`):
      .repartition(group_cols).mapInPandas(_merge_by_group) — hash
      partitioning brings every partial row of a group into one task,
      which keeps ONE state per group and folds every packed row of
      every Arrow batch into it in place with the CRDT algebra (bitwise
      OR / register max / counter add straight into the group's arrays;
      reference merge src/honas_state.c:568-611).  Memory is one state
      per group, whatever the number of rows merged.  Associativity
      (property-tested) makes the merge order irrelevant.
      mode="shuffle_keys" skips this phase when no group is hot: its
      pre-repartition already leaves exactly one partial per group.
      `rollup_sketches` and `rollup_hierarchy` merge through the same
      phase.

Window rotation (honas gather.c:899-920, 1302-1351) is expressed as
epoch-aligned tumbling windows: `F.window(ts, spec.window)` — identical
alignment arithmetic (end = begin - begin % period + period).
Hour->day rollups (scripts/honas_daily_state_combine.py:30-86) become a
re-aggregation of the sketch table itself via `rollup_sketches`.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import kernels as K
from .common import group_fields_ddl, group_segments, states_frame
from ..spec import SketchSpec
from ..state import SketchState

SKETCH_VALUE_FIELDS = (
    "filters binary, hll_clients binary, hll_items binary, cms binary,"
    " kll binary, n_rows long, first_ts timestamp, last_ts timestamp"
)
SKETCH_VALUE_COLS = tuple(
    f.split()[0] for f in SKETCH_VALUE_FIELDS.split(",")
)

# cap on the build's grouped-scatter scratch (HLL + CMS matrices of one
# chunk of groups): a flush scatters its groups in chunks under this many
# bytes, so a pathological group count never allocates an unbounded
# (groups x registers) buffer
_SCATTER_MAX_BYTES = 256 * 1024 * 1024

STATS_FIELDS = (
    "total_bits_set long, est_items long, est_clients long,"
    " est_items_per_filter long, fill_rate double, actual_fpr double"
)


def with_window(df: DataFrame, ts_col: str, period: str,
                out_col: str = "window_start") -> DataFrame:
    """Epoch-aligned tumbling window start column (W1)."""
    return df.withColumn(out_col, F.window(F.col(ts_col), period)["start"])


def sha256_key(df: DataFrame, key_col: str,
               out_col: str = "key_sha") -> DataFrame:
    """JVM-side SHA-256 digest of the key (P4, honas_state.c:304) —
    computed inside whole-stage codegen, never in Python."""
    return df.withColumn(out_col, F.unhex(F.sha2(F.col(key_col), 256)))


def with_client_hash(
    df: DataFrame,
    client_col: str,
    out_col: str = "client_hash",
    max_distinct: int = 200_000,
) -> DataFrame:
    """MurmurHash64A of the client key as a JVM-side broadcast lookup.

    The client hash (filter-subset selector + client-HLL input,
    honas_state.c:261-283) must be MurmurHash64A for reference parity,
    which the JVM doesn't have — but client keys (repos/IP blocks) repeat
    massively, so we hash the DISTINCT values driver-side and broadcast
    the LUT: the per-row work stays in codegen and the 8-byte hash rides
    the shuffle instead of the client string.  Falls back to in-UDF
    hashing (client_col passed through) past `max_distinct`."""
    # Bound driver memory: pull at most max_distinct+1 rows — the limit
    # executes distributedly, so an unbounded client cardinality never
    # materializes on the driver before the fallback decision.
    distinct = [
        r[0]
        for r in df.select(client_col)
        .distinct()
        .limit(max_distinct + 1)
        .collect()
    ]
    if len(distinct) > max_distinct:
        return df  # caller keeps client_col; UDF hashes per batch
    # store as signed int64 (Spark has no unsigned long); the kernels
    # reinterpret the bits as uint64.  Hash str(v) so the LUT path and the
    # in-UDF fallback (which also str()s) agree, null included.
    hashed = K.murmur64a_np([str(v).encode("utf-8") for v in distinct])
    rows = [
        (v, np.int64(h).item())
        for v, h in zip(distinct, hashed.view(np.int64))
    ]
    lut = df.sparkSession.createDataFrame(
        rows, f"{client_col} string, {out_col} long"
    )
    joined = df.join(F.broadcast(lut), df[client_col].eqNullSafe(lut[client_col]), "left")
    return joined.drop(lut[client_col])


def build_sketches(
    df: DataFrame,
    spec: SketchSpec,
    group_cols: Sequence[str],
    key_sha_col: str = "key_sha",
    client_col: Optional[str] = None,
    ts_col: Optional[str] = None,
    value_col: Optional[str] = None,
    mode: str = "map_combine",
    salt: Optional[int] = None,
    client_hash_col: Optional[str] = None,
    components: Optional[frozenset] = None,
) -> DataFrame:
    """Aggregate keyed rows into one sketch row per group.

    df must contain group_cols, a 32-byte binary `key_sha_col`, and
    optionally a client column (string; murmur-hashed per unique value),
    an event-time column and a numeric column for the KLL sibling.

    mode picks the physical plan (sketch output is identical; KLL bytes
    depend on the plan):
      * "map_combine" (default) — partial sketch per (input partition,
        group), tiny merge shuffle.  Partial volume is
        O(partitions x groups x sketch_bytes).  It lost on both measured
        shapes (4 cores, ROADMAP D8): 1.66 vs 1.20 CPU-s at 21 groups,
        8.20 vs 4.42 at ~14k groups.
      * "shuffle_keys" — hash-repartition rows by group first, so each
        group materializes exactly one partial: the shuffle carries only
        (group, key_sha) rows and each sketch is written once.

    salt (only with "shuffle_keys"; an int >= 1; batch frames only):
    the most partials a HOT group fans out to.  One JVM-only count
    action (at most P + 1 rows, P = spark.sql.shuffle.partitions) gives
    group g with n_g of N rows the fan-out min(salt, ceil(n_g * P / N));
    its rows split by hash(key_sha) over that many sub-partials, which
    the merge phase ORs back bit-exactly (commutative/idempotent
    algebra, tests/test_properties.py::test_split_anywhere).  A build
    with no group above N/P rows runs the unsalted plan: no merge.

    components: subset of {"bloom","hll","cms","kll"} to maintain — a
    CMS-only or HLL-only aggregation skips the per-key Bloom offset
    derivation entirely (see SketchState.update); unused components
    merge as zeros.
    """
    if mode not in ("map_combine", "shuffle_keys"):
        raise ValueError(
            f"mode must be 'map_combine' or 'shuffle_keys', not {mode!r}"
        )
    if salt is not None and mode != "shuffle_keys":
        raise ValueError("salt needs mode='shuffle_keys'")
    if salt is not None and (type(salt) is not int or salt < 1):
        raise ValueError(f"salt must be an int >= 1, not {salt!r}")
    if salt is not None and df.isStreaming:
        raise ValueError("salt counts rows: salt each batch in foreachBatch")
    group_cols = list(group_cols)
    group_ddl = group_fields_ddl(df, group_cols)
    out_schema = f"{group_ddl}, {SKETCH_VALUE_FIELDS}"
    comp = SketchState.ALL_COMPONENTS if components is None else components

    # timestamp stats (P11: first/last request + request count) fold per
    # group inside the same Arrow pass that builds the sketches: the ts
    # column rides along (+8 bytes/row), so the input is scanned once
    cols = group_cols + [key_sha_col]
    if client_hash_col:
        cols.append(client_hash_col)
    elif client_col:
        cols.append(client_col)
    if value_col:
        cols.append(value_col)
    if ts_col and ts_col not in cols:
        cols.append(ts_col)
    slim = df.select(*cols)
    fanout = {}
    if mode == "shuffle_keys":
        gid = F.xxhash64(*group_cols)
        fanout = _hot_fanout(slim, gid, salt) if salt else {}
        if fanout:
            fan = F.lit(1)  # a cold row's _salt is pmod(h, 1) = 0
            for f, hashes in fanout.items():
                fan = F.when(gid.isin(hashes), f).otherwise(fan)
            slim = slim.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col(key_sha_col)), fan)
            ).repartition(*group_cols, "_salt").drop("_salt")
        else:
            slim = slim.repartition(*group_cols)

    # total buffered-row cap between bulk flushes: bounds worker
    # memory by TOTAL rows (the previous per-GROUP cap bounded no
    # total), keeps each vectorized pass large, AND keeps the flush
    # work PIPELINED with the incoming Arrow stream — deferring all
    # grouping to end-of-stream serialized compute after transfer and
    # measured 15-40% slower on 156k-row partitions than flushing
    # every ~128k rows, while partitions at or below the cap behave
    # identically (single end-of-stream flush)
    bulk_flush_rows = 131_072
    # groups per grouped-scatter chunk: their HLL + CMS scratch
    # matrices stay under _SCATTER_MAX_BYTES
    group_scratch = (2 * K.HLL_REGISTERS if "hll" in comp else 0) + (
        spec.cms_bytes if "cms" in comp else 0
    )
    scatter_groups = max(1, _SCATTER_MAX_BYTES // max(1, group_scratch))

    def build_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # buffer WHOLE Arrow batches and group once per bulk flush:
        # the per-batch pandas groupby chop paid a per-group
        # frame-slice cost that scaled with rows x batches (it was
        # the largest worker-profile item at the 5M-row build shape),
        # where one group_segments pass over the buffered rows is a
        # few vectorized calls total.
        states: dict[tuple, SketchState] = {}
        pending: list[pd.DataFrame] = []
        pending_rows = 0

        def flush_all_bulk() -> None:
            """Flush EVERY buffered row in one vectorized pass.  A
            per-group flush would pay the Bloom offset-derivation
            kernel's fixed per-call cost (~0.5 ms of k x n_limbs
            numpy-loop setup) once per (group, filter) — ruinous when
            a partition holds tens of thousands of tiny groups (the
            high-group-cardinality shape).  Here the grouping
            (group_segments), the hash limbs, the filter-subset
            selectors and ONE bloom_offsets call per filter cover all
            groups at once (rows are independent, so per-row results
            are bit-identical); HLL/CMS scatter in a few chunks of
            groups, and only the cheap per-group folds (bitset OR,
            register max, counter add, KLL adds on contiguous segments)
            remain per group.  Segments keep within-group row order —
            and therefore KLL ingestion order — at arrival order,
            exactly what a per-group fold would see."""
            nonlocal pending, pending_rows
            if not pending:
                return
            big = (
                pending[0]
                if len(pending) == 1
                else pd.concat(pending, ignore_index=True)
            )
            pending = []
            pending_rows = 0
            gb, keys, order, seg = group_segments(big, group_cols)
            G = len(keys)
            codes = np.repeat(np.arange(G), np.diff(seg))
            sts = []
            for gk in keys:
                st = states.get(gk)
                if st is None:
                    st = states[gk] = SketchState(spec)
                sts.append(st)
            limbs = item_h64 = None
            if comp & {"bloom", "hll", "cms"}:
                limbs = K.hashes_to_limbs(
                    list(big[key_sha_col].to_numpy()[order]),
                    spec.hash_len,
                )
                item_h64 = limbs[:, :2].copy().view("<u8").reshape(-1)
            if client_hash_col:
                ch = big[client_hash_col].to_numpy(
                    dtype=np.int64
                )[order].view(np.uint64)
            elif client_col:
                ch = K.murmur64a_series(
                    big[client_col].to_numpy()[order]
                )
            else:
                ch = np.zeros(len(big), dtype=np.uint64)
            vals = (
                big[value_col].to_numpy(dtype=np.float64)[order]
                if value_col and "kll" in comp
                else None
            )
            firsts = lasts = None
            if ts_col:
                # one vectorized skipna min/max per flush (agg row g
                # is group g, see group_segments)
                tstats = gb.agg(
                    _f=(ts_col, "min"), _l=(ts_col, "max")
                )
                firsts = tstats["_f"].to_numpy()
                lasts = tstats["_l"].to_numpy()
            for gi, st in enumerate(sts):
                st.fold_counters(
                    seg[gi + 1] - seg[gi],
                    None if firsts is None else firsts[gi],
                    None if lasts is None else lasts[gi],
                )
                if vals is not None:
                    st.kll.add(vals[seg[gi]: seg[gi + 1]])
            # grouped scatter: ONE hll/cms kernel call covers a whole
            # chunk of groups (bit-identical — register max / counter
            # add commute) instead of paying the numpy fixed call cost
            # 3x per group.  Codes are sorted, so chunk [g0, g1) is
            # exactly rows seg[g0]:seg[g1]; chunks keep the scratch
            # matrices under _SCATTER_MAX_BYTES whatever the group
            # count.  Every state folds its row into its own arrays
            # (never a view: that would pin the scratch matrix).
            for g0 in range(0, G, scatter_groups):
                g1 = min(g0 + scatter_groups, G)
                s, e = seg[g0], seg[g1]
                sub = codes[s:e] - g0
                if "hll" in comp:
                    hll = np.zeros(
                        (2, g1 - g0, K.HLL_REGISTERS), dtype=np.uint8
                    )
                    K.hll_add_grouped(hll[0], sub, item_h64[s:e])
                    K.hll_add_grouped(hll[1], sub, ch[s:e])
                    for gi, st in enumerate(sts[g0:g1]):
                        np.maximum(st.hll_items, hll[0, gi],
                                   out=st.hll_items)
                        np.maximum(st.hll_clients, hll[1, gi],
                                   out=st.hll_clients)
                if "cms" in comp:
                    cms = np.zeros(
                        (g1 - g0, spec.cms_depth, spec.cms_width),
                        dtype=np.int64,
                    )
                    K.cms_add_grouped(cms, sub, item_h64[s:e])
                    for gi, st in enumerate(sts[g0:g1]):
                        st.cms += cms[gi]
            if "bloom" in comp:
                subsets = K.filter_indexes_for_clients(
                    ch, spec.num_filters, spec.filters_per_user
                )
                for fi in range(spec.num_filters):
                    mask = (subsets == fi).any(axis=1)
                    if not mask.any():
                        continue
                    tl = K.transform_limbs(limbs[mask], fi)
                    offs = K.bloom_offsets(tl, spec.m_bits, spec.k)
                    mcodes = codes[mask]
                    lows = np.searchsorted(mcodes, np.arange(G), "left")
                    highs = np.searchsorted(mcodes, np.arange(G), "right")
                    for gi, st in enumerate(sts):
                        if highs[gi] > lows[gi]:
                            K.bloom_build(
                                st.filters[fi], offs[lows[gi]: highs[gi]]
                            )

        for pdf in batches:
            if pdf.empty:
                continue
            pending.append(pdf)
            pending_rows += len(pdf)
            if pending_rows >= bulk_flush_rows:
                flush_all_bulk()
        flush_all_bulk()
        if states:  # empty partitions yield nothing (Arrow needs typed cols)
            yield _states_to_pdf(states, group_cols)

    partials = slim.mapInPandas(build_partials, schema=out_schema)

    if mode == "shuffle_keys" and not fanout:
        # the pre-repartition guarantees each group lives in exactly
        # one partition, so build_partials emits exactly ONE row per
        # group — the merge phase would only unpack and repack every
        # sketch row through one more exchange
        return partials
    return _merge_phase(partials, spec, group_cols)


def _hot_fanout(slim: DataFrame, gid, salt: int) -> dict:
    """{fan-out f > 1: xxhash64 keys of the groups salted f ways}.  Only
    a group above N/P rows is hot, and at most P - 1 are, so one rollup
    collects the total (`_g` NULL) and the P largest groups.  Counting by
    key hash keeps NULL, float and timestamp keys off the driver; a
    collision can only salt a cold group too, which is harmless."""
    p = int(slim.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if salt == 1 or p == 1:
        return {}
    top = (
        slim.rollup(gid.alias("_g")).count()
        .orderBy(F.desc("count")).limit(p + 1).collect()
    )
    n = next((r["count"] for r in top if r["_g"] is None), 0)
    out: dict = {}
    for r in top:
        f = 1 if r["_g"] is None else min(salt, -(-r["count"] * p // n))
        if f > 1:
            out.setdefault(f, []).append(r["_g"])
    return out


def _merge_phase(
    sketch_df: DataFrame, spec: SketchSpec, group_cols: Sequence[str]
) -> DataFrame:
    """Phase 2: merge sketch rows into one row per group — hash
    partitioning on `group_cols` brings every row of a group into one
    task, whose `_merge_by_group` folds them in place."""
    group_cols = list(group_cols)
    group_ddl = group_fields_ddl(sketch_df, group_cols)
    return sketch_df.repartition(*group_cols).mapInPandas(
        _merge_by_group(spec, group_cols),
        schema=f"{group_ddl}, {SKETCH_VALUE_FIELDS}",
    )


def rollup_sketches(
    sketch_df: DataFrame,
    spec: SketchSpec,
    window_col: str,
    rollup_period: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """W2: re-aggregate an hourly sketch table into coarser windows (e.g.
    '1 day').  Exact by merge associativity — no recomputation from raw
    data, which is the point of the mergeable-state algebra."""
    df = sketch_df.withColumn(
        window_col, F.window(F.col(window_col), rollup_period)["start"]
    )
    return _merge_phase(df, spec, [window_col, *group_cols])


def finalize_stats(
    sketch_df: DataFrame, spec: SketchSpec, group_cols: Sequence[str]
) -> DataFrame:
    """Attach diagnostic stats (D2/D5: fill rate, actual FPR fill^k,
    HLL estimates, Bloom approx-count) to every sketch row."""
    return _row_stats(sketch_df, spec, group_cols).drop("bits_set")


def _row_stats(
    sketch_df: DataFrame, spec: SketchSpec, group_cols: Sequence[str]
) -> DataFrame:
    """`finalize_stats` plus each row's per-filter `bits_set` array, the
    input of the reference's per-filter block (honas_search.c:113-124):
    one pass over the packed Bloom rows serves both."""
    group_cols = list(group_cols)
    group_ddl = group_fields_ddl(sketch_df, group_cols)
    out_schema = (
        f"{group_ddl}, n_rows long, first_ts timestamp, last_ts timestamp,"
        f" {STATS_FIELDS}, bits_set array<long>"
    )

    def add_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.to_dict('records'):
                s = SketchState.packed_stats(spec, row)
                out = {c: row[c] for c in group_cols}
                out.update(
                    n_rows=s["n_rows"],
                    first_ts=row["first_ts"],
                    last_ts=row["last_ts"],
                    total_bits_set=s["total_bits_set"],
                    est_items=s["est_items"],
                    est_clients=s["est_clients"],
                    est_items_per_filter=int(
                        np.mean(s["est_items_per_filter"])
                    ),
                    fill_rate=float(np.mean(s["fill_rate"])),
                    actual_fpr=float(np.mean(s["actual_fpr"])),
                    bits_set=s["bits_set"],
                )
                rows.append(out)
            if rows:
                yield pd.DataFrame(rows)

    return sketch_df.mapInPandas(add_stats, schema=out_schema)


def _merge_by_group(spec: SketchSpec, group_cols: list):
    """Merge-phase kernel: one Python invocation per PARTITION (not per
    group — applyInPandas pays its overhead per group, which hurts at
    hundreds of tiny windows).  Each group keeps ONE state for the whole
    partition and every packed row of every batch folds into it in
    place (SketchState.fold_packed), so memory is bounded by the
    partition's groups, never by its rows."""

    value_cols = SKETCH_VALUE_COLS[:5]  # the packed sketch buffers

    def merge_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, SketchState] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            # positional group split + ONE vectorized stats
            # aggregation (the dominant merge-phase overhead at
            # thousands of tiny rollup cells was per-group pandas
            # work); stats row g belongs to group g
            gb, keys, order, seg = group_segments(pdf, group_cols)
            stats = gb.agg(
                _first=("first_ts", "min"),
                _last=("last_ts", "max"),
                _n=("n_rows", "sum"),
            )
            cols = [pdf[c].to_numpy()[order] for c in value_cols]
            firsts = stats["_first"].to_numpy()
            lasts = stats["_last"].to_numpy()
            ns = stats["_n"].to_numpy()
            for g, gkey in enumerate(keys):
                rows = [c[seg[g]: seg[g + 1]] for c in cols]
                st = states.get(gkey)
                if st is None:
                    st = states[gkey] = SketchState.merge_packed(spec, *rows)
                else:
                    st.fold_packed(*rows)
                st.fold_counters(ns[g], firsts[g], lasts[g])
        if states:
            yield _states_to_pdf(states, group_cols)

    return merge_all


def _states_to_pdf(states: dict, group_cols: list) -> pd.DataFrame:
    return states_frame(states, group_cols, SketchState.to_fields)


def rollup_hierarchy(
    sketch_df: DataFrame,
    spec: SketchSpec,
    dim_cols: Sequence[str],
    sets: "Optional[Sequence[Sequence[str]]]" = None,
) -> DataFrame:
    """Merge a LEAF sketch table up an aggregation lattice in ONE scan:
    every requested grouping set (default: the rollup chain
    (d1..dk), (d1..dk-1), ..., ()) gets its own merged sketch row, with
    aggregated-away dims NULLed and a `gid` bitmask in Spark's
    grouping_id convention (bit set = dim aggregated; MSB = first dim).

    This is W2 generalized from the time axis to arbitrary dimensions:
    hourly x repo leaf sketches answer "per hour", "per repo" AND
    "global" questions without re-touching raw data — the CRDT algebra
    (bitwise OR / register max / counter add) makes every lattice level
    BIT-IDENTICAL to a direct build at that grouping
    (tests/test_sketches.py::test_rollup_hierarchy_bit_equal).

    Scale shape: one projection explodes each leaf row to its |sets|
    lattice coordinates (leaf rows are already tiny — sketch bytes, not
    raw keys), then ONE hash shuffle on (gid, dims) and a per-partition
    vectorized merge.  The coarse levels concentrate rows by design
    (the global cell receives every leaf partial exactly once — same
    fan-in a direct global aggregation would pay)."""
    dims = list(dim_cols)
    if sets is None:
        sets = [tuple(dims[:i]) for i in range(len(dims), -1, -1)]
    sets = [tuple(s) for s in sets]
    gids = []
    for s in sets:
        unknown = set(s) - set(dims)
        if unknown:
            raise ValueError(f"set {s} has unknown dims: {sorted(unknown)}")
        m = 0
        for i, d in enumerate(dims):
            if d not in s:
                m |= 1 << (len(dims) - 1 - i)
        gids.append(m)
    if len(set(gids)) != len(gids):
        raise ValueError(f"duplicate grouping sets: {sets}")

    # the FULL grouping set (gid 0) is the leaf table itself — its
    # rows pass through untouched instead of paying an explode +
    # shuffle + unpack/repack "merge" of singleton groups
    merge_gids = [g for g in gids if g != 0]
    if 0 in gids and merge_gids:
        # both branches consume the leaf table — materialize it once
        # or the whole upstream build runs once per branch
        sketch_df = sketch_df.localCheckpoint()
    parts = []
    if 0 in gids:
        parts.append(
            sketch_df.select(
                F.lit(0).cast("int").alias("gid"), *dims, *SKETCH_VALUE_COLS
            )
        )
    if merge_gids:
        exploded = sketch_df.select(
            F.explode(
                F.array([F.lit(g) for g in merge_gids])
            ).alias("gid"),
            "*",
        )
        masked = exploded.select(
            "gid",
            *[
                F.when(
                    F.col("gid").bitwiseAND(1 << (len(dims) - 1 - i))
                    == 0,
                    F.col(d),
                ).alias(d)
                for i, d in enumerate(dims)
            ],
            *SKETCH_VALUE_COLS,
        )
        keys = ["gid", *dims]
        schema = f"{group_fields_ddl(masked, keys)}, {SKETCH_VALUE_FIELDS}"
        # two-level merge: a map-side pre-merge caps every coarse
        # cell's partial count at the PARTITION count — without it the
        # global () cell funnels every leaf row into one task's serial
        # merge (the classic last-reducer skew, here with sketch
        # unpack costs per row)
        pre = masked.mapInPandas(_merge_by_group(spec, keys), schema=schema)
        parts.append(_merge_phase(pre, spec, keys))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
