"""Driver-side replay of one build flush, kernel by kernel.

The build's Python worker runs its kernels inside `mapInPandas`, where
nothing outside the library can time them.  This replay cuts one flush
(up to 131,072 rows, the build's flush cadence) from the workload's own
keyed input and runs the same `kernels` and `state` calls on it in the
order the flush does, timing each from outside.  The read-side kernels
(unpack, merge, probe, HLL count) then run on the states it produced."""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from honas_spark import SketchSpec, SketchState, kernels as K

PROBE_KEYS = 1000


@contextmanager
def timed(acc: dict, name: str):
    """Add the seconds spent in the block to acc[name]."""
    t0 = time.perf_counter()
    yield
    acc[name] = acc.get(name, 0.0) + time.perf_counter() - t0


def replay_flush(spec: SketchSpec, rows: pd.DataFrame, group_cols: list,
                 client_col: str | None = None) -> dict:
    """Per-kernel seconds and counts for one flush of `rows`."""
    sec: dict[str, float] = {}
    gb = rows.groupby(group_cols, sort=False, dropna=False)
    gnum = gb.ngroup().to_numpy()
    G = int(gnum.max()) + 1
    order = np.argsort(gnum, kind="stable")
    codes = gnum[order]
    n = len(rows)

    with timed(sec, "hashes_to_limbs"):
        limbs = K.hashes_to_limbs(
            list(rows["key_sha"].to_numpy()[order]), spec.hash_len
        )
        item_h64 = limbs[:, :2].copy().view("<u8").reshape(-1)
    if client_col:
        ch = rows[client_col].to_numpy(dtype=np.int64)[order].view(np.uint64)
    else:
        ch = np.zeros(n, dtype=np.uint64)

    states = [SketchState(spec) for _ in range(G)]
    with timed(sec, "hll_add_grouped"):
        hll = np.zeros((2, G, K.HLL_REGISTERS), dtype=np.uint8)
        K.hll_add_grouped(hll[0], codes, item_h64)
        K.hll_add_grouped(hll[1], codes, ch)
    with timed(sec, "cms_add_grouped"):
        cms = np.zeros((G, spec.cms_depth, spec.cms_width), dtype=np.int64)
        K.cms_add_grouped(cms, codes, item_h64)
    for gi, st in enumerate(states):
        st.hll_items, st.hll_clients, st.cms = hll[0, gi], hll[1, gi], cms[gi]

    subsets = K.filter_indexes_for_clients(
        ch, spec.num_filters, spec.filters_per_user
    )
    for fi in range(spec.num_filters):
        mask = (subsets == fi).any(axis=1)
        if not mask.any():
            continue
        with timed(sec, "bloom_offsets"):
            offs = K.bloom_offsets(
                K.transform_limbs(limbs[mask], fi), spec.m_bits, spec.k
            )
        mcodes = codes[mask]
        bounds = np.searchsorted(mcodes, np.arange(G + 1))
        with timed(sec, "bloom_build"):
            for gi in range(G):
                if bounds[gi + 1] > bounds[gi]:
                    K.bloom_build(
                        states[gi].filters[fi], offs[bounds[gi]:bounds[gi + 1]]
                    )

    with timed(sec, "pack"):
        packed = [
            (K.bloom_pack(st.filters), K.hll_pack(st.hll_clients),
             K.hll_pack(st.hll_items), K.cms_pack(st.cms))
            for st in states
        ]
    with timed(sec, "to_fields"):
        fields = [st.to_fields() for st in states]
    dense = spec.filters_blob_bytes + 2 * K.HLL_REGISTERS + spec.cms_bytes
    packed_bytes = sum(len(b) for p in packed for b in p)

    with timed(sec, "unpack"):
        for f in fields:
            K.bloom_unpack(f["filters"], spec.num_filters, spec.filter_bytes)
            K.hll_unpack(f["hll_clients"])
            K.hll_unpack(f["hll_items"])
            K.cms_unpack(f["cms"], spec.cms_depth, spec.cms_width)
    # merge each group's state with itself: the two-partial merge the
    # merge phase and the rollup run per group
    with timed(sec, "merge_packed"):
        for f in fields:
            SketchState.merge_packed(
                spec, *([f[c], f[c]] for c in
                        ("filters", "hll_clients", "hll_items", "cms", "kll"))
            )

    # probe: half the keys from the flush, half never inserted
    take = rows["key_sha"].to_numpy()[: PROBE_KEYS // 2]
    fake = [
        (b"absent-%d" % i).ljust(spec.hash_len, b"\0")
        for i in range(PROBE_KEYS - len(take))
    ]
    plimbs = K.hashes_to_limbs(list(take) + fake, spec.hash_len)
    per_filter = [
        K.bloom_offsets(K.transform_limbs(plimbs, fi), spec.m_bits, spec.k)
        for fi in range(spec.num_filters)
    ]
    with timed(sec, "bloom_probe"):
        for st in states:
            for fi in range(spec.num_filters):
                K.bloom_probe(st.filters[fi], per_filter[fi])
    with timed(sec, "hll_count"):
        for st in states:
            K.hll_count(st.hll_items)
            K.hll_count(st.hll_clients)

    out = {f"kernels.{k}_s": v for k, v in sec.items()
           if k not in ("to_fields", "merge_packed")}
    out.update({
        "kernels.packed_bytes_ratio": packed_bytes / (dense * G),
        "kernels.keys": n,
        "kernels.groups": G,
        "state.to_fields_s": sec["to_fields"],
        "state.merge_packed_s": sec["merge_packed"],
        "state.dense_bytes_per_group": dense,
    })
    return out
