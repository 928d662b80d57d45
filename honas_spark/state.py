"""In-memory sketch state + the CRDT merge algebra.

One `SketchState` is the engine's analog of a honas state file
(include/honas_state.h:121-171): F Bloom filters + two HLLs + counters,
extended with the north-rule CMS and KLL siblings.  All components share one
merge protocol — commutative, associative, and (except the additive
CMS/count) idempotent — which is what makes any tree/fold merge ordering
produce identical results (reference merge: src/honas_state.c:568-611).

Pure numpy; no Spark imports — usable from pandas UDFs and from tests.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd

from . import kernels as K
from .spec import SketchSpec


class SketchState:
    __slots__ = (
        "spec", "filters", "hll_clients", "hll_items", "cms", "kll",
        "n_rows", "first_ts", "last_ts",
    )

    def __init__(self, spec: SketchSpec):
        self.spec = spec
        self.filters = np.zeros(
            (spec.num_filters, spec.filter_bytes), dtype=np.uint8
        )
        self.hll_clients = K.hll_zero()
        self.hll_items = K.hll_zero()
        self.cms = K.cms_zero(spec.cms_depth, spec.cms_width)
        self.kll = K.KLL(spec.kll_k)
        self.n_rows = 0
        self.first_ts: Optional[pd.Timestamp] = None
        self.last_ts: Optional[pd.Timestamp] = None

    # ------------------------------------------------------------------ #
    # update — the vectorized analog of                                   #
    # honas_state_register_host_name_lookup (honas_state.c:246-454)       #
    # ------------------------------------------------------------------ #
    ALL_COMPONENTS = frozenset({"bloom", "hll", "cms", "kll"})

    def update(
        self,
        key_sha: "pd.Series | list",
        client_hashes: Optional[np.ndarray] = None,
        ts: Optional[pd.Series] = None,
        values: Optional[np.ndarray] = None,
        components: Optional[frozenset] = None,
    ) -> None:
        """Ingest a batch of keys.

        key_sha: 32-byte SHA-256 digests (bytes), one per logical key
            occurrence.  The digest doubles as the HLL input (first 8
            bytes LE — honas_state.c:308) and the CMS key.
        client_hashes: optional (N,) uint64 MurmurHash64A per row (the
            filter-subset selector + client HLL input,
            honas_state.c:261-283).  Defaults to 0 (single-client mode).
        ts: optional timestamps (first/last request stats, Quirk Q4: we
            use true min — the reference mis-stamps out-of-order firsts).
        values: optional floats for the KLL quantile sibling.
        components: subset of {"bloom","hll","cms","kll"} to maintain —
            a CMS-only or HLL-only aggregation skips the Bloom offset
            derivation (the k-draw big-int kernel, ~10x the rest), the
            single biggest per-key cost.  Untouched components stay
            zero and still merge correctly (zero is the identity).
        """
        comp = self.ALL_COMPONENTS if components is None else components
        n = len(key_sha)
        if n == 0:
            return
        spec = self.spec
        self.n_rows += n
        if ts is not None and len(ts):
            tmin, tmax = ts.min(), ts.max()
            if self.first_ts is None or tmin < self.first_ts:
                self.first_ts = tmin
            if self.last_ts is None or tmax > self.last_ts:
                self.last_ts = tmax

        limbs = None
        if comp & {"bloom", "hll", "cms"}:
            limbs = K.hashes_to_limbs(list(key_sha), spec.hash_len)
            item_h64 = limbs[:, :2].copy().view("<u8").reshape(-1)
        if "hll" in comp:
            K.hll_add(self.hll_items, item_h64)
        if "cms" in comp:
            K.cms_add(self.cms, item_h64)

        if client_hashes is None:
            client_hashes = np.zeros(n, dtype=np.uint64)
        if "hll" in comp:
            K.hll_add(self.hll_clients, client_hashes)

        if values is not None and "kll" in comp:
            self.kll.add(np.asarray(values, dtype=np.float64))

        if "bloom" in comp:
            # each client updates its u-of-F filter subset
            subsets = K.filter_indexes_for_clients(
                client_hashes, spec.num_filters, spec.filters_per_user
            )
            for fi in range(spec.num_filters):
                mask = (subsets == fi).any(axis=1)
                if not mask.any():
                    continue
                tl = K.transform_limbs(limbs[mask], fi)
                offs = K.bloom_offsets(tl, spec.m_bits, spec.k)
                K.bloom_build(self.filters[fi], offs)

    # ------------------------------------------------------------------ #
    # merge — OR / max / add / min-max (honas_state.c:568-611)            #
    # ------------------------------------------------------------------ #
    def merge(self, other: "SketchState") -> "SketchState":
        if self.spec != other.spec:
            raise ValueError("cannot merge sketches with different specs")
        out = SketchState(self.spec)
        out.filters = np.bitwise_or(self.filters, other.filters)
        out.hll_clients = K.hll_merge(self.hll_clients, other.hll_clients)
        out.hll_items = K.hll_merge(self.hll_items, other.hll_items)
        out.cms = K.cms_merge(self.cms, other.cms)
        out.kll = self.kll.merge(other.kll)
        out.n_rows = self.n_rows + other.n_rows
        out.first_ts = _opt_min(self.first_ts, other.first_ts)
        out.last_ts = _opt_max(self.last_ts, other.last_ts)
        return out

    @classmethod
    def merge_packed(
        cls, spec: SketchSpec, filters, hll_clients, hll_items, cms, kll
    ) -> "SketchState":
        """A new state holding the fold (fold_packed) of parallel
        sequences of serialized component buffers.  Bloom/HLL/CMS are
        bit-identical to folding the decoded states with merge()
        (associativity); the first KLL is adopted as-is and later ones
        merge in arrival order.  Counters/ts stats stay at their
        zero/None defaults — the caller owns them (fold_counters)."""
        out = cls(spec)
        out.kll = None  # not yet received: fold_packed adopts the first
        out.fold_packed(filters, hll_clients, hll_items, cms, kll)
        return out

    def fold_packed(self, filters, hll_clients, hll_items, cms, kll) -> None:
        """Fold parallel sequences of serialized component buffers into
        this state in place, one decoded row at a time: bitwise OR /
        register max / counter add straight into the state's own
        arrays, so memory stays one state whatever the row count.  KLLs
        merge in arrival order (a state whose `kll` is None adopts the
        first one)."""
        for b in filters:
            K.bloom_fold(self.filters, b)
        for b in hll_clients:
            K.hll_fold(self.hll_clients, b)
        for b in hll_items:
            K.hll_fold(self.hll_items, b)
        for b in cms:
            K.cms_fold(self.cms, b)
        for b in kll:
            nxt = K.KLL.from_bytes(b)
            self.kll = nxt if self.kll is None else self.kll.merge(nxt)

    def fold_counters(self, n_rows, first_ts, last_ts) -> None:
        """Add a row count and widen the first/last timestamps; NaN/NaT
        (a group without timestamps) leaves them as they are."""
        self.n_rows += int(n_rows)
        if not pd.isna(first_ts) and (
            self.first_ts is None or first_ts < self.first_ts
        ):
            self.first_ts = first_ts
        if not pd.isna(last_ts) and (
            self.last_ts is None or last_ts > self.last_ts
        ):
            self.last_ts = last_ts

    # ------------------------------------------------------------------ #
    # probe — honas_state_check_host_name_lookups (honas_state.c:456-474):#
    # each key is checked against EVERY filter (with its per-filter       #
    # transform); result = hit count + per-filter hit bitmask.            #
    # ------------------------------------------------------------------ #
    def probe(self, key_sha: list) -> tuple[np.ndarray, np.ndarray]:
        """-> (hits (N,) int64, filters_hit_bitmask (N,) int64)."""
        spec = self.spec
        limbs = K.hashes_to_limbs(list(key_sha), spec.hash_len)
        n = limbs.shape[0]
        hits = np.zeros(n, dtype=np.int64)
        mask = np.zeros(n, dtype=np.int64)
        for fi in range(spec.num_filters):
            tl = K.transform_limbs(limbs, fi)
            offs = K.bloom_offsets(tl, spec.m_bits, spec.k)
            hit = K.bloom_probe(self.filters[fi], offs)
            hits += hit
            mask |= hit.astype(np.int64) << fi
        return hits, mask

    # ------------------------------------------------------------------ #
    # finalize — header/diagnostic stats (honas_info.c:60-105,            #
    # honas_search.c:88-127)                                              #
    # ------------------------------------------------------------------ #
    def stats(self) -> dict:
        return _stats(
            self.spec, self.n_rows,
            [K.bloom_bits_set(f) for f in self.filters],
            K.hll_count(self.hll_items), K.hll_count(self.hll_clients),
        )

    @staticmethod
    def packed_stats(spec: SketchSpec, row) -> dict:
        """`from_fields(spec, row).stats()`, read straight from the
        row's packed Bloom and HLL buffers: nothing is unpacked, and
        CMS and KLL are never decoded."""
        return _stats(
            spec, row["n_rows"],
            K.bloom_bits_set_packed(
                row["filters"], spec.num_filters, spec.filter_bytes
            ).tolist(),
            K.hll_count_packed(row["hll_items"]),
            K.hll_count_packed(row["hll_clients"]),
        )

    # ------------------------------------------------------------------ #
    # serialization to/from flat row fields (BinaryType columns)          #
    # ------------------------------------------------------------------ #
    def to_fields(self) -> dict:
        # HLL registers serialize sparse when mostly zero (K.hll_pack):
        # a partial sketch from a small (window, group) slice ships a
        # few dozen (idx, val) pairs through the merge exchange instead
        # of the dense 16 KiB array — the reference's sparse HLL
        # (hyperloglog.c:589-830) applied to THIS engine's shuffle
        # boundary.  Bit-identical after unpack; dense fallback kicks
        # in automatically as registers fill.
        return {
            "filters": K.bloom_pack(self.filters),
            "hll_clients": K.hll_pack(self.hll_clients),
            "hll_items": K.hll_pack(self.hll_items),
            "cms": K.cms_pack(self.cms),
            "kll": self.kll.to_bytes(),
            "n_rows": int(self.n_rows),
            "first_ts": self.first_ts,
            "last_ts": self.last_ts,
        }

    @classmethod
    def from_fields(cls, spec: SketchSpec, row) -> "SketchState":
        st = cls.merge_packed(spec, *(
            [row[c]]
            for c in ("filters", "hll_clients", "hll_items", "cms", "kll")
        ))
        st.n_rows = int(row["n_rows"])
        st.first_ts = row["first_ts"]
        st.last_ts = row["last_ts"]
        return st


def _stats(
    spec: SketchSpec, n_rows, bits: list, est_items: int, est_clients: int
) -> dict:
    return {
        "n_rows": int(n_rows),
        "bits_set": bits,
        "est_items": est_items,
        "est_clients": est_clients,
        "est_items_per_filter": [
            K.bloom_approx_count(spec.m_bits, spec.k, b) for b in bits
        ],
        "fill_rate": [b / spec.m_bits for b in bits],
        "actual_fpr": [K.actual_fpr(spec.m_bits, spec.k, b) for b in bits],
        "total_bits_set": int(sum(bits)),
    }


def _opt_min(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return min(a, b)


def _opt_max(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return max(a, b)
