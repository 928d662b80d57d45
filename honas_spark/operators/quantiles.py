"""Generic distributed quantile-sketch aggregation — KLL, t-digest or
DDSketch per group over a numeric column.

Both operators run on the shared two-phase plan
(`common.two_phase_agg`): one partial sketch per (partition, group)
from a mapInPandas fold, then one mapInPandas merge per hash partition
of the groups.  Only serialized sketches shuffle, never raw values —
the same zero/update/merge/finalize protocol as every grouped sketch
sibling."""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .. import kernels as K
from .common import two_phase_agg

_FAMILIES = {
    "kll": (lambda p: K.KLL(p), K.KLL.from_bytes),
    "tdigest": (lambda p: K.TDigest(p), K.TDigest.from_bytes),
    # param is 1/alpha: param=100 -> 1% relative-error guarantee
    "ddsketch": (lambda p: K.DDSketch(1.0 / p), K.DDSketch.from_bytes),
}


def _added(st, values: np.ndarray):
    """Fold one group's value slice into a KLL/t-digest/DDSketch."""
    st.add(np.asarray(values, dtype=np.float64))
    return st


def quantile_sketch_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sketch: str = "tdigest",
    param: int = 100,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.99),
) -> DataFrame:
    """-> one row per group: `n` and the requested quantile estimates
    (q_25, q_50, ... columns, rounded to 6dp)."""
    make, from_bytes = _FAMILIES[sketch]
    qcols = [f"q_{int(q * 100)}" for q in quantiles]
    return two_phase_agg(
        df, group_cols, [F.col(value_col)],
        "n long, " + ", ".join(f"{c} double" for c in qcols),
        new=lambda: make(param),
        add=_added,
        merge=lambda a, b: a.merge(b),
        pack=lambda st: st.to_bytes(),
        unpack=from_bytes,
        finish=lambda st: {
            "n": st.n,
            **{c: round(st.quantile(q), 6) for q, c in zip(quantiles, qcols)},
        },
    )


def ddsketch_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    alpha: float = 0.01,
    max_buckets: int = 2048,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """DDSketch per group: relative-error-bounded quantiles whose output
    is a DETERMINISTIC pure function of the input multiset (see
    kernels.DDSketch) — so unlike KLL/t-digest this sketch carries an
    exact cross-engine oracle.  Output per group: n, then for each
    requested quantile the bucket index `b_XX` (integer, hard signal)
    and the canonical value estimate `q_XX` = 2*gamma^j/(gamma+1)
    rounded to 4dp.

    Plan shape: the shared two-phase plan (`common.two_phase_agg`) —
    raw values never shuffle, only (bucket, count) pairs do, at most
    max_buckets longs per partial, merged by counter add.
    """
    bcols = [f"b_{int(q * 100)}" for q in quantiles]
    qcols = [f"q_{int(q * 100)}" for q in quantiles]

    def finish(st: K.DDSketch) -> dict:
        out = {"n": st.n}
        for q, b, c in zip(quantiles, bcols, qcols):
            out[b] = st.quantile_bucket(q)
            out[c] = round(st.quantile(q), 4)
        return out

    return two_phase_agg(
        df, group_cols, [F.col(value_col)],
        "n long, "
        + ", ".join(f"{b} long, {q} double" for b, q in zip(bcols, qcols)),
        new=lambda: K.DDSketch(alpha, max_buckets),
        add=_added,
        merge=lambda a, b: a.merge(b),
        pack=lambda st: st.to_bytes(),
        unpack=K.DDSketch.from_bytes,
        finish=finish,
    )
