"""Shared operator helpers."""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DoubleType, FloatType


def duckdb_round(col, scale: int = 0) -> Column:
    """Replicate DuckDB's ``round(double, scale)`` bit-for-bit.

    The two engines disagree at rounding boundaries: Spark's Round
    applies HALF_UP to the value's SHORTEST DECIMAL representation
    (BigDecimal.valueOf), while DuckDB computes
    ``std::round(x * 10^scale) / 10^scale`` in binary doubles — half
    away from zero on the exact binary fraction, sign of zero
    preserved.  A gate column rounded with F.round therefore
    hash-diverges from the DuckDB oracle whenever the data lands
    within one ulp of a .5 boundary (data-dependent, invisible at one
    scale factor and fatal at another).  This expression reproduces
    the DuckDB result exactly — verified by fuzzing >300k adversarial
    doubles per scale (crafted .5-ulp neighborhoods, integer ratios,
    uniforms) against DuckDB 1.0 with zero mismatches, including the
    -0.0 results Spark's round never emits.

    Structure: t = x * 10^scale; |t| >= 2^52 is already an integer
    (and floor->long would ANSI-overflow near 2^63), so it returns
    t / 10^scale directly; otherwise round half away from zero using
    an EXACT ``frac >= 0.5`` comparison (never ``floor(t + 0.5)``,
    whose addition can round up across the boundary); ±0 and sign are
    restored explicitly; NULL/NaN/±inf pass through as t / 10^scale.
    """
    c = col.cast("double") if isinstance(col, Column) else F.col(col).cast("double")
    p = F.lit(10.0 ** int(scale))
    t = c * p
    at = F.abs(t)
    # least() keeps floor's long cast in range even when the branch
    # below is dead (codegen may evaluate subexpressions eagerly)
    f = F.floor(F.least(at, F.lit(2.0 ** 52)))
    mag = F.when(at - f >= 0.5, f + 1).otherwise(f).cast("double")
    signed = (
        F.when(t < 0, -mag)
        .when(t == 0.0, t)  # ±0.0 keeps its sign
        .otherwise(mag)
    )
    return (
        F.when(c.isNull() | F.isnan(c) | (at >= 2.0 ** 52), t / p)
        .otherwise(signed / p)
    )


def resplit_small(df: DataFrame) -> DataFrame:
    """A small input with fewer partitions than cores (e.g. one parquet
    row group) is re-split so projection-shaped operators (shingle/
    token explosion, signature computation) parallelize; a real
    many-split corpus never triggers this.

    Cost note: the `.rdd.getNumPartitions()` probe forces one extra
    physical-planning pass at build time (there is no cheaper partition
    count before execution in PySpark).  That is a driver-side planning
    cost only — it never touches data — and is paid once per operator
    call, which is why the probe lives here rather than inline at every
    call site.

    Streaming DataFrames pass through untouched: `.rdd` is illegal on
    them, and a stream's parallelism comes from its source + the
    stateful exchange downstream."""
    if df.isStreaming:
        return df
    para = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < para:
        return df.repartition(para)
    return df


def group_fields_ddl(df: DataFrame, group_cols: Sequence[str]) -> str:
    """DDL of `group_cols` for a grouped operator's output schema.

    Float/double group columns are rejected: pandas workers receive
    NULL as NaN, so NULL and NaN rows would fold into one group, and the
    pandas -> Arrow output writes a NaN key back as NULL (Spark's
    groupBy keeps NaN, NULL and every value apart)."""
    types = {f.name: f.dataType for f in df.schema.fields}
    for c in group_cols:
        if isinstance(types[c], (FloatType, DoubleType)):
            raise ValueError(
                f"group column {c!r} is {types[c].simpleString()}: float"
                " keys cannot keep NULL and NaN apart in pandas workers"
            )
    return ", ".join(f"{c} {types[c].simpleString()}" for c in group_cols)


def group_segments(pdf: pd.DataFrame, group_cols: Sequence[str]):
    """Split a pandas batch into its groups by position.

    -> (gb, keys, order, seg): group g is rows order[seg[g]:seg[g+1]]
    of pdf, in arrival order (stable sort), with key tuple keys[g].
    Groups are numbered in first-appearance order, which is also the
    row order of `gb.agg(...)` (gb groups with sort=False,
    dropna=False), so row g of one vectorized per-group aggregate
    belongs to group g.  NA key scalars (NaN, NaT) become None: they
    are not singletons, and NaN != NaN would split one group's state
    across dict entries when a partition spans several Arrow batches.

    Positional segments instead of pandas sub-frames: groupby
    iteration, per-group frame slicing and per-group Series reductions
    cost ~50-150 us per group, which dominates at thousands of groups.
    Needs at least one group column.  A float64 key column is an
    integral one widened by a NULL (group_fields_ddl rejects float
    keys): a value at or above 2^53 in it may be rounded, so it raises."""
    for c in group_cols:
        if pdf[c].dtype.kind == "f" and (pdf[c].abs() >= 2.0 ** 53).any():
            raise ValueError(f"group column {c!r} holds an integer >= 2^53"
                             " that a NULL widened to float64 (inexact)")
    gb = pdf.groupby(list(group_cols), sort=False, dropna=False)
    gnum = gb.ngroup().to_numpy()
    order = np.argsort(gnum, kind="stable")
    seg = np.searchsorted(gnum[order], np.arange(gb.ngroups + 1))
    heads = order[seg[:-1]]
    keys = list(zip(*(
        [None if pd.isna(v) else v for v in pdf[c].to_numpy()[heads]]
        for c in group_cols
    )))
    return gb, keys, order, seg


def states_frame(
    states: dict, group_cols: Sequence[str], fields: Callable[[object], dict]
) -> pd.DataFrame:
    """One row per state of a `key tuple -> state` dict: the key spread
    over `group_cols`, then the `fields(state)` dict (the same keys for
    every state)."""
    cols: dict[str, list] = {c: [] for c in group_cols}
    for key, st in states.items():
        for c, v in zip(group_cols, key):
            cols[c].append(v)
        for f, v in fields(st).items():
            cols.setdefault(f, []).append(v)
    return pd.DataFrame(cols)


def two_phase_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    values: Sequence[Column],
    out_ddl: str,
    new: Callable[[], object],
    add: Callable[..., object],
    merge: Callable[[object, object], object],
    pack: Callable[[object], bytes],
    unpack: Callable[[bytes], object],
    finish: Callable[[object], dict],
) -> DataFrame:
    """One mergeable sketch per group: the plan of every grouped sketch
    sibling (the zero/update/merge/finalize protocol as callables).

    Phase 1, mapInPandas: each partition folds its rows into one state
    per group, `add(state, *slices) -> state` with the group's rows of
    each `values` column as numpy slices in arrival order, and emits
    `(group_cols..., sketch binary)` partials through `pack`.  Raw rows
    never shuffle, only P x G partials do.

    Phase 2, repartition(group_cols) + mapInPandas: one Python call per
    partition `unpack`s and `merge`s every partial of its groups (a
    group arrives whole but may span Arrow batches) and emits one row
    per group: the group columns plus `finish(state)`, a dict over the
    `out_ddl` fields.  Partials arrive in shuffle order, so `merge`
    must be associative and commutative."""
    group_cols = list(group_cols)
    group_ddl = group_fields_ddl(df, group_cols)
    names = [f"_v{i}" for i in range(len(values))]
    slim = df.select(
        *group_cols, *(v.alias(n) for v, n in zip(values, names))
    )

    def fold_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            _, keys, order, seg = group_segments(pdf, group_cols)
            cols = [pdf[n].to_numpy()[order] for n in names]
            for g, key in enumerate(keys):
                st = states.get(key)
                states[key] = add(
                    new() if st is None else st,
                    *(c[seg[g]: seg[g + 1]] for c in cols),
                )
        if states:  # empty partitions yield nothing (Arrow needs typed cols)
            yield states_frame(
                states, group_cols, lambda st: {"sketch": pack(st)}
            )

    def fold_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            _, keys, order, seg = group_segments(pdf, group_cols)
            blobs = pdf["sketch"].to_numpy()[order]
            for g, key in enumerate(keys):
                for blob in blobs[seg[g]: seg[g + 1]]:
                    st, prev = unpack(blob), states.get(key)
                    states[key] = st if prev is None else merge(prev, st)
        if states:
            yield states_frame(states, group_cols, finish)

    partials = slim.mapInPandas(
        fold_rows, schema=f"{group_ddl}, sketch binary"
    )
    return partials.repartition(*group_cols).mapInPandas(
        fold_partials, schema=f"{group_ddl}, {out_ddl}"
    )
