"""Robust per-group outlier statistics — median / MAD / flag counts.

Quality gates over numeric telemetry (document lengths, score columns,
price-like fields) want MEDIAN-based outlier detection: mean/stddev are
themselves dragged by the outliers they are supposed to find, the
median absolute deviation is not (50% breakdown point; Hampel 1974).

    outlier(x)  <=>  |x - median| > z * MAD

Exactness across engines: median and MAD are order statistics — picks
(or the mean of two picks) from the input multiset, not accumulations —
so both engines produce bit-identical doubles and the strict `>`
comparison is deterministic; no float-summation-order hazards anywhere.

Scale shape: three grouped aggregations over the data (median, MAD,
flag count), each map-partial where possible, with the tiny per-group
stat tables BROADCAST back — the data itself shuffles on the group key
once per pass and nothing else moves.  Spark's exact `median` buffers
each group's values in executor memory: right for gate/test scale and
for many-small-groups telemetry; for petabyte groups swap the same
pipeline onto the relative-error quantile sketch
(operators/quantiles.ddsketch_agg) — MAD tolerates approximate medians
by design (its breakdown point, not its exact value, is the point).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .common import duckdb_round

# largest accepted hampel_filter half_window: every row carries its own
# (2k+1)-value frame, so k bounds per-row memory
_MAX_HALF_WINDOW = 1_000


def mad_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    z: float = 3.0,
) -> DataFrame:
    """Per group: n (non-null values), med, mad (both rounded 4dp for
    presentation; flags use the unrounded doubles), n_outliers =
    count(|x - med| > z * mad).  NULL values are ignored (SQL aggregate
    semantics).  With mad = 0 (>= 50% of the group identical) every
    x != med is z-independent-flagged, the standard MAD degeneracy —
    callers with discrete-valued columns should prefill z accordingly."""
    g = list(group_cols)
    vals = df.select(*g, F.col(value_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    meds = vals.groupBy(*g).agg(F.median("_v").alias("_med"))
    dev = vals.join(F.broadcast(meds), on=g).withColumn(
        "_adev", F.abs(F.col("_v") - F.col("_med"))
    )
    mads = dev.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n"),
        F.first("_med").alias("_med"),
        F.median("_adev").alias("_mad"),
    )
    flagged = (
        dev.select(*g, "_adev")
        .join(F.broadcast(mads.select(*g, "_mad")), on=g)
        .groupBy(*g)
        .agg(
            F.count(
                F.when(F.col("_adev") > F.lit(float(z)) * F.col("_mad"), 1)
            ).alias("n_outliers")
        )
    )
    return (
        mads.join(flagged, on=g)
        .select(
            *g,
            F.col("n").cast("long").alias("n"),
            duckdb_round(F.col("_med"), 4).alias("med"),
            duckdb_round(F.col("_mad"), 4).alias("mad"),
            F.col("n_outliers").cast("long").alias("n_outliers"),
        )
    )


def hampel_filter(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    *,
    half_window: int = 2,
    z: float = 3.0,
) -> DataFrame:
    """Hampel outlier filter (Hampel 1974; the rolling sibling of
    mad_outliers): per key series ordered by `order_cols`, each row is
    compared against the median and MAD of its CENTERED window of
    2*half_window+1 rows — |x - med| > z * MAD flags a spike without a
    global distribution assumption.  Edge rows use their truncated
    window (standard behavior).

    Returns key_cols + order_cols + value + (n_frame, med, mad rounded
    4dp, is_outlier int).  Exact cross-engine: medians are order
    statistics and every other op is per-row.

    Scale shape: one window pass.  Rows shuffle once on key_cols and
    sort within the key by order_cols; `collect_list` over the centered
    rows-frame then gives each row its own frame, and the median and MAD
    are in-array order statistics on it — no explode, no grouped
    aggregation, no join.  Each row holds 2*(2k+1) doubles (the frame
    and its absolute deviations), so memory per row is bounded by
    half_window, which must lie in [0, 1000] (ValueError otherwise).
    A hot key still sorts in one task, like any row_number."""
    g = list(key_cols)
    o = list(order_cols)
    k = int(half_window)
    if not 0 <= k <= _MAX_HALF_WINDOW:
        raise ValueError(
            f"half_window must be in [0, {_MAX_HALF_WINDOW}], got {k}"
        )

    # the expressions below reproduce Spark's Percentile(0.5)
    # interpolation bit-for-bit (odd n: the middle pick; even n:
    # lower*0.5 + upper*0.5 — the exact double tree Percentile
    # evaluates), so results equal an F.median-based plan.
    w = (
        Window.partitionBy(*g)
        .orderBy(*o)
        .rowsBetween(-k, k)
    )
    rows = (
        df.select(*g, *o, F.col(value_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .withColumn("_frame", F.collect_list("_v").over(w))
    )

    def arr_median(arr):
        s = F.array_sort(arr)
        n = F.size(arr)
        lo = F.element_at(s, F.floor(n / 2).cast("int"))
        hi = F.element_at(s, (F.floor(n / 2) + 1).cast("int"))
        return F.when(
            n % 2 == 1,
            F.element_at(s, F.floor((n + 1) / 2).cast("int")),
        ).otherwise(lo * F.lit(0.5) + hi * F.lit(0.5))

    med = arr_median(F.col("_frame"))
    rows = rows.withColumn("_med", med)
    mad = arr_median(
        F.transform(F.col("_frame"), lambda x: F.abs(x - F.col("_med")))
    )
    rows = rows.withColumn("_mad", mad)
    return rows.select(
        *g, *o,
        F.col("_v").alias(value_col),
        F.size("_frame").cast("long").alias("n_frame"),
        duckdb_round(F.col("_med"), 4).alias("med"),
        duckdb_round(F.col("_mad"), 4).alias("mad"),
        F.when(
            F.abs(F.col("_v") - F.col("_med"))
            > F.lit(float(z)) * F.col("_mad"),
            1,
        ).otherwise(0).cast("int").alias("is_outlier"),
    )
