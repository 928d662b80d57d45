"""Batch gap-based sessionization: assign every event a per-key
session ordinal, where a gap larger than `gap_sec` between consecutive
events of the same key closes the session (events <= gap apart extend
the session, a larger gap opens the next one).

Scale shape: ONE shuffle on the key for the ordered window; only
(key, ts) ordering state is needed per task, and Spark's window runs
off a sort within the key partition — rows never collect.  Gap math is
integer microseconds end-to-end (unix_micros), so results are exact
and reproducible cross-engine.  Equal-timestamp ties cannot change
boundaries (a 0 gap always extends the session), so the assignment is
layout-independent without a tie-break column.  Skew note: one
dominant key sorts in a single task — per-user/per-entity event
streams are naturally bounded, but a degenerate key (e.g. NULL-bucket
user) should be filtered or salted upstream; the chunked-window
treatment used by operators/asof.py applies if one is ever needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _us(ts_col: str):
    """Integer microseconds since epoch; the TIMESTAMP cast admits
    TIMESTAMP_NTZ columns (parquet writers commonly emit NTZ) — with
    the library's fixed UTC session timezone (session.py) the mapping
    is monotonic and engine-portable."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_sec: int = 1800,
) -> DataFrame:
    """All input columns + `session_seq` (long, 1-based per key): the
    session ordinal of each event under a `gap_sec` inactivity rule."""
    if gap_sec < 1:
        raise ValueError(f"gap_sec must be >= 1: {gap_sec}")
    us = _us(ts_col)
    w = Window.partitionBy(key_col).orderBy(us)
    boundary = (
        F.when(
            us - F.lag(us).over(w) > F.lit(int(gap_sec) * 1_000_000), 1
        )
        .otherwise(0)
    )
    # running sum of boundaries over the ordered window, DEFAULT frame
    # (RANGE UNBOUNDED PRECEDING..CURRENT ROW): RANGE includes equal-ts
    # peers, so when lag() picks an arbitrary peer order the +1 of a
    # session boundary still lands on every peer identically — a ROWS
    # frame would split peers across session ordinals layout-dependently
    return df.withColumn(
        "session_seq",
        (F.sum(boundary).over(w) + 1).cast("long"),
    )


def session_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_sec: int = 1800,
) -> DataFrame:
    """Per-session rollup: (key, session_seq, n_events, first_ts,
    last_ts, duration_us) — the compact form a 100 TB event log keeps
    (the row-level sessionize output is transient).  duration_us is an
    exact integer (unix_micros difference)."""
    us = _us(ts_col)
    return (
        sessionize(df, key_col, ts_col, gap_sec)
        .groupBy(key_col, "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            (F.max(us) - F.min(us)).alias("duration_us"),
        )
    )
