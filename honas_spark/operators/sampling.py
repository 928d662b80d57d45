"""Deterministic sampling operators for training-data pipelines.

Random sampling is unusable at 100 TB pipeline scale: re-runs must pick
the SAME rows (resume/debug/AB-diff), and the sample must be stable under
repartitioning.  These operators derive the keep decision from a content
hash, so the sample is a pure projection/filter — no RNG state, no
shuffle, reproducible on any cluster layout, and exactly checkable
against a SQL oracle (md5 is available on both engines).

This is the sampling half of the reference's dry-run sizing flow (the
advice path samples traffic to size filters, README.md:642-647) made
deterministic and distributed."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def hash_bucket(col: Column, buckets: int = 100, salt: str = "") -> Column:
    """Stable bucket in [0, buckets): first 8 hex digits of
    md5(salt || key) mod buckets.  Pure codegen built-ins."""
    h = F.md5(F.concat(F.lit(salt), col))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets


def hash_sample(
    df: DataFrame,
    key_col: str,
    rate_pct: int,
    salt: str = "",
    buckets: int = 100,
) -> DataFrame:
    """Keep rows whose key hashes into the first `rate_pct` of `buckets`
    buckets — a deterministic ~rate_pct% sample, stable across runs and
    partitionings.  Zero shuffle (filter-only)."""
    return df.filter(hash_bucket(F.col(key_col), buckets, salt) < rate_pct)


def top_k_by_hash(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str],
    k: int,
    salt: str = "",
) -> DataFrame:
    """EXACTLY k rows per group, chosen uniformly-at-hash — the
    deterministic replacement for per-group reservoir sampling.  Rank by
    (hash, key) inside each group and keep rank <= k; one shuffle on the
    group key (same cost class as any per-group reservoir)."""
    w = Window.partitionBy(*group_cols).orderBy(
        hash_bucket(F.col(key_col), 1 << 31, salt), F.col(key_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def _ares_score(key_col: str, weight_col: str, salt: str):
    """The shared Efraimidis-Spirakis score expression:
    -ln(u)/w with u = (md5-prefix(salt || key) + 1) / 2^60 in (0, 1].
    One definition so the global and per-group samplers (and their SQL
    oracles) can never drift apart."""
    key = F.col(key_col)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15
            ),
            16, 10,
        ).cast("long")
        + 1
    ) / F.lit(float(1 << 60))
    return -F.log(u) / F.col(weight_col)


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "42",
) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement — the
    Efraimidis-Spirakis A-Res scheme with the uniform draw derived
    from a content hash instead of an RNG: the importance-sampling /
    domain-mixing primitive (pick k documents with probability
    proportional to weight, reproducibly).

    score_i = -ln(u_i) / w_i with u_i = (md5-prefix(salt || key) + 1)
    / 2^60 in (0, 1]; the k smallest scores are the sample (equivalent
    to the classic max u^(1/w) ordering).  Deterministic: same corpus
    + salt -> same sample on any cluster layout; cross-engine exact
    (the SQL oracle recomputes the identical hash and formula — ties
    break on the key).  Rows with NULL or non-positive weight never
    qualify.

    Physical shape: one codegen projection + a distributed top-k
    (TakeOrderedAndProject — per-partition heaps, no global sort)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    score = _ares_score(key_col, weight_col, salt)
    return (
        df.filter(
            F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        )
        .withColumn("_wscore", score)
        .orderBy("_wscore", F.col(key_col))
        .limit(k)
        .drop("_wscore")
    )


def weighted_hash_sample_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "42",
) -> DataFrame:
    """Per-group deterministic weighted sampling: k docs PER GROUP by
    the same A-Res hash-uniform score as weighted_hash_sample — the
    per-domain quota form of domain mixing (e.g. k docs per source,
    weighted by quality).  One projection + a per-group window top-k
    (rank over the partition, no global sort; group skew is plain
    window skew)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    score = _ares_score(key_col, weight_col, salt)
    w = Window.partitionBy(*group_cols).orderBy(
        score.asc(), F.col(key_col).asc()
    )
    return (
        df.filter(
            F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        )
        .withColumn("_wrank", F.row_number().over(w))
        .filter(F.col("_wrank") <= k)
        .drop("_wrank")
    )
