"""The three workloads: seeded inputs, the timed operations, their checks.

Inputs come from the run's seed through the library's public API
(`sources.corpus`, `functions.text`, `operators.sketch_agg`); the library
sees only those generated rows.  Each workload returns its timed ops; a
"round" of the timed loop runs each op once.  Every op returns what its
check reads, and the check runs outside the timed region.

Outputs are compared as per-group 64-bit digests (`xxhash64`) of every
serialized sketch component plus the exact counters, so a round collects
a few bytes per group instead of the sketches themselves.  Packing is a
pure function of the state, so equal states give equal digests."""

from __future__ import annotations

import math
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from honas_spark import SketchSpec, SketchState, kernels as K
from honas_spark.functions.text import explode_keys
from honas_spark.operators import (
    build_sketches, rollup_sketches, sha256_key, with_client_hash,
    with_window,
)
from honas_spark.search import make_search_job, run_search
from honas_spark.sources.checkpoint import build_resumable, read_checkpoint
from honas_spark.sources.corpus import generate_corpus

VALUE_COLS = ("filters", "hll_clients", "hll_items", "cms", "kll")
DIGEST_FIELDS = VALUE_COLS + ("n_rows", "first_ts", "last_ts")
# HLL estimates must sit within three standard errors of the exact count
HLL_TOLERANCE = 3 * 1.04 / math.sqrt(K.HLL_REGISTERS)

# the SketchSpecs bench.py uses for the same two shapes
FEW_SPEC = SketchSpec(
    m_bits=1 << 21, k=10, num_filters=4, filters_per_user=2,
    window="1 day", cms_width=4096, kll_k=128,
)
MANY_SPEC = SketchSpec(
    m_bits=1 << 17, k=10, num_filters=4, filters_per_user=2,
    window="1 hour", cms_width=256, kll_k=64,
)

# default corpus sizes (files) per workload, chosen so that set-up plus
# a measured window fits the per-run time budget on a 4-core box
DEFAULT_FILES = {
    "build_few_groups": 20_000,
    "build_many_groups": 20_000,
    "sketch_query": 8_000,
}


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], list]
    items: int  # files per build, leaves per rollup, lookups per search
    # the sketch table a build op digests (lets a test corrupt it)
    frame: Callable[[], DataFrame] | None = None


@dataclass
class Workload:
    spec: SketchSpec
    group_cols: list
    ops: list
    setup_failures: list = field(default_factory=list)
    # the rows the kernel replay cuts one flush from
    replay_rows: Callable[[], pd.DataFrame] | None = None
    # absent-key hit share of one search output (sketch_query only)
    fp_share: Callable[[object], float] | None = None
    # untimed rounds before the timed loop; the first build rounds still
    # pay plan compilation and JIT
    warm_up_rounds: int = 3


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - _T0:7.2f}s {msg}", file=sys.stderr)


def keyed_rows(spark: SparkSession, files: int, seed: int,
               n_hours: int = 72) -> DataFrame:
    """Synthetic corpus -> exploded path keys with their SHA-256; the
    `org` column is the honas entity (org0 holds ~40% of the rows)."""
    corpus = generate_corpus(spark, files, n_hours=n_hours, seed=seed)
    corpus = corpus.withColumn("org", F.split(F.col("repo"), "/")[0])
    keyed = explode_keys(corpus, "path", entity_col="lang", ptr_col="ptr_mode")
    keyed = sha256_key(keyed, "key")
    return keyed.select("org", "repo", "commit_ts", "key", "key_sha")


def cache(df: DataFrame) -> DataFrame:
    df = df.cache()
    df.count()
    return df


def seeded_sample(df: DataFrame, cols: list, n: int, seed: int) -> list:
    """n distinct values of `cols`, ordered by a seeded hash."""
    rows = (
        df.select(*cols).distinct()
        .orderBy(F.xxhash64(*cols, F.lit(seed)))
        .limit(n).collect()
    )
    return [tuple(r) for r in rows]


def in_groups(group_cols: list, groups: list):
    cond = F.lit(False)
    for g in groups:
        eq = F.lit(True)
        for c, v in zip(group_cols, g):
            eq = eq & (F.col(c) == F.lit(v))
        cond = cond | eq
    return cond


# --------------------------------------------------------------------------
# digests and comparisons
# --------------------------------------------------------------------------


def digests(sk: DataFrame, group_cols: list, extra=()) -> dict:
    """{group: (digest per VALUE_COL, n_rows, first_ts, last_ts, *extra)}"""
    rows = sk.select(
        *group_cols,
        *[F.xxhash64(c).alias(c) for c in VALUE_COLS],
        "n_rows", "first_ts", "last_ts", *extra,
    ).collect()
    n = len(group_cols)
    return {tuple(r[:n]): tuple(r[n:]) for r in rows}


def compare_digests(out: dict, ref: dict, skip=()) -> list:
    fails = []
    if out.keys() != ref.keys():
        fails.append(
            f"group sets differ: {len(out)} groups vs {len(ref)} expected"
        )
    for g in sorted(out.keys() & ref.keys(), key=str):
        for name, a, b in zip(DIGEST_FIELDS, out[g], ref[g]):
            if name not in skip and a != b:
                fails.append(f"group {g}: {name} differs from the reference")
    return fails


def check_states(spec: SketchSpec, ref_rows: dict, raw: pd.DataFrame,
                 group_cols: list, client_col: str | None) -> list:
    """Sampled reference rows vs a SketchState built driver-side from the
    raw keyed rows of the same groups: Bloom, HLL, CMS, n_rows and the ts
    stats must be bit-exact."""
    fails = []
    for g, sub in raw.groupby(group_cols, sort=False):
        g = g if isinstance(g, tuple) else (g,)
        st = SketchState(spec)
        ch = None
        if client_col:
            ch = sub[client_col].to_numpy(dtype=np.int64).view(np.uint64)
        st.update(list(sub["key_sha"]), client_hashes=ch,
                  ts=sub["commit_ts"])
        want = st.to_fields()
        row = ref_rows[g]
        for c in ("filters", "hll_clients", "hll_items", "cms"):
            if bytes(row[c]) != want[c]:
                fails.append(f"group {g}: {c} differs from SketchState")
        if int(row["n_rows"]) != want["n_rows"]:
            fails.append(f"group {g}: n_rows differs from SketchState")
        for c in ("first_ts", "last_ts"):
            if pd.Timestamp(row[c]) != pd.Timestamp(want[c]):
                fails.append(f"group {g}: {c} differs from SketchState")
    return fails


def check_hll(ref_rows: dict, exact: dict) -> list:
    fails = []
    for g, n in exact.items():
        est = K.hll_count(K.hll_unpack(bytes(ref_rows[g]["hll_items"])))
        if abs(est - n) > HLL_TOLERANCE * n:
            fails.append(f"group {g}: HLL estimate {est} vs exact {n}")
    return fails


def reference_checks(spec, ref_sk, keyed, group_cols, samples,
                     client_col=None) -> list:
    """Checks of the reference table itself, made once in set-up."""
    ref_rows = {
        tuple(r[c] for c in group_cols): r.asDict()
        for r in ref_sk.filter(in_groups(group_cols, samples)).collect()
    }
    if len(ref_rows) != len(samples):
        return [f"reference holds {len(ref_rows)} of {len(samples)} groups"]
    sample_keyed = keyed.filter(in_groups(group_cols, samples))
    cols = group_cols + ["key_sha", "commit_ts"]
    if client_col:
        cols.append(client_col)
    raw = sample_keyed.select(*cols).toPandas()
    exact = {
        tuple(r[:-1]): r[-1]
        for r in sample_keyed.groupBy(*group_cols)
        .agg(F.countDistinct("key_sha")).collect()
    }
    return (
        check_states(spec, ref_rows, raw, group_cols, client_col)
        + check_hll(ref_rows, exact)
    )


# --------------------------------------------------------------------------
# build workloads
# --------------------------------------------------------------------------


def build_workload(seed, files, spec, group_cols, keyed,
                   flush_rows, client_col=None, **timed) -> Workload:
    """A build workload: the timed op is `build_sketches(**timed)`; its
    reference is the `map_combine` plan, checked in set-up against
    driver-side states for the largest group and two seeded ones.
    `flush_rows` selects the keyed rows the kernel replay cuts from."""

    def build(**kw):
        return build_sketches(
            keyed, spec, group_cols, client_hash_col=client_col,
            ts_col="commit_ts", **kw,
        )

    ref_sk = cache(build(mode="map_combine"))
    ref = digests(ref_sk, group_cols)
    log("reference built")
    hot = max(ref, key=lambda g: ref[g][5])  # most n_rows
    samples = [hot] + [
        g for g in seeded_sample(ref_sk, group_cols, 3, seed) if g != hot
    ][:2]
    setup_failures = reference_checks(
        spec, ref_sk, keyed, group_cols, samples, client_col
    )
    ref_sk.unpersist()
    log("reference checked")

    def frame():
        return build(**timed)

    op = Op(
        "build",
        run=lambda: digests(frame(), group_cols),
        check=lambda out: compare_digests(out, ref, skip=("kll",)),
        items=files,
        frame=frame,
    )
    flush_cols = group_cols + ["key_sha"] + ([client_col] if client_col else [])

    def replay_rows():
        return (
            keyed.filter(flush_rows).select(*flush_cols)
            .limit(131_072).toPandas()
        )

    return Workload(spec, group_cols, [op], setup_failures, replay_rows)


def build_few_groups(spark, seed: int, files: int, work_dir: str) -> Workload:
    """1-day windows x org: ~21 groups; the hot org0 holds ~40% of rows."""
    keyed = with_window(
        keyed_rows(spark, files, seed), "commit_ts", FEW_SPEC.window
    )
    keyed = cache(with_client_hash(keyed, "repo"))
    log("keyed rows cached")
    return build_workload(
        seed, files, FEW_SPEC,
        ["window_start", "org"], keyed, F.col("org") == "org0",
        client_col="client_hash", mode="shuffle_keys", salt=8,
    )


def build_many_groups(spark, seed: int, files: int, work_dir: str) -> Workload:
    """hour x repo: thousands of groups of a few dozen keys."""
    keyed = cache(with_window(
        keyed_rows(spark, files, seed), "commit_ts", MANY_SPEC.window
    ))
    log("keyed rows cached")
    return build_workload(
        seed, files, MANY_SPEC,
        ["window_start", "repo"], keyed, F.lit(True), mode="shuffle_keys",
    )


# --------------------------------------------------------------------------
# sketch_query: rollup + search over built tables
# --------------------------------------------------------------------------

SEARCH_GROUPS = 50
SEARCH_KEYS_PER_GROUP = 10  # half inserted keys, half never inserted


def kll_rank_error(k: int) -> float:
    """Single-sided normalized rank error of a KLL sketch at 99%
    confidence (the DataSketches fit 2.446 / k^0.9433)."""
    return 2.446 / k ** 0.9433


def check_kll(kll_bytes: bytes, values: np.ndarray, k: int) -> bool:
    kll = K.KLL.from_bytes(kll_bytes)
    if kll.n != values.size:
        return False
    eps = kll_rank_error(k)
    srt = np.sort(values)
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        v = kll.quantile(q)
        lo = np.searchsorted(srt, v, "left") / srt.size
        hi = np.searchsorted(srt, v, "right") / srt.size
        if q < lo - eps or q > hi + eps:
            return False
    return True


def prob_at_least(ps: list, u: int) -> float:
    """P(at least u of the independent events with probabilities ps)."""
    dist = np.zeros(len(ps) + 1)
    dist[0] = 1.0
    for p in ps:
        dist[1:] = dist[1:] * (1 - p) + dist[:-1] * p
        dist[0] *= 1 - p
    return float(dist[u:].sum())


def sketch_query(spark, seed: int, files: int, work_dir: str) -> Workload:
    spec = MANY_SPEC
    leaf_cols, day_cols = ["window_start", "repo"], ["window_start", "repo"]
    # one day of hours: ~680 day x repo rows to search, ~16k hour x repo
    # leaves at most to roll up
    hourly = with_window(
        keyed_rows(spark, files, seed, n_hours=24), "commit_ts", "1 hour"
    )
    hourly = cache(
        hourly.withColumn("klen", F.length("key").cast("double"))
        .withColumn("day", F.window("commit_ts", "1 day")["start"])
    )
    log("keyed rows cached")

    # leaf table: hour x repo, committed per day into a checkpoint store
    root = f"{work_dir}/checkpoint"
    build_resumable(
        spark, hourly, spec, root, "day", ["window_start", "repo"],
        lambda df: build_sketches(
            df, spec, ["day", "window_start", "repo"], ts_col="commit_ts",
            value_col="klen", mode="shuffle_keys",
        ),
    )
    n_leaves = read_checkpoint(spark, root).count()
    log("leaf checkpoint written")

    # day x repo, built directly from the keyed rows: the search target
    # and the rollup's reference
    daily = hourly.drop("window_start").withColumnRenamed("day", "window_start")
    day_sk = cache(build_sketches(
        daily, spec, day_cols, ts_col="commit_ts", value_col="klen",
        mode="shuffle_keys",
    ))
    day_ref = digests(day_sk, day_cols)
    log("day table built")
    samples = seeded_sample(day_sk, day_cols, 3, seed)
    samples.append(max(day_ref, key=lambda g: day_ref[g][5]))
    sample_values = {
        g: sub["klen"].to_numpy()
        for g, sub in daily.filter(in_groups(day_cols, samples))
        .select(*day_cols, "klen").toPandas()
        .groupby(day_cols, sort=False)
    }

    def rollup():
        leaves = read_checkpoint(spark, root).drop("day")
        out = rollup_sketches(leaves, spec, "window_start", "1 day", ["repo"])
        kll = F.when(in_groups(day_cols, samples), F.col("kll"))
        return digests(out, day_cols, extra=[kll.alias("kll_bytes")])

    def check_rollup(out):
        fails = compare_digests(
            {g: v[:-1] for g, v in out.items()}, day_ref, skip=("kll",)
        )
        for g, values in sample_values.items():
            if g in out and not check_kll(out[g][-1], values, spec.kll_k):
                fails.append(f"group {g}: KLL outside its rank-error bound")
        return fails

    # search job: half keys drawn from the inserted keys (seeded, each in
    # at most a few day x repo cells), half never inserted
    n_present = SEARCH_GROUPS * SEARCH_KEYS_PER_GROUP // 2
    cells = daily.select("key", *day_cols).distinct()
    rare = cells.groupBy("key").count().filter(F.col("count") <= 8)
    present = [r[0] for r in seeded_sample(rare, ["key"], n_present, seed)]
    absent = [f"absent-{seed}-{i}.none" for i in range(n_present)]
    truth = {
        (r["key"], r["window_start"], r["repo"])
        for r in cells.filter(F.col("key").isin(present)).collect()
    }
    half = SEARCH_KEYS_PER_GROUP // 2
    job_groups = {
        gid: present[gid * half:(gid + 1) * half]
        + absent[gid * half:(gid + 1) * half]
        for gid in range(SEARCH_GROUPS)
    }
    group_of = {k: gid for gid, ks in job_groups.items() for k in ks}
    job = make_search_job(job_groups)
    log("search job drawn")

    # Bloom bound for never-inserted keys: per row, P(hits >= u) from
    # each filter's fill (fill^k per filter), summed over rows
    row_fp = []
    for r in day_sk.select("filters").collect():
        filt = K.bloom_unpack(bytes(r[0]), spec.num_filters, spec.filter_bytes)
        row_fp.append(prob_at_least(
            [K.actual_fpr(spec.m_bits, spec.k, K.bloom_bits_set(f))
             for f in filt],
            spec.filters_per_user,
        ))
    n_rows = len(row_fp)
    expected_fp = sum(row_fp) * len(absent)
    fp_limit = expected_fp + 4 * math.sqrt(expected_fp) + 3
    absent_set = set(absent)

    def search():
        kdf, gdf = run_search(day_sk, spec, job, day_cols)
        return kdf.collect(), gdf.collect()

    def check_search(out):
        krows, grows = out
        hits = {(r["key"], r["window_start"], r["repo"]) for r in krows}
        fails = [f"inserted key {c[0]!r} missed in {c[1:]}"
                 for c in sorted(truth - hits, key=str)]
        groups = {(r["group_id"], r["window_start"], r["repo"]) for r in grows}
        fails += [f"group of {c[0]!r} missing in {c[1:]}"
                  for c in sorted(truth, key=str)
                  if (group_of[c[0]], c[1], c[2]) not in groups]
        n_fp = sum(1 for r in krows if r["key"] in absent_set)
        if n_fp > fp_limit:
            fails.append(
                f"{n_fp} absent-key hits exceed the Bloom bound {fp_limit:.1f}"
            )
        return fails

    def fp_share(out) -> float:
        return sum(1 for r in out[0] if r["key"] in absent_set) / (
            n_rows * len(absent)
        )

    ops = [
        Op("rollup", rollup, check_rollup, items=n_leaves),
        Op("search", search, check_search, items=n_rows * len(group_of)),
    ]

    def replay_rows():
        return hourly.select(*leaf_cols, "key_sha").limit(131_072).toPandas()

    return Workload(spec, leaf_cols, ops, [], replay_rows, fp_share,
                    warm_up_rounds=1)


WORKLOADS = {
    "build_few_groups": build_few_groups,
    "build_many_groups": build_many_groups,
    "sketch_query": sketch_query,
}
