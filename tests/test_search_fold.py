"""`run_search`'s one-pass folded probe against the two-pass plan it
replaced.

The reference below is the old engine, kept test-local: the full
`probe_sketches` cross product (whose output is unchanged) shaped by the
old Spark `groupBy` / `when` expressions, copied verbatim.  On tables
whose group columns identify a sketch row — every table the library
builds — the folded probe must give identical rows and schemas for both
result frames."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from honas_spark.functions.text import explode_keys
from honas_spark.operators import build_sketches, sha256_key, with_window
from honas_spark.operators.common import duckdb_round
from honas_spark.operators.probe import probe_sketches, search_probe
from honas_spark.search import parse_search_job, run_search
from honas_spark.sources.corpus import generate_corpus
from honas_spark.spec import SketchSpec

GROUP_COLS = ["window_start", "lang"]


def _spec(flatten_threshold):
    return SketchSpec(
        m_bits=1 << 12, k=4, num_filters=4, filters_per_user=2,
        flatten_threshold=flatten_threshold, cms_width=256, kll_k=32,
    )


def _reference_search(sketch_df, spec, job, group_cols, flatten_on="clients"):
    """The pre-fold `run_search`: cross product, then DataFrame shaping."""
    group_cols = list(group_cols)
    queries = parse_search_job(job)
    probed = probe_sketches(sketch_df, spec, queries, group_cols)

    u_lit = F.lit(spec.filters_per_user)
    est_col = "est_clients" if flatten_on == "clients" else "est_items"
    flattened = F.col(est_col) < F.lit(spec.flatten_threshold)
    probed = probed.withColumn("flattened", flattened).withColumn(
        "hits_out",
        F.when(
            flattened,
            F.when(F.col("hits") < u_lit, F.lit(0)).otherwise(F.lit(1)),
        ).otherwise(F.col("hits")),
    )
    group_df = (
        probed.groupBy(*group_cols, "group_id")
        .agg(
            F.bit_count(F.bit_and(F.col("filters_hit"))).alias("and_pop"),
            F.max("flattened").alias("flattened"),
            F.min((F.col("hits_out") > 0).cast("int")).alias("all_found"),
            F.max((F.col("hits_out") > 0).cast("int")).alias("has_results"),
        )
        .withColumn(
            "hits_by_all_hostnames",
            F.when(F.col("all_found") == 0, F.lit(0)).otherwise(
                F.when(
                    F.col("flattened"),
                    F.when(F.col("and_pop") < u_lit, F.lit(0)).otherwise(
                        F.lit(1)
                    ),
                ).otherwise(F.col("and_pop"))
            ),
        )
        .filter(F.col("has_results") == 1)
        .drop("and_pop", "all_found", "has_results")
    )
    F_, u_ = spec.num_filters, spec.filters_per_user
    base = 1.0 - u_ / F_
    est_clients_for_hits = F.when(F.col("hits") <= 0, F.lit(0.0)).otherwise(
        F.when(F.col("hits") >= F_, F.lit(None).cast("double")).otherwise(
            F.log(1.0 - F.col("hits") / F_) / math.log(base)
            if base > 0
            else F.lit(1.0)
        )
    )
    key_df = (
        probed.filter(F.col("hits") >= F.lit(spec.filters_per_user))
        .select(
            *group_cols,
            "group_id",
            "key",
            F.col("hits_out").alias("hits"),
            "filters_hit",
            "flattened",
            duckdb_round(est_clients_for_hits, 2).alias("est_key_clients"),
            "n_rows",
            "est_clients",
            "est_items",
            "total_bits_set",
        )
    )
    return key_df, group_df


def _sha(key):
    return hashlib.sha256(key.encode()).hexdigest()


def _job(groups):
    """[(id or None, [keys])] -> job JSON; ids may repeat."""
    out = []
    for gid, keys in groups:
        grp = {"hostnames": {k: _sha(k) for k in keys}}
        if gid is not None:
            grp["id"] = gid
        out.append(grp)
    return {"groups": out}


@pytest.fixture(scope="module")
def table(spark):
    """12 hour x lang sketch rows over a small generated corpus (est
    clients 74-101, est hostnames 432-460), plus member keys: common
    ones hit many rows, rare ones few.  The build does not read the
    flatten threshold, so one table serves every search spec."""
    corpus = generate_corpus(spark, 1500, n_hours=4)
    keyed = with_window(
        sha256_key(
            explode_keys(corpus, "path", entity_col="lang",
                         ptr_col="ptr_mode"),
            "key",
        ),
        "commit_ts", "1 hour",
    ).cache()
    by_rows = [
        r["key"] for r in keyed.groupBy("key").count()
        .orderBy(F.desc("count"), "key").collect()
    ]
    sk = build_sketches(
        keyed, _spec(1), GROUP_COLS, client_col="repo", ts_col="commit_ts",
    ).cache()
    assert sk.count() == 12
    yield sk, by_rows[:6], by_rows[-6:]
    sk.unpersist()
    keyed.unpersist()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_same(got, want):
    for g, w in zip(got, want):
        assert g.schema == w.schema
        assert g.columns == w.columns
        assert _rows(g) == _rows(w)


def _groups(common, rare):
    absent = [f"absent/key/{i}.none" for i in range(5)]
    return [
        (1, [common[0], common[1], rare[0]]),
        (3, [rare[1]]),                       # id 3 twice, apart: one group
        (2, [common[0], absent[0]]),          # common[0] also in group 1
        (None, [common[3], rare[3]]),         # id-less group
        (3, [common[2], absent[1], rare[2]]),
        (4, [absent[2], absent[3], absent[4]]),  # all miss
        (5, [common[4], common[5]]),
    ]


@pytest.mark.parametrize(
    "threshold,flatten_on",
    [
        (1, "clients"),            # flatten off: no row has 0 clients
        (10**9, "clients"),        # every row flattened
        (447, "hostnames"),        # the hostname estimate straddles 447
    ],
    ids=["flatten-off", "flatten-all", "flatten-on-hostnames"],
)
def test_fold_matches_groupby_reference(spark, table, threshold, flatten_on):
    sk, common, rare = table
    spec = _spec(threshold)
    job = _job(_groups(common, rare))
    got = run_search(sk, spec, job, GROUP_COLS, flatten_on=flatten_on)
    want = _reference_search(sk, spec, job, GROUP_COLS, flatten_on)
    _assert_same(got, want)
    keys, groups = _rows(got[0]), _rows(got[1])
    assert keys and groups
    gids = {r[2] for r in groups}
    assert None in gids and 3 in gids and 4 not in gids
    if flatten_on == "hostnames":
        flags = {r[-2] for r in groups}
        assert flags == {True, False}


def test_fold_matches_reference_across_arrow_batches(spark, table):
    """One sketch row per Arrow batch: the per-batch fold must not depend
    on how rows are split."""
    sk, common, rare = table
    spec = _spec(90)  # the client estimate straddles 90
    sk = sk.repartition(3)
    job = _job(_groups(common, rare))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        got = run_search(sk, spec, job, GROUP_COLS)
        want = _reference_search(sk, spec, job, GROUP_COLS)
        _assert_same(got, want)
    finally:
        spark.conf.set(key, old)


def test_run_search_executes_the_probe_once(spark, table):
    """Both frames read the materialised fold; neither re-runs the
    probe.  The folded probe's UDF stays named `probe`, the plan node
    label stage tracers key on."""
    sk, common, rare = table
    spec = _spec(1)
    job = _job(_groups(common, rare))
    for df in run_search(sk, spec, job, GROUP_COLS):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan
    probe = search_probe(sk, spec, parse_search_job(job), GROUP_COLS)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas probe(" in plan


def test_empty_and_all_miss_jobs_keep_the_schema(spark, table):
    """No queries, and queries that pass no row's threshold, give empty
    frames typed like a search that hits.  Every row is flattened, so a
    key below filters_per_user counts as a miss for the group too."""
    sk, common, rare = table
    spec = _spec(10**9)
    hit_k, hit_g = run_search(sk, spec, _job([(1, common[:1])]), GROUP_COLS)
    assert hit_k.count() > 0 and hit_g.count() > 0
    miss = _job([(1, ["absent/a.none", "absent/b.none"]), (None, ["x.none"])])
    for job in ({}, miss):
        k, g = run_search(sk, spec, job, GROUP_COLS)
        assert k.schema == hit_k.schema and g.schema == hit_g.schema
        assert k.count() == 0 and g.count() == 0
