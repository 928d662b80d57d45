"""Hot-group salting in `build_sketches(mode="shuffle_keys", salt=...)`:
one count action gives group g with n_g of N rows the fan-out
min(salt, ceil(n_g * P / N)), P = spark.sql.shuffle.partitions (4 in the
test session); a build with no group above N/P rows runs the unsalted
plan, without the merge stage.  Output is bit-identical either way."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from honas_spark.spec import SketchSpec
from honas_spark.operators import build_sketches, sha256_key
from honas_spark.operators import sketch_agg
from honas_spark.operators.sketch_agg import _hot_fanout

SPEC = SketchSpec(m_bits=1 << 16, k=5, window="1 hour",
                  cms_width=1024, kll_k=64)
COLS = ("filters", "hll_clients", "hll_items", "cms", "n_rows",
        "first_ts", "last_ts")
KW = dict(client_col="client", ts_col="ts")


def _keyed(spark, n, group, seconds=None):
    """n rows with a distinct key each and 13 clients; `group` is the
    group key's Column and `seconds` the row's offset from 2024-01-01
    00:00 UTC (one minute per row by default)."""
    if seconds is None:
        seconds = F.col("id") * 60
    df = spark.range(n).select(
        group.alias("g"),
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("c"), (F.col("id") % 13).cast("string"))
        .alias("client"),
        F.timestamp_seconds(F.lit(1_704_067_200) + seconds).alias("ts"),
    )
    return sha256_key(df, "key")


def _has_merge(df) -> bool:
    return "merge_all" in df._jdf.queryExecution().optimizedPlan().toString()


def _assert_same(a, b, key="g"):
    ra = {str(r[key]): r for r in a.collect()}
    rb = {str(r[key]): r for r in b.collect()}
    assert ra.keys() == rb.keys()
    for g in ra:
        for c in COLS:
            assert ra[g][c] == rb[g][c], (g, c)


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_no_hot_group_runs_the_unsalted_plan(spark):
    """Eight groups of 1/8 of the rows each, under 1/P = 1/4: salt=8
    builds one partial per group and no merge stage, and the sketches
    equal map_combine's."""
    keyed = _keyed(spark, 1600, F.col("id") % 8)
    salted = build_sketches(keyed, SPEC, ["g"], mode="shuffle_keys",
                            salt=8, **KW)
    assert not _has_merge(salted)
    _assert_same(salted, build_sketches(keyed, SPEC, ["g"], **KW))


@pytest.mark.parametrize("salt", [2, 8])
def test_hot_group_fans_out_min_salt_3(spark, monkeypatch, salt):
    """One group with 60% of the rows on a P=4 session gets fan-out
    min(salt, ceil(0.6 * 4)) = min(salt, 3); the eight groups of 5%
    stay at one partial each; the merge runs and the output is equal."""
    keyed = _keyed(
        spark, 1000,
        F.when(F.col("id") < 600, 0).otherwise(1 + F.col("id") % 8),
    )
    hot = keyed.filter("g = 0").select(F.xxhash64("g")).first()[0]
    assert _hot_fanout(keyed, F.xxhash64("g"), salt) == {min(salt, 3): [hot]}

    partials = []
    merge = sketch_agg._merge_phase

    def spy(sketch_df, *a):
        partials.append(sketch_df)
        return merge(sketch_df, *a)

    monkeypatch.setattr(sketch_agg, "_merge_phase", spy)
    salted = build_sketches(keyed, SPEC, ["g"], mode="shuffle_keys",
                            salt=salt, **KW)
    assert _has_merge(salted)
    per_group = {
        r["g"]: r["count"]
        for r in partials[0].groupBy("g").count().collect()
    }
    assert per_group.pop(0) <= min(salt, 3)
    assert set(per_group.values()) == {1} and len(per_group) == 8
    _assert_same(salted, build_sketches(keyed, SPEC, ["g"], **KW))


def test_null_keyed_hot_group_is_salted(spark):
    """A NULL group key holding 60% of the rows is hot like any other,
    and its salted sketches equal map_combine's bit for bit."""
    keyed = _keyed(
        spark, 1000,
        F.when(F.col("id") >= 600, F.col("id") % 4),
    )
    assert list(_hot_fanout(keyed, F.xxhash64("g"), 8)) == [3]
    salted = build_sketches(keyed, SPEC, ["g"], mode="shuffle_keys",
                            salt=8, **KW)
    assert _has_merge(salted)
    _assert_same(salted, build_sketches(keyed, SPEC, ["g"], **KW))


def test_window_keyed_hot_group_is_salted_in_a_non_utc_zone(spark):
    """A hot `window_start` group under a session zone with a half-hour
    offset: the count and the salt never move the key through the
    driver, so the group is salted and the output is bit-identical."""
    with _conf(spark, "spark.sql.session.timeZone", "Asia/Kolkata"):
        # rows 0-599 fall in the first hour, the rest in hours 1-6
        keyed = _keyed(
            spark, 1000, F.lit(0),
            F.when(F.col("id") < 600, F.col("id"))
            .otherwise(3600 * (1 + F.col("id") % 6)),
        ).withColumn("window_start", F.window("ts", "1 hour")["start"])
        cols = ["window_start"]
        assert list(_hot_fanout(keyed, F.xxhash64(*cols), 8)) == [3]
        salted = build_sketches(keyed, SPEC, cols, mode="shuffle_keys",
                                salt=8, **KW)
        assert _has_merge(salted)
        _assert_same(salted, build_sketches(keyed, SPEC, cols, **KW),
                     key="window_start")


def test_count_action_collects_at_most_p_plus_one_rows(spark, monkeypatch):
    """50 groups, one of them hot: the build's only driver action is the
    count, and it brings back the total and the P = 4 largest groups.
    salt=1 and a one-partition session run no count and no merge."""
    keyed = _keyed(
        spark, 2000,
        F.when(F.col("id") < 1000, 0).otherwise(F.col("id") % 50),
    )
    seen = []
    collect = type(keyed).collect

    def spy(self):
        rows = collect(self)
        seen.append(len(rows))
        return rows

    monkeypatch.setattr(type(keyed), "collect", spy)
    sk = build_sketches(keyed, SPEC, ["g"], mode="shuffle_keys", salt=8)
    assert seen == [5] and _has_merge(sk)

    seen.clear()
    sk = build_sketches(keyed, SPEC, ["g"], mode="shuffle_keys", salt=1)
    assert seen == [] and not _has_merge(sk)
    with _conf(spark, "spark.sql.shuffle.partitions", "1"):
        sk = build_sketches(keyed, SPEC, ["g"], mode="shuffle_keys", salt=8)
    assert seen == [] and not _has_merge(sk)
