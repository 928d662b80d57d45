"""The shared grouping step of the grouped sketch operators:
`common.group_segments` (positional group split inside a pandas batch),
`common.group_fields_ddl` (float group columns rejected) and the
two-phase plan of the sketch siblings across Arrow batch boundaries."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from honas_spark.operators.common import group_segments


def test_group_segments_order_stability_and_na_keys():
    """Group g is gb.agg row g (first-appearance order), rows inside a
    group keep arrival order, and None/NaN/NaT keys all become None."""
    ts = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame({
        "s": ["b", None, "a", "b", None, "a", "b"],
        "f": [np.nan, 1.0, np.nan, 2.0, 1.0, np.nan, np.nan],
        "t": [ts, pd.NaT, ts, pd.NaT, pd.NaT, ts, ts],
        "v": np.arange(7),
    })
    gb, keys, order, seg = group_segments(pdf, ["s", "f", "t"])
    assert keys == [
        ("b", None, np.datetime64(ts)),
        (None, 1.0, None),
        ("a", None, np.datetime64(ts)),
        ("b", 2.0, None),
    ]
    rows = [order[seg[g]: seg[g + 1]].tolist() for g in range(len(keys))]
    assert rows == [[0, 6], [1, 4], [2, 5], [3]]
    sums = gb.agg(_v=("v", "sum"))["_v"].tolist()
    assert sums == [sum(r) for r in rows]
    # every NA form canonicalises to the None singleton
    for g in (0, 2):
        assert keys[g][1] is None
    assert keys[1][2] is None and keys[3][2] is None
    # one key column: a hashable 1-tuple per group
    _, keys1, _, seg1 = group_segments(pdf, ["s"])
    assert keys1 == [("b",), (None,), ("a",)]
    assert np.diff(seg1).tolist() == [3, 2, 2]


def _float_keyed(spark):
    """Spark's groupBy sees three groups here (NaN, NULL, 1.0); pandas
    workers receive both NaN and NULL as NaN and write a NaN key back
    as NULL, so a float group column would silently fold them."""
    return spark.createDataFrame(
        [(float("nan"), "k", 1.0), (None, "k", 2.0), (1.0, "k", 3.0)],
        "g double, key string, v double",
    )


@pytest.mark.parametrize("mode", ["map_combine", "shuffle_keys"])
def test_build_sketches_rejects_float_group_column(spark, mode):
    from honas_spark.operators import build_sketches, sha256_key
    from honas_spark.spec import SketchSpec

    spec = SketchSpec(m_bits=1 << 10, k=3, cms_width=64, kll_k=32)
    keyed = sha256_key(_float_keyed(spark), "key")
    with pytest.raises(ValueError, match="group column 'g' is double"):
        build_sketches(keyed, spec, ["g"], mode=mode)


def test_ddsketch_agg_rejects_float_group_column(spark):
    from honas_spark.operators.quantiles import ddsketch_agg

    with pytest.raises(ValueError, match="group column 'g' is double"):
        ddsketch_agg(_float_keyed(spark), ["g"], "v")


def _with_one_row_batches(spark, build):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "1")
        return build()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_sibling_aggs_one_row_per_group_across_batches(spark):
    """With 1-row Arrow batches and one partition every group (a NULL
    string key and a NULL timestamp key among them) spans many batches
    in both phases; each sibling still emits one row per group, equal
    to the row it emits under default batching."""
    from honas_spark.operators.bottomk import bottomk_sample_agg
    from honas_spark.operators.quantiles import ddsketch_agg
    from honas_spark.operators.theta import theta_sketch_agg

    rows = [
        (g, None if i % 4 == 0 else f"2024-01-0{1 + i % 2} 00:00:00",
         str(i % 9), float(1 + i % 13))
        for i in range(120)
        for g in ("a", None, "b")
        if (i + len(g or "")) % 3
    ]
    df = spark.createDataFrame(
        rows, "g string, t string, v string, x double"
    ).withColumn("t", F.col("t").cast("timestamp"))
    n_groups = len({(g, t) for g, t, _, _ in rows})
    assert n_groups == 9
    gcols = ["g", "t"]
    runs = {
        "theta": lambda d: theta_sketch_agg(d, gcols, "v", k=8),
        "ddsketch": lambda d: ddsketch_agg(d, gcols, "x"),
        "bottomk": lambda d: bottomk_sample_agg(d, gcols, "v", k=4),
    }

    def sort_key(r):
        return tuple((v is None, str(v)) for v in r)

    for name, agg in runs.items():
        want = sorted(map(tuple, agg(df).collect()), key=sort_key)
        got = sorted(
            map(tuple, _with_one_row_batches(
                spark, lambda: agg(df.coalesce(1)).collect()
            )),
            key=sort_key,
        )
        assert len(got) == n_groups, (name, got)
        assert len({r[:2] for r in got}) == n_groups, (name, got)
        assert got == want, name
