"""S7/S8 coverage: gather-config parser, info sink."""

import pytest

from honas_spark.spec import SketchSpec
from honas_spark.sources.config import parse_gather_config


def test_parse_gather_config_reference_shape():
    # etc/example_honas-gather.conf:1-8 shape
    text = """
# example config
bloomfilter_path /data
period_length 86400
number_of_filters 6
number_of_bits_per_filter 8388608
number_of_hashes 5
number_of_filters_per_user 3
flatten_threshold 10
"""
    spec = parse_gather_config(text)
    assert spec.num_filters == 6
    assert spec.m_bits == 8388608
    assert spec.k == 5
    assert spec.filters_per_user == 3
    assert spec.flatten_threshold == 10
    assert spec.window == "86400 seconds"


def test_parse_gather_config_rejects_bad_combo():
    with pytest.raises(ValueError):
        parse_gather_config(
            "number_of_filters 2\nnumber_of_filters_per_user 3\n"
        )


def test_info_rows(spark):
    from honas_spark.operators import (
        build_sketches, finalize_stats, sha256_key,
    )
    from pyspark.sql import functions as F

    spec = SketchSpec(m_bits=1 << 14, k=5, cms_width=256, kll_k=64)
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "key string"
    ).withColumn("g", F.lit(1))
    sk = build_sketches(sha256_key(df, "key"), spec, ["g"])
    info = finalize_stats(sk, spec, ["g"]).collect()
    assert len(info) == 1
    assert info[0]["n_rows"] == 3
    assert info[0]["est_items"] == 3
    assert 0 < info[0]["total_bits_set"] <= 15

