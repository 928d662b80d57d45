"""S7/S8/D3 coverage: gather-config parser, info sink, sizing advice."""

import pytest

from honas_spark.spec import SketchSpec
from honas_spark.sources.config import parse_gather_config
from honas_spark.info import sizing_advice


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


def test_sizing_advice_reference_anchor():
    # README.md:642-647: ~2,578,756 uniques/h -> m = 40.81e6 bits @ 1e-3
    advs = {a["target_fpr"]: a for a in sizing_advice(2_578_756)}
    assert 38_000_000 <= advs[1e-3]["m_bits"] <= 42_000_000
    assert advs[1e-3]["k"] in (10, 11)
    # more aggressive FPRs need more bits
    assert advs[1e-4]["m_bits"] > advs[1e-3]["m_bits"]
    assert advs[1e-5]["m_bits"] > advs[1e-4]["m_bits"]


def test_info_rows(spark):
    from honas_spark.operators import build_sketches, sha256_key
    from honas_spark.info import info_rows
    from pyspark.sql import functions as F

    spec = SketchSpec(m_bits=1 << 14, k=5, cms_width=256, kll_k=64)
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "key string"
    ).withColumn("g", F.lit(1))
    sk = build_sketches(sha256_key(df, "key"), spec, ["g"])
    info = info_rows(sk, spec, ["g"]).collect()
    assert len(info) == 1
    assert info[0]["n_rows"] == 3
    assert info[0]["est_items"] == 3
    assert 0 < info[0]["total_bits_set"] <= 15

