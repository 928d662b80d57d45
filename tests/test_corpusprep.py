"""Corpus-preparation operators: deterministic shuffle, splits,
chunking, salient terms — semantics, determinism under layout changes,
and the plan shapes that make them 100 TB-safe."""

import math

import pytest
from pyspark.sql import functions as F

from honas_spark.operators.corpusprep import (
    chunk_docs,
    global_shuffle,
    hash_split,
    salient_terms,
    stratified_split,
)
from plan_checks import assert_max_shuffles, formatted_plan

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ---------------------------------------------------------------- shuffle


def test_global_shuffle_is_permutation(spark):
    docs = _docs(spark)
    n = docs.count()
    out = global_shuffle(docs, "doc_id", seed=7)
    pos = [r["shuffle_pos"] for r in out.collect()]
    assert sorted(pos) == list(range(n))
    # the permutation actually permutes (not the identity order)
    ids_in_pos_order = [
        r["doc_id"]
        for r in out.orderBy("shuffle_pos").collect()
    ]
    assert ids_in_pos_order != sorted(ids_in_pos_order)


def test_global_shuffle_layout_and_parallelism_invariant(spark):
    docs = _docs(spark)
    base = dict(
        (r["doc_id"], r["shuffle_pos"])
        for r in global_shuffle(docs, "doc_id", seed=7).collect()
    )
    relaid = dict(
        (r["doc_id"], r["shuffle_pos"])
        for r in global_shuffle(
            docs.repartition(13), "doc_id", seed=7, num_partitions=3
        ).collect()
    )
    assert base == relaid
    reseeded = dict(
        (r["doc_id"], r["shuffle_pos"])
        for r in global_shuffle(docs, "doc_id", seed=8).collect()
    )
    assert base != reseeded


def test_global_shuffle_no_single_partition_sort(spark):
    out = global_shuffle(_docs(spark), "doc_id", seed=7)
    assert "Exchange SinglePartition" not in formatted_plan(out)


def test_global_shuffle_empty_input(spark):
    out = global_shuffle(
        _docs(spark).filter(F.lit(False)), "doc_id", seed=7
    )
    assert out.count() == 0
    assert "shuffle_pos" in out.columns


# ----------------------------------------------------------------- splits


def test_stratified_split_exact_quotas(spark):
    docs = _docs(spark)
    out = stratified_split(
        docs, ["lang"], "doc_id",
        weights={"train": 0.8, "val": 0.1, "test": 0.1}, seed=3,
    )
    got = {
        (r["lang"], r["split"]): r["cnt"]
        for r in out.groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in docs.groupBy("lang").count().collect():
        n = r["count"]
        train = math.floor(n * 0.8)
        val = math.floor(n * 0.9) - train
        test = n - train - val
        assert got.get((r["lang"], "train"), 0) == train
        assert got.get((r["lang"], "val"), 0) == val
        assert got.get((r["lang"], "test"), 0) == test


def test_stratified_split_layout_invariant(spark):
    docs = _docs(spark)
    a = dict(
        (r["doc_id"], r["split"])
        for r in stratified_split(
            docs, ["lang"], "doc_id", seed=3
        ).collect()
    )
    b = dict(
        (r["doc_id"], r["split"])
        for r in stratified_split(
            docs.repartition(17), ["lang"], "doc_id", seed=3
        ).collect()
    )
    assert a == b


@pytest.mark.parametrize(
    "weights,err",
    [
        ({"train": 1.0}, "need >= 2"),
        ({"train": 0.5, "val": 0.4}, "sum to 1"),
        ({"train": 1.5, "val": -0.5}, "negative"),
    ],
)
def test_split_weight_validation(spark, weights, err):
    with pytest.raises(ValueError, match=err):
        stratified_split(_docs(spark), ["lang"], "doc_id", weights)


def test_hash_split_zero_shuffle_and_agrees_with_weights(spark):
    docs = _docs(spark)
    out = hash_split(docs, "doc_id", seed=3)
    assert_max_shuffles(out.select("doc_id", "split"), 0)
    n = docs.count()
    counts = {
        r["split"]: r["count"]
        for r in out.groupBy("split").count().collect()
    }
    # approximate quotas: within 4*sqrt(n) of the target
    assert abs(counts.get("train", 0) - 0.9 * n) < 4 * math.sqrt(n)
    # deterministic across layouts
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            docs.repartition(5), "doc_id", seed=3
        ).collect()
    }
    assert a == b


# --------------------------------------------------------------- chunking


def test_chunk_docs_window_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a"),
            (3, ""),
            (4, "  \t \n "),
            (5, "a b c"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["chunk_tokens"])
        for r in chunk_docs(
            df, "doc_id", "text", max_tokens=3, stride=2
        ).collect()
    }
    # doc 1: starts 0,2,4 -> [a b c], [c d e], [e]
    assert out[(1, 0)] == ("a b c", 3)
    assert out[(1, 1)] == ("c d e", 3)
    assert out[(1, 2)] == ("e", 1)
    assert out[(2, 0)] == ("a", 1)
    assert out[(5, 0)] == ("a b c", 3)
    assert out[(5, 1)] == ("c", 1)
    # token-free docs yield no chunks (incl. whitespace-only: the
    # tokenizer is the same \s+ filter as the rest of the engine)
    assert not any(k[0] in (3, 4) for k in out)


def test_chunk_docs_covers_every_token(spark):
    docs = _docs(spark)
    chunks = chunk_docs(docs, "doc_id", "text", max_tokens=32, stride=16)
    tot = chunks.groupBy("doc_id").agg(
        F.max(
            F.col("chunk_id") * 16 + F.col("chunk_tokens")
        ).alias("covered")
    )
    from honas_spark.functions.text import tokens

    want = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n")
    ).filter(F.col("n") > 0)
    bad = (
        want.join(tot, "doc_id", "left")
        .filter(
            F.col("covered").isNull() | (F.col("covered") < F.col("n"))
        )
        .count()
    )
    assert bad == 0


def test_chunk_docs_zero_shuffle(spark):
    out = chunk_docs(_docs(spark), "doc_id", "text")
    assert_max_shuffles(out, 0)


def test_chunk_docs_validation(spark):
    with pytest.raises(ValueError, match="max_tokens and stride"):
        chunk_docs(_docs(spark), "doc_id", "text", max_tokens=0)
    with pytest.raises(ValueError, match="max_tokens and stride"):
        chunk_docs(_docs(spark), "doc_id", "text", stride=0)


# ---------------------------------------------------------- salient terms


def test_salient_terms_ranking_and_scores(spark):
    df = spark.createDataFrame(
        [
            (1, "x x x y z"),
            (2, "y z z"),
            (3, "w"),
        ],
        "doc_id long, text string",
    )
    out = salient_terms(df, "doc_id", "text", k=2)
    rows = {
        (r["doc_id"], r["rank"]): r
        for r in out.collect()
    }
    # doc 1: x (tf 3) first; tf-1 tie between y and z breaks by term
    assert rows[(1, 1)]["term"] == "x"
    assert rows[(1, 2)]["term"] == "y"
    # doc 2: z (tf 2) then y
    assert rows[(2, 1)]["term"] == "z"
    assert rows[(2, 2)]["term"] == "y"
    # doc 3: only w
    assert rows[(3, 1)]["term"] == "w"
    assert (3, 2) not in rows
    # score: x in doc 1 = 3 * ln((3+1)/(1+1)) rounded to 4 dp
    assert rows[(1, 1)]["tfidf"] == round(3 * math.log(4 / 2), 4)
    assert rows[(1, 1)]["doc_freq"] == 1


def test_salient_terms_k_validation(spark):
    with pytest.raises(ValueError, match="k must be"):
        salient_terms(_docs(spark), "doc_id", "text", k=0)


# ---------------------------------------------------------- rebalance


def test_rebalance_sources_exact_mix_and_md5_prefix_selection(spark):
    """Quotas are the integer-exact largest mix; the kept rows per
    source are exactly the md5(seed:id)-smallest ids."""
    import hashlib

    from honas_spark.operators.corpusprep import rebalance_sources

    rows = (
        [(i, "A") for i in range(10)]
        + [(100 + i, "B") for i in range(4)]
        + [(200, "C")]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = rebalance_sources(
        df, "source", "doc_id", {"A": 5, "B": 2, "C": 1}, seed=3
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # limiting source is C (1/1=1 < 10/5, 4/2): quotas A=5, B=2, C=1
    assert {s: len(v) for s, v in by_src.items()} == {
        "A": 5, "B": 2, "C": 1
    }
    for src, ids, quota in (("A", range(10), 5), ("B", range(100, 104), 2)):
        order = sorted(
            ids, key=lambda i: (hashlib.md5(f"3:{i}".encode()).hexdigest(), i)
        )
        assert sorted(by_src[src]) == sorted(order[:quota])
    # mix_rank is 1..quota within each source
    ranks = {}
    for r in out:
        ranks.setdefault(r["source"], []).append(r["mix_rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


def test_rebalance_sources_layout_invariant_and_validation(spark):
    import pytest

    from honas_spark.operators.corpusprep import rebalance_sources

    rows = [(i, f"s{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    parts = {"s0": 3, "s1": 1, "s2": 2}
    base = sorted(
        (r["doc_id"], r["mix_rank"])
        for r in rebalance_sources(df, "source", "doc_id", parts).collect()
    )
    relaid = sorted(
        (r["doc_id"], r["mix_rank"])
        for r in rebalance_sources(
            df.repartition(13, "doc_id"), "source", "doc_id", parts
        ).collect()
    )
    assert base == relaid and len(base) > 0
    with pytest.raises(ValueError):
        rebalance_sources(df, "source", "doc_id", {})
    with pytest.raises(ValueError):
        rebalance_sources(df, "source", "doc_id", {"s0": 0, "s1": 1, "s2": 1})
    with pytest.raises(ValueError):  # observed source without a part
        rebalance_sources(df, "source", "doc_id", {"s0": 1, "s1": 1})
