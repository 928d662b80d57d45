"""Deterministic sampling operators (training-pipeline additions)."""

from pyspark.sql import functions as F

from honas_spark.operators.sampling import (
    hash_bucket,
    hash_sample,
    top_k_by_hash,
)


def _docs(spark, n=2000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("lang"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )


def test_hash_sample_rate_and_determinism(spark):
    df = _docs(spark)
    a = hash_sample(df, "text", 20)
    b = hash_sample(df, "text", 20)
    ids_a = {r["doc_id"] for r in a.collect()}
    ids_b = {r["doc_id"] for r in b.collect()}
    assert ids_a == ids_b, "same input -> same sample"
    # ~20% within binomial noise (n=2000, p=.2 -> sigma~18)
    assert 300 < len(ids_a) < 500, len(ids_a)
    # stable under repartitioning
    ids_c = {
        r["doc_id"] for r in hash_sample(df.repartition(13), "text", 20).collect()
    }
    assert ids_c == ids_a
    # nested: a 10% sample is a subset of the 20% sample (same salt)
    ids_10 = {r["doc_id"] for r in hash_sample(df, "text", 10).collect()}
    assert ids_10 <= ids_a
    # different salt -> different (mostly) sample
    salted = {
        r["doc_id"] for r in hash_sample(df, "text", 20, salt="s1").collect()
    }
    assert salted != ids_a


def test_hash_sample_is_filter_only(spark):
    plan = hash_sample(_docs(spark), "text", 20)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_top_k_by_hash_exact_k_and_stable(spark):
    df = _docs(spark)
    out = top_k_by_hash(df, "text", ["lang"], k=5)
    per = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert all(n == 5 for n in per.values()), per
    again = top_k_by_hash(df.repartition(7), "text", ["lang"], k=5)
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in again.collect()
    }


def test_hash_bucket_range(spark):
    df = _docs(spark, 500).select(hash_bucket(F.col("text")).alias("b"))
    mm = df.agg(F.min("b"), F.max("b")).collect()[0]
    assert 0 <= mm[0] and mm[1] <= 99


def test_weighted_hash_sample_properties(spark):
    """Deterministic E-S weighted sampling: reproducible, matches a
    local model of the same hash-uniform formula, excludes nonpositive
    weights, and — across many salts — picks items with frequency
    tracking their weights (the property that makes it an importance-
    sampling primitive)."""
    import hashlib
    import math

    import pytest

    from honas_spark.operators.sampling import weighted_hash_sample

    rows = [(i, (i % 7) + 1) for i in range(60)]
    rows += [(100, 0), (101, None)]  # never selectable
    df = spark.createDataFrame(rows, "doc_id long, w long")

    def model_scores(salt):
        out = {}
        for did, w in rows:
            if not w:
                continue
            u = (int(hashlib.md5(
                f"{salt}{did}".encode()).hexdigest()[:15], 16) + 1
            ) / float(1 << 60)
            out[did] = -math.log(u) / w
        return out

    got = [r["doc_id"] for r in weighted_hash_sample(
        df, "doc_id", "w", k=20).collect()]
    want = sorted(model_scores("42"), key=lambda d: (
        model_scores("42")[d], d))[:20]
    assert sorted(got) == sorted(want)
    assert 100 not in got and 101 not in got
    # determinism: second run identical
    again = [r["doc_id"] for r in weighted_hash_sample(
        df, "doc_id", "w", k=20).collect()]
    assert sorted(again) == sorted(got)

    # frequency tracks weight (local model over many salts): item with
    # weight 7 must win the k=1 draw far more often than weight 1
    wins = {1: 0, 7: 0}
    weights = dict(rows)
    for s in range(300):
        sc = model_scores(str(s))
        best = min(sc, key=lambda d: (sc[d], d))
        wbest = weights[best]
        if wbest in wins:
            wins[wbest] += 1
    # 9 docs have w=7, 9 have w=1: expected win ratio ~7:1 per doc
    assert wins[7] > wins[1] * 3, wins

    with pytest.raises(ValueError, match="k must be"):
        weighted_hash_sample(df, "doc_id", "w", k=0)


def test_weighted_hash_sample_per_group(spark):
    """Per-group quota: exactly k winners per group (fewer when the
    group is smaller), chosen by the same deterministic score as the
    global form."""
    from honas_spark.operators.sampling import (
        weighted_hash_sample,
        weighted_hash_sample_per_group,
    )

    rows = [(i, "g" + str(i % 3), (i % 5) + 1) for i in range(45)]
    rows += [(100, "tiny", 4)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w long")
    got = weighted_hash_sample_per_group(
        df, ["g"], "doc_id", "w", k=4
    ).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append(r["doc_id"])
    assert {g: len(v) for g, v in by_g.items()} == {
        "g0": 4, "g1": 4, "g2": 4, "tiny": 1
    }
    # per-group winners = the global form applied to that group alone
    g0 = df.filter("g = 'g0'")
    want = sorted(
        r["doc_id"]
        for r in weighted_hash_sample(g0, "doc_id", "w", k=4).collect()
    )
    assert sorted(by_g["g0"]) == want
