"""Plan-shape regression tests: pruning, pushdown, broadcast, shuffle
counts — the properties that decide whether a query survives a 100x
scale-up.  Uses the plan_checks helpers so regressions fail loudly."""

from pyspark.sql import functions as F

from plan_checks import (
    assert_columns_pruned,
    assert_max_shuffles,
    plan_summary,
)

SF = "/root/testdata/sf0.001"


def test_textstats_prunes_and_single_pass(spark):
    import __spark_entry__ as E

    df = E.queries()["textstats"](spark, SF)
    assert_columns_pruned(df, {"doc_id", "text"})
    # project + sort only: no aggregation shuffle
    assert_max_shuffles(df, 1)


def test_pricing_summary_pushdown(spark):
    import __spark_entry__ as E

    df = E.queries()["pricing_summary"](spark, SF)
    s = plan_summary(df)
    assert any("l_shipdate" in f for f in s["pushed_filters"])
    assert s["wholestage_codegen"]
    assert_max_shuffles(df, 2)  # group-by + order-by


def test_knn_broadcasts_queries(spark):
    import __spark_entry__ as E

    df = E.queries()["knn_bruteforce"](spark, SF)
    s = plan_summary(df)
    assert s["n_broadcasts"] >= 1, "query side must broadcast"
    assert any("vec_id" in f for f in s["pushed_filters"])


def test_prefix_join_case_path_has_no_join_shuffle(spark):
    from honas_spark.operators.prefix_join import longest_prefix_join

    fact = spark.range(100).withColumn(
        "key", F.concat(F.lit("org"), (F.col("id") % 3).cast("string"))
    ).withColumnRenamed("id", "row_id")
    dim = spark.createDataFrame(
        [("org0", "A"), ("org1", "B")], "prefix string, entity string"
    )
    out = longest_prefix_join(fact, dim, "key")
    assert_max_shuffles(out, 0)  # CASE fast path: pure projection


def test_sketch_build_shuffles_once(spark):
    """shuffle_keys mode: exactly one exchange of slim key rows before
    the partial build, one tiny exchange of partials; ts-stats agg adds
    its own aggregate exchange + broadcast join back."""
    from honas_spark.spec import SketchSpec
    from honas_spark.operators import build_sketches, sha256_key

    spec = SketchSpec(m_bits=1 << 14, k=5, cms_width=256, kll_k=64)
    df = spark.range(1000).select(
        F.lit(1).alias("g"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
    )
    sk = build_sketches(
        sha256_key(df, "key"), spec, ["g"], mode="shuffle_keys"
    )
    s = plan_summary(sk)
    assert s["n_exchanges"] <= 2, s


def test_ngram_jaccard_cap_avoids_window_sort(spark):
    """The shingle document-frequency cap must be a groupBy-count +
    semi-join (map-side partial aggregation), never a sort-based window —
    a hot stop-shingle would serialize its whole posting list into one
    sorted partition."""
    from honas_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 5} jumps over") for i in range(40)],
        "doc_id long, text string",
    )
    out = ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, max_shingle_freq=30
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_cms_probe_hashes_jvm_side(spark):
    """Candidate hashing must happen in the JVM projection (sha2 inside
    whole-stage codegen) before the Arrow exchange — the Python side is
    only the vectorized numpy CMS query, so an arbitrarily large
    candidate column never pays per-row interpreted hashing."""
    from honas_spark.operators.probe import cms_probe
    from honas_spark.spec import SketchSpec

    spec = SketchSpec(m_bits=1 << 14, k=5, cms_depth=4, cms_width=256)
    cms_bytes = bytes(8 * spec.cms_depth * spec.cms_width)
    cands = spark.createDataFrame(
        [("alpha",), ("beta",)], "token string"
    )
    df = cms_probe(cands, cms_bytes, spec)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "sha2" in plan, plan
    assert all(r["est"] == 0 for r in df.collect())


def test_pareto_coverage_no_single_partition_exchange(spark):
    """The Pareto head must never funnel the vocabulary through one
    task: no Exchange SinglePartition, and every Window is partitioned
    by the range-partition id."""
    import __spark_entry__ as E

    df = E.queries()["pareto_coverage"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "_pid" in line, line


def test_pareto_coverage_matches_local_cumsum(spark):
    """Distributed rank/cum_n must equal the single-machine sort+cumsum
    on a skewed (Zipf-ish) count table spread over many partitions."""
    from honas_spark.operators.pareto import pareto_coverage

    rows = [(f"tok{i:04d}", max(1, 5000 // (i + 1))) for i in range(800)]
    counts = spark.createDataFrame(rows, "token string, n long").repartition(16)
    got = {
        r["rank"]: (r["token"], r["n"], r["cum_n"])
        for r in pareto_coverage(
            counts, "token", "n", coverage_pct=80, num_partitions=8
        ).collect()
    }
    srt = sorted(rows, key=lambda r: (-r[1], r[0]))
    total = sum(n for _, n in rows)
    cum, want = 0, {}
    for rank, (t, n) in enumerate(srt, start=1):
        if cum * 100 < total * 80:
            want[rank] = (t, n, cum + n)
        cum += n
    assert got == want


def test_minhash_lsh_capped_path_avoids_window_sort(spark):
    """The hot-bucket cap must come from a groupBy-count semi-join, not a
    sort-based window; pair generation is a projection over collected
    buckets (no bucket self-join)."""
    from honas_spark.operators.dedup import (
        minhash_lsh_candidates, minhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, f"some text number {i % 7} repeated here") for i in range(50)],
        "doc_id long, text string",
    )
    sig = minhash_signatures(df, "doc_id", "text", num_hashes=16, n=2)
    out = minhash_lsh_candidates(
        sig, "doc_id", num_hashes=16, bands=4, max_bucket_size=20
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_simhash_capped_path_no_self_join(spark):
    """The simhash/SRP banding cap mirrors the LSH cap: bucket sizes
    from a groupBy-count semi-join (no sort-based window), pairs from a
    projection over collected buckets (no band self-join anywhere)."""
    from honas_spark.operators.dedup import simhash, simhash_near_pairs

    df = spark.createDataFrame(
        [(i, f"words to hash number {i % 9} body") for i in range(50)],
        "doc_id long, text string",
    )
    sim = simhash(df, "doc_id", "text")
    out = simhash_near_pairs(sim, "doc_id", max_bucket_size=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    # the only join on the capped path is the LeftSemi bucket filter
    join_lines = [
        ln for ln in plan.splitlines() if "Join" in ln
    ]
    assert join_lines and all(
        "LeftSemi" in ln for ln in join_lines
    ), join_lines


def test_curate_plan_no_cartesian(spark):
    """The composed curate pipeline must stay equi-join-shaped: no
    cartesian products or nested-loop joins anywhere in the per-doc
    join fan-in.  (Exchange SinglePartition DOES appear — it is
    Spark's own runtime bloom-filter join pruning building its compact
    filter buffer, an optimization, not a data bottleneck.)"""
    import __spark_entry__ as E

    df = E.queries()["curate"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_sector_rollup_broadcasts_mapping(spark):
    import __spark_entry__ as E

    df = E.queries()["sector_rollup"](spark, SF)
    s = plan_summary(df)
    assert s["n_broadcasts"] >= 1, "sector dim must broadcast"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_span_dup_no_window_no_cartesian(spark):
    """span_dup's shared-span cap is a groupBy + semi-join like the
    LSH/DF caps: no sort-based window, no join explosion."""
    import __spark_entry__ as E

    df = E.queries()["span_dup"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Cartesian" not in plan


def test_sessionize_single_key_shuffle(spark):
    """Sessionization is ONE shuffle on the key (the ordered window);
    the rollup adds only the groupBy on (key, session_seq)."""
    import datetime as dt

    from honas_spark.operators.sessionize import session_stats, sessionize

    ev = spark.createDataFrame(
        [
            (i % 5, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i))
            for i in range(100)
        ],
        "uid long, ts timestamp",
    )
    assert_max_shuffles(sessionize(ev, "uid", "ts", 60), 1)
    assert_max_shuffles(session_stats(ev, "uid", "ts", 60), 2)


def test_cumulative_distinct_window_sees_buckets_not_events(spark):
    """The unpartitioned prefix-sum window must sit ABOVE both
    aggregations (it orders |buckets| rows, never the event log)."""
    import datetime as dt

    from honas_spark.operators.rollups import cumulative_distinct

    ev = spark.createDataFrame(
        [(i % 7, dt.datetime(2024, 1, 1 + i % 3)) for i in range(50)],
        "uid long, ts timestamp",
    )
    df = cumulative_distinct(ev, "uid", "ts")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # Window is the plan ROOT side; both Aggregates appear beneath it
    w = plan.index("Window")
    assert plan.index("Aggregate") > w, "window must run on aggregated buckets"


def test_bloom_prune_join_filters_before_exchange(spark):
    """The Bloom probe must run in the big side's SCAN stage — an
    ArrowEvalPython (vectorized pandas_udf over the 8-byte hash only)
    BELOW the join, so the exchange moves survivors, not the input."""
    from honas_spark.operators.bloomjoin import bloom_prune_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet").filter("p_size <= 2")
    out = bloom_prune_join(
        li.select("l_orderkey", "l_partkey"),
        "l_partkey",
        part.select(F.col("p_partkey").alias("l_partkey"), "p_name"),
        "l_partkey",
        m_bits=1 << 13,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
    assert join_pos >= 0, plan
    # tree prints root-first: the probe appears after (= below) the join
    assert plan.find("ArrowEvalPython") > join_pos, plan
    # only the xxhash64 fold crosses into Python, never content columns
    probe_seg = plan[plan.find("ArrowEvalPython"):][:400]
    assert "xxhash64" in probe_seg, probe_seg


def test_pagerank_no_cartesian_bounded_shuffles(spark):
    from honas_spark.operators.graph import pagerank

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    e = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 100).alias("dst"),
    )
    pr = pagerank(e, iterations=2, checkpoint_every=0)  # keep full plan
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_drift_no_single_partition_exchange(spark):
    """The global ECDF cumsum must come from the range-partition trick,
    never an Exchange SinglePartition window over the value domain."""
    import __spark_entry__ as E

    df = E.queries()["ks_drift"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "windowspecdefinition(" in line:
            assert "_pid" in line, line
        if "Exchange SinglePartition" in line:
            # the only allowed funnel is the FINAL scalar max: its
            # child must be a map-side partial aggregate (one row per
            # partition crosses), never raw data or a sort
            child = lines[i + 1] if i + 1 < len(lines) else ""
            assert "partial_max" in child, plan


def test_count_sketch_f2_pure_jvm_aggregation(spark):
    """The sketch is a DataFrame: no Python workers anywhere in the
    plan (no mapInPandas/ArrowEvalPython), and the counter aggregation
    partial-aggregates map-side before its shuffle."""
    import __spark_entry__ as E

    df = E.queries()["f2_moment_cs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, node
    assert "partial_" in plan.lower() or "HashAggregate" in plan


def test_fuzzy_pairs_broadcasts_block_keeplist(spark):
    """The block-size cap must reach the blocked rows as a broadcast
    semi-join (tiny keep-list), and no CartesianProduct may appear."""
    import __spark_entry__ as E

    df = E.queries()["fuzzy_pairs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_hampel_no_full_key_sort_beyond_row_number(spark):
    """Frame medians come from ONE window pass (collect_list over the
    centered rows-frame): no second window operator in the plan."""
    import __spark_entry__ as E

    df = E.queries()["hampel_filter"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_windows = sum(
        1 for line in plan.splitlines() if "Window" in line.split("(")[0]
    )
    assert n_windows <= 1, plan


def test_equi_depth_hist_no_single_partition(spark):
    """Bucketing must ride the range-partition cumsum: no Exchange
    SinglePartition anywhere, every window partitioned by _pid."""
    import __spark_entry__ as E

    df = E.queries()["equi_depth_hist"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "_pid" in line, line


def test_cross_dedup_no_join_operators(spark):
    """Cross-corpus LSH pairs must come from in-bucket projections
    over collected id lists — no join operator (and certainly no
    cartesian) anywhere: signatures are zero-shuffle projections and
    the only exchanges are the bucket and pair aggregations."""
    import __spark_entry__ as E

    df = E.queries()["cross_dedup"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("SortMergeJoin", "CartesianProduct",
                 "BroadcastNestedLoop", "ShuffledHashJoin"):
        assert node not in plan, node
