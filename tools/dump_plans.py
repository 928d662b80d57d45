"""Regenerate PLANS.md: the physical plan of each headline query with
a one-paragraph reading of why it is the right 100 TB plan.  Run after
any operator change: `python tools/dump_plans.py`.

The annotations are assertions, not hopes — each one is enforced by a
test in tests/test_plans.py where marked."""

from __future__ import annotations

import os
import re
import sys

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

NOTES = {
    "bloom_membership": (
        "Two-phase sketch aggregation: partial sketches per input "
        "split (mapInPandas, map-side combine — raw keys never enter "
        "an exchange), one small merge shuffle of OR-able partials, "
        "joinless broadcast probe.  Sparse partial serialization "
        "keeps exchange rows small until bitsets fill."
    ),
    "minhash_lsh": (
        "Signatures are a pure projection (zero shuffle — parallelism "
        "comes from input splits); banding explodes 8-byte band "
        "hashes only; the hot-bucket cap is a groupBy-count semi-join "
        "(no sort-based window; plan-asserted) and pair generation is "
        "a projection over collected buckets (no band self-join)."
    ),
    "curate": (
        "The composed pipeline stays equi-join-shaped per doc_id "
        "(plan-asserted: no CartesianProduct / BroadcastNestedLoop).  "
        "The Exchange SinglePartition nodes visible here are Spark's "
        "runtime bloom-filter join pruning building its compact "
        "filter buffer — an optimizer feature, not a data bottleneck."
    ),
    "pareto_coverage": (
        "Range-repartition + per-partition prefix offsets + "
        "partitioned window: the global cumulative sum never "
        "serializes through a single partition (plan-asserted: no "
        "Exchange SinglePartition)."
    ),
    "daily_rollup_counters": (
        "Hour->day rollup re-aggregates the sketch table itself with "
        "the same CRDT merge algebra (map-side combined); sparse "
        "partial serialization applies to the rollup exchange too."
    ),
    "srp_pairs": (
        "SRP signatures are one codegen projection (vectors never "
        "shuffle — only the 8-byte signature enters the banding "
        "exchange); the capped band path mirrors minhash_lsh."
    ),
    "cidr_lpm": (
        "Longest-prefix match compiled to a flat CASE projection "
        "(zero shuffle, zero join for <=500 prefixes; plan-asserted), "
        "broadcast+max_by fallback above the cap."
    ),
    "asof_join": (
        "As-of join as ONE union + partitioned running window — no "
        "join operator anywhere in the plan (plan-asserted), one "
        "shuffle on the key; the qualifying right row rides in a "
        "single struct so its payload is picked atomically."
    ),
    "range_join": (
        "Interval join as bucketized equi-join + containment filter — "
        "no BroadcastNestedLoopJoin (what Spark plans for a naive "
        "non-equi join; absence plan-asserted); each matching pair "
        "meets in exactly one bucket, so no dedup follows."
    ),
    "pack_by_budget": (
        "Global prefix-sum without a global sort: range-repartition "
        "by the packing order, P per-partition offsets collected to "
        "the driver, running sum windowed BY the range partition id — "
        "no Exchange SinglePartition (plan-asserted)."
    ),
    "global_shuffle": (
        "Deterministic corpus permutation: md5 order key is a pure "
        "projection; the global position is range-repartition + "
        "per-partition prefix offsets + a window PARTITIONED by the "
        "range partition id — no Exchange SinglePartition "
        "(plan-asserted), so no task ever holds the corpus."
    ),
    "chunk_docs": (
        "Context-window chunking as one generate + projection: "
        "tokenize, sequence of starts, explode, slice — all inside "
        "whole-stage codegen, ZERO shuffle and zero UDF "
        "(plan-asserted); parallelism is the input splits."
    ),
    "bm25_scores": (
        "Ranked retrieval as a SHUFFLE-FREE projection: per-term tf "
        "and dl are array ops inside whole-stage codegen (no explode, "
        "no posting list, no join); the two corpus stats reductions "
        "run first and fold back as literals, so the scored scan is "
        "Scan -> Project -> Filter with zero Exchange (plan-asserted "
        "in tests/test_retrieval.py)."
    ),
    "span_dedup": (
        "Span removal without shuffling text: fingerprints+positions "
        "take the count_distinct + shuffle_hash semi-join path (same "
        "de-skew shape as the LSH caps), only REMOVED (id, pos) int "
        "pairs return, and the cleaned text is rebuilt in place by an "
        "index-aware array filter over the original row; the final "
        "join's build side is 'docs with removals' — small, AQE "
        "broadcasts it."
    ),
    "decontaminate_bloom": (
        "Bloom-gated decontamination: the eval grams build a "
        "broadcast bitset with the library's own kernels (partials "
        "sparse-packed, OR-merged), doc grams pass a vectorized "
        "numpy probe BEFORE any join, so at scale only ~fpr of the "
        "gram stream plus true hits reach the exact join that keeps "
        "the flags exact."
    ),
    "sessionize_events": (
        "Batch sessionization: ONE exchange on the key feeds the "
        "ordered window (plan-asserted); the default RANGE frame keeps "
        "equal-ts peers in one session; the rollup groupBy reuses the "
        "window's partitioning where AQE allows."
    ),
    "distinct_sample": (
        "Bottom-k distinct sample: values hash JVM-side in the scan "
        "projection; mapInPandas folds per-split bottom-k states so "
        "only P x k (hash, value) pairs per group reach the merge "
        "exchange — the raw rows never shuffle."
    ),
    "bigram_nll": (
        "Conditional bigram scoring: the bigram vocabulary aggregates "
        "once and is localCheckpoint'd (truncated lineage) before "
        "feeding the w1 marginal and the nll join; the per-doc "
        "aggregation ships (id, long) pairs.  Measured: SMJ beats "
        "shuffle_hash and per-doc pre-aggregation here (both "
        "re-tested at sf0.1)."
    ),
    "semantic_dedup": (
        "SemDeDup action: cosine pair generation is the capped "
        "in-bucket join; connected components iterates on (id, id) "
        "label pairs with per-round localCheckpoint — vectors never "
        "enter the loop; final membership is one left join."
    ),
    "collocations": (
        "PMI mining: ONE corpus bigram extraction feeds a "
        "localCheckpoint'd vocabulary; total, left and right marginals "
        "are re-aggregations of that checkpoint, so the corpus scans "
        "once; marginal products fold in double (ANSI-safe)."
    ),
    "gopher_quality": (
        "Pure projection — zero exchange below the output sort; every "
        "rule is integer cross-multiplication inside whole-stage "
        "codegen, so the filter composes with parquet pushdown."
    ),
    "knn_pq": (
        "PQ/ADC search: codes are m small ints per vector (encode is "
        "one vectorized argmin per Arrow batch); each partition emits "
        "only its LOCAL top-k per query, so the final rank window "
        "sorts P*k*|Q| candidate rows, never the corpus."
    ),
    "ks_drift": (
        "Two-sample KS: per-value side counts (one shuffle, bounded "
        "by distinct values), range-repartition by value + broadcast "
        "prefix offsets, ECDF window partitioned by the range "
        "partition id.  The only SinglePartition exchange is the "
        "final scalar max of per-partition partial maxes (one row per "
        "partition crosses) — plan-asserted."
    ),
    "f2_moment_cs": (
        "Count-Sketch F2 with NO Python anywhere (plan-asserted): "
        "depth fan-out and md5 bucket/sign split run inside the "
        "codegen scan projection; the counter matrix is a plain "
        "hash aggregation with map-side partials, so the shuffle "
        "carries at most groups*depth*width counter rows regardless "
        "of input size."
    ),
    "hierarchy_rollup": (
        "Lattice rollup: leaf sketch rows (already tiny — sketch "
        "bytes, not raw keys) explode to their grouping-set "
        "coordinates, ONE hash shuffle on (gid, dims), vectorized "
        "CRDT merge per partition.  Raw data is scanned once for the "
        "leaf build; every coarser level derives from leaf partials."
    ),
    "fuzzy_pairs": (
        "Blocked fuzzy matching: block keys from a codegen "
        "projection, hot-block cap as a broadcast semi-join of the "
        "tiny keep-list (plan-asserted, no cartesian), length band "
        "pushed into the block equi-join, one threshold-form "
        "levenshtein per DISTINCT candidate pair."
    ),
    "hampel_filter": (
        "Rolling median/MAD with no per-key sort-and-collect: the "
        "row_number placement is computed ONCE (localCheckpoint — "
        "three consumers would otherwise each recompute its "
        "shuffle+sort), frames fan out via explode(sequence), and "
        "medians are grouped aggregations, so a hot key spreads "
        "across tasks instead of serializing one."
    ),
    "theta_intersect": (
        "Theta/KMV set operations: values hash JVM-side (xxhash64 in "
        "the codegen scan projection), partial sketches per split fold "
        "only already-hashed longs, one small merge exchange of "
        "<= k*8-byte sketch rows per group (repartition + one "
        "mapInPandas merge per partition).  The pairwise stage "
        "self-joins the G-row SKETCH table with the right side "
        "broadcast — the raw data never re-enters the plan."
    ),
}


def main():
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E
    from honas_spark.session import get_spark

    spark = get_spark(app="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `python tools/dump_plans.py` at sf0.01; each",
        "annotation is enforced by tests/test_plans.py where marked.",
        "Plans below are `explain('formatted')` header sections trimmed",
        "to the operator tree (codegen ids and stats elided).",
        "",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # keep the operator tree, drop the verbose per-node detail
        tree = plan.split("\n\n")[0]
        tree = re.sub(r"#\d+L?", "", tree)
        out += [f"## {name}", "", note, "", "```", tree, "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(NOTES)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
