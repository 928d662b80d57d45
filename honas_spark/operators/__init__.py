from .sketch_agg import (
    build_sketches, rollup_sketches, rollup_hierarchy, finalize_stats,
    with_window, sha256_key, with_client_hash,
)
from .probe import probe_sketches, cms_probe
from .prefix_join import longest_prefix_join, cidr_longest_prefix_join
from .sampling import (
    hash_sample, top_k_by_hash,
    weighted_hash_sample, weighted_hash_sample_per_group,
)
from .dedup import (
    connected_components, exact_duplicates, lsh_params,
    minhash_lsh_candidates, minhash_signatures, near_dedup,
    ngram_jaccard_pairs, simhash, simhash_near_pairs,
)
from .pareto import pareto_coverage
from .quality import contamination_flags, ngram_repetition, span_dup_stats

__all__ = [
    "build_sketches", "rollup_sketches", "rollup_hierarchy", "finalize_stats",
    "with_window", "sha256_key", "with_client_hash",
    "probe_sketches", "cms_probe",
    "longest_prefix_join", "cidr_longest_prefix_join",
    "hash_sample", "top_k_by_hash",
    "weighted_hash_sample", "weighted_hash_sample_per_group",
    "connected_components", "exact_duplicates", "lsh_params",
    "minhash_lsh_candidates", "minhash_signatures", "near_dedup",
    "ngram_jaccard_pairs", "simhash", "simhash_near_pairs",
    "pareto_coverage",
    "contamination_flags", "ngram_repetition", "span_dup_stats",
]
