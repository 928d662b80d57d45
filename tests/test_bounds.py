"""Error-bound tests (north rule): empirical Bloom FPR within the published
(1-e^{-kn/m})^k bound; HLL/CMS/KLL within their published envelopes vs
exact counts on the same slice."""

import math

import numpy as np
import pandas as pd

from honas_spark import kernels as K
from honas_spark.spec import SketchSpec
from honas_spark.state import SketchState


def test_empirical_fpr_within_bound():
    # deliberately tight filter: n=20k keys into m=2^18 bits, k=4
    spec = SketchSpec(m_bits=1 << 18, k=4, cms_width=1024, kll_k=64)
    rng = np.random.default_rng(42)
    n, nq = 20_000, 50_000
    members = [rng.bytes(32) for _ in range(n)]
    state = SketchState(spec)
    state.update(pd.Series(members))

    non_members = [rng.bytes(32) for _ in range(nq)]
    hits, _ = state.probe(non_members)
    observed = hits.sum() / nq

    bound = K.fpr_theory(spec.k, n, spec.m_bits)
    sigma = math.sqrt(bound * (1 - bound) / nq)
    assert observed <= bound + 3 * sigma, (observed, bound)
    # and the filter is actually exercised (non-trivial fill)
    assert state.stats()["fill_rate"][0] > 0.1


def test_actual_fpr_formula_tracks_observed():
    """D2: fill^k (the per-filter diagnostic) must upper-bound observations
    to within noise at equilibrium."""
    spec = SketchSpec(m_bits=1 << 16, k=3, cms_width=1024, kll_k=64)
    rng = np.random.default_rng(7)
    state = SketchState(spec)
    state.update(pd.Series([rng.bytes(32) for _ in range(8000)]))
    s = state.stats()
    fpr_diag = s["actual_fpr"][0]
    hits, _ = state.probe([rng.bytes(32) for _ in range(40_000)])
    observed = hits.sum() / 40_000
    assert observed <= fpr_diag * 1.3 + 3e-4
    assert fpr_diag <= 1.0


def test_bloom_approx_count_envelope():
    # tests/bloom.c:288-298 asserts ±10% on the items-from-bits estimate
    spec = SketchSpec(m_bits=1 << 18, k=4, cms_width=1024, kll_k=64)
    rng = np.random.default_rng(3)
    n = 15_000
    state = SketchState(spec)
    state.update(pd.Series([rng.bytes(32) for _ in range(n)]))
    est = state.stats()["est_items_per_filter"][0]
    assert abs(est - n) / n < 0.10


def test_hll_vs_exact_on_slice():
    spec = SketchSpec(m_bits=1 << 16, k=3, cms_width=1024, kll_k=64)
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 30_000, size=80_000)
    keys = [f"key-{v}".encode() for v in vals]
    import hashlib

    shas = pd.Series([hashlib.sha256(k).digest() for k in keys])
    state = SketchState(spec)
    state.update(shas)
    exact = len(set(vals.tolist()))
    est = state.stats()["est_items"]
    assert abs(est - exact) / exact < 0.05  # sigma ~0.81% at P=14


def test_client_estimate_monotone(spark):
    """D5: more distinct clients -> more filters touched -> higher
    coarse client estimate, checked on the `est_key_clients` column that
    `run_search` ships.  Key `kC` is looked up by C distinct clients, each
    updating u=2 of F=8 filters."""
    from pyspark.sql import functions as F

    from honas_spark.operators import build_sketches, sha256_key
    from honas_spark.search import make_search_job, run_search

    spec = SketchSpec(
        m_bits=1 << 14, k=3, num_filters=8, filters_per_user=2,
        cms_width=256, kll_k=64,
    )
    counts = (1, 2, 3, 5, 8, 13, 60)
    rows = [(f"k{c}", f"client{i}") for c in counts for i in range(c)]
    df = spark.createDataFrame(rows, "key string, client string")
    sk = build_sketches(
        sha256_key(df.withColumn("g", F.lit(1)), "key"), spec, ["g"],
        client_col="client",
    )
    keys = [f"k{c}" for c in counts] + ["never-seen"]
    key_df, _ = run_search(sk, spec, make_search_job({1: keys}), ["g"])
    got = {r["key"]: (r["hits"], r["est_key_clients"]) for r in key_df.collect()}

    # 0 hits: no key row, so no estimate (key rows need hits >= u)
    assert "never-seen" not in got
    assert set(got) == {f"k{c}" for c in counts}
    # one client touches exactly u filters, which inverts to one client
    assert got["k1"] == (2, 1.0)
    # every filter hit: the inversion diverges, the column is NULL
    assert got["k60"] == (8, None)
    # one key per hit count u..F; below F the estimate never decreases
    by_hits = sorted(got.values(), key=lambda hv: hv[0])
    assert [h for h, _ in by_hits] == list(range(2, 9)), by_hits
    ests = [e for _, e in by_hits[:-1]]
    assert None not in ests and ests == sorted(ests), by_hits


def test_fpr_sweep_actual_vs_theoretical():
    """Port of the reference's FPR ground-truth sweep
    (scripts/honas_actual_theoretical_fp.py, ndn_falsepositive_check.py):
    across a grid of fill rates (n x k configs), the observed
    false-positive rate of never-inserted keys must (a) stay within the
    published bound (1-e^{-kn/m})^k plus sampling noise, and (b) track
    the fill^k 'actual FPR' diagnostic the info sink reports."""
    rng = np.random.default_rng(1234)
    nq = 30_000
    non_members = [rng.bytes(32) for _ in range(nq)]
    sweep = []
    for k in (2, 4, 7):
        for n in (2_000, 8_000, 24_000):
            spec = SketchSpec(
                m_bits=1 << 16, k=k, cms_width=256, kll_k=64
            )
            state = SketchState(spec)
            state.update(pd.Series([rng.bytes(32) for _ in range(n)]))
            s = state.stats()
            hits, _ = state.probe(non_members)
            observed = hits.sum() / nq
            bound = K.fpr_theory(k, n, spec.m_bits)
            diag = s["actual_fpr"][0]
            sigma = math.sqrt(max(bound, 1e-12) * (1 - bound) / nq)
            assert observed <= bound + 4 * sigma + 1e-4, (k, n, observed, bound)
            # diagnostic (fill^k) approximates the observation within 30%
            # + noise at every fill level, like the reference's CSV sweep
            assert observed <= diag * 1.3 + 4 * sigma + 1e-4, (k, n)
            sweep.append((k, n, s["fill_rate"][0], observed, bound, diag))
    # the sweep must actually cover a wide fill range
    fills = [f for _, _, f, _, _, _ in sweep]
    assert min(fills) < 0.1 and max(fills) > 0.5, fills
    # FPR grows monotonically with n at fixed k (sanity of the sweep)
    for k in (2, 4, 7):
        row = [o for kk, n, f, o, b, d in sweep if kk == k]
        assert row == sorted(row), (k, row)


def test_kmv_estimate_within_bound():
    """KMV distinct estimate: exact below k; ~1/sqrt(k-2) relative
    error when full (3 sigma at k=1024 is ~9.4%) — checked over several
    disjoint uniform-hash populations."""
    import numpy as np

    from honas_spark import kernels as K

    k = 1024
    rng = np.random.default_rng(42)
    # exact mode: everything retained
    small = rng.integers(0, 2**63, size=500, dtype=np.uint64)
    st = K.kmv_update(K.kmv_zero(), small, k)
    assert K.kmv_estimate(st, k) == float(np.unique(small).size)
    # estimate mode
    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        vals = rng.integers(0, 2**64, size=100_000, dtype=np.uint64)
        n = np.unique(vals).size
        st = K.kmv_update(K.kmv_zero(), vals, k)
        est = K.kmv_estimate(st, k)
        assert abs(est - n) / n < 0.10, (seed, est, n)


def test_kmv_intersection_and_union_within_bound():
    """Theta set operations on overlapping uniform populations: the
    scaled-survivor intersection and merged-sketch union track the true
    cardinalities (looser bound — intersection variance grows as the
    overlap shrinks relative to the union)."""
    import numpy as np

    from honas_spark import kernels as K

    k = 4096
    rng = np.random.default_rng(7)
    shared = rng.integers(0, 2**64, size=30_000, dtype=np.uint64)
    only_a = rng.integers(0, 2**64, size=50_000, dtype=np.uint64)
    only_b = rng.integers(0, 2**64, size=40_000, dtype=np.uint64)
    a_vals = np.concatenate([shared, only_a])
    b_vals = np.concatenate([shared, only_b])
    a = K.kmv_update(K.kmv_zero(), a_vals, k)
    b = K.kmv_update(K.kmv_zero(), b_vals, k)
    true_i = np.intersect1d(a_vals, b_vals).size
    true_u = np.union1d(a_vals, b_vals).size
    est_i = K.kmv_intersect_estimate(a, b, k)
    est_u = K.kmv_union_estimate(a, b, k)
    assert abs(est_u - true_u) / true_u < 0.10, (est_u, true_u)
    assert abs(est_i - true_i) / true_i < 0.15, (est_i, true_i)
    # a-not-b completes the algebra: same joint-cutoff construction,
    # same bound regime; and the identity |A| ~ |A&B| + |A\B| holds
    # within the combined sketch error
    true_dab = np.setdiff1d(a_vals, b_vals).size
    true_dba = np.setdiff1d(b_vals, a_vals).size
    est_dab = K.kmv_diff_estimate(a, b, k)
    est_dba = K.kmv_diff_estimate(b, a, k)
    assert abs(est_dab - true_dab) / true_dab < 0.15, (est_dab, true_dab)
    assert abs(est_dba - true_dba) / true_dba < 0.15, (est_dba, true_dba)
    est_a = K.kmv_estimate(a, k)
    assert abs((est_i + est_dab) - est_a) / est_a < 0.10
    # exact regime: both sketches below k => set-exact differences
    sa = K.kmv_update(K.kmv_zero(), a_vals[:1000], k)
    sb = K.kmv_update(K.kmv_zero(), b_vals[:1000], k)
    assert K.kmv_diff_estimate(sa, sb, k) == float(
        np.setdiff1d(a_vals[:1000], b_vals[:1000]).size
    )
