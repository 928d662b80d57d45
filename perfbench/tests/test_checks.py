"""Output checks and statistics helpers, without Spark."""

import hashlib
import math

import numpy as np
import pandas as pd

from honas_spark import SketchSpec, SketchState, kernels as K
from perfbench import replay, run, workloads

SPEC = SketchSpec(m_bits=1 << 12, k=4, num_filters=4, filters_per_user=2,
                  cms_width=64, kll_k=32)


def _raw() -> pd.DataFrame:
    keys = [f"k{i}" for i in range(200)]
    return pd.DataFrame({
        "g": ["a"] * 120 + ["b"] * 80,
        "key_sha": [hashlib.sha256(k.encode()).digest() for k in keys],
        "commit_ts": pd.date_range("2024-01-01", periods=200, freq="min"),
        "client_hash": np.arange(200, dtype=np.int64) % 5,
    })


def _reference(raw: pd.DataFrame) -> dict:
    ref = {}
    for g, sub in raw.groupby("g"):
        st = SketchState(SPEC)
        st.update(list(sub["key_sha"]),
                  client_hashes=sub["client_hash"].to_numpy().view(np.uint64),
                  ts=sub["commit_ts"])
        ref[(g,)] = st.to_fields()
    return ref


def test_check_states_accepts_equal_and_rejects_flipped_bloom_bit():
    raw = _raw()
    ref = _reference(raw)
    assert workloads.check_states(SPEC, ref, raw, ["g"], "client_hash") == []
    filt = K.bloom_unpack(ref[("a",)]["filters"], SPEC.num_filters,
                          SPEC.filter_bytes)
    filt[1, 7] ^= 0x10
    ref[("a",)]["filters"] = K.bloom_pack(filt)
    fails = workloads.check_states(SPEC, ref, raw, ["g"], "client_hash")
    assert fails == ["group ('a',): filters differs from SketchState"]


def test_compare_digests_reports_missing_groups_and_fields():
    ref = {("a",): (1, 2, 3, 4, 5, 6, 7, 8), ("b",): (1,) * 8}
    assert workloads.compare_digests(dict(ref), ref) == []
    out = {("a",): (1, 2, 3, 9, 5, 6, 7, 8)}
    fails = workloads.compare_digests(out, ref)
    assert "group sets differ: 1 groups vs 2 expected" in fails
    assert "group ('a',): cms differs from the reference" in fails
    assert workloads.compare_digests(out, ref, skip=("cms",))[1:] == []


def test_check_hll_tolerance():
    regs = K.hll_zero()
    K.hll_add(regs, np.arange(1, 5001, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    est = K.hll_count(regs)
    rows = {("a",): {"hll_items": K.hll_pack(regs)}}
    assert workloads.check_hll(rows, {("a",): est}) == []
    assert workloads.check_hll(rows, {("a",): int(est * 1.2)}) != []


def test_check_kll_against_exact_ranks():
    rng = np.random.default_rng(3)
    values = rng.integers(5, 60, size=20_000).astype(np.float64)
    kll = K.KLL(64)
    kll.add(values)
    assert workloads.check_kll(kll.to_bytes(), values, 64)
    # a sketch of other data fails the rank check
    assert not workloads.check_kll(kll.to_bytes(), values + 30, 64)


def test_prob_at_least_matches_binomial():
    p = 0.3
    want = sum(math.comb(4, i) * p**i * (1 - p) ** (4 - i) for i in (2, 3, 4))
    assert math.isclose(workloads.prob_at_least([p] * 4, 2), want)
    assert workloads.prob_at_least([0.0, 1.0], 1) == 1.0


def test_replay_metrics_are_declared():
    raw = _raw()
    rows = raw.rename(columns={"g": "window_start"})
    m = replay.replay_flush(SPEC, rows, ["window_start"], "client_hash")
    assert set(m) <= set(run.metric_units("per_layer"))
    assert m["kernels.keys"] == 200 and m["kernels.groups"] == 2
    assert 0 < m["kernels.packed_bytes_ratio"] <= 1


def test_percentile_interpolates_like_numpy():
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    for pct in (0, 25, 50, 90, 100):
        assert math.isclose(run.percentile(vals, pct), np.percentile(vals, pct))


def test_cpu_seconds_counts_children_after_they_exit():
    import subprocess
    import sys

    c0 = run.cpu_seconds()
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    assert run.cpu_seconds() - c0 >= 0.45
