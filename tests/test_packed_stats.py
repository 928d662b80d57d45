"""Sketch statistics read straight from packed buffers
(`kernels.bloom_bits_set_packed`, `kernels.hll_count_packed`,
`SketchState.packed_stats`) equal the unpack-then-count reference on
dense, sparse, empty and full Bloom rows, HLLs from 0 to 10^6 keys,
registers of 40 and more, and the reference `.hs` fixture states; and
the search result's per-filter block is built from them in one pass."""

import numpy as np
import pandas as pd
import pytest

from honas_spark import kernels as K
from honas_spark.sources.hsfile import import_hs_state
from honas_spark.spec import SketchSpec
from honas_spark.state import SketchState


def _ref_bits(filters: np.ndarray) -> list:
    return [int(np.unpackbits(f).sum()) for f in filters]


def _hll_of(n: int, seed: int) -> np.ndarray:
    regs = K.hll_zero()
    K.hll_add(regs, np.random.default_rng(seed).integers(
        0, 2**64, n, dtype=np.uint64, endpoint=False))
    return regs


def _both_encodings(pack, arr):
    """The packed buffer plus, when it came out sparse, the dense
    bytes of the same array (decoders accept either)."""
    buf = pack(arr)
    dense = arr.tobytes()
    return [buf] if buf == dense else [buf, dense]


@pytest.mark.parametrize("n", [0, 1, 7, 8, 100, 16384, 65536, 65539, 200000])
def test_popcount_matches_unpackbits(n):
    a = np.random.default_rng(n).integers(0, 256, n, dtype=np.uint8)
    assert K.popcount(a) == int(np.unpackbits(a).sum())
    assert K.popcount(np.full(n, 255, np.uint8)) == 8 * n


@pytest.mark.parametrize("num_filters,filter_bytes", [(4, 2048), (3, 1000), (1, 8)])
@pytest.mark.parametrize("fill", [0.0, 0.0005, 0.01, 0.3, 1.0, "full"])
def test_bloom_bits_set_packed_matches_unpack(num_filters, filter_bytes, fill):
    rng = np.random.default_rng(7)
    shape = (num_filters, filter_bytes)
    if fill == "full":
        filters = np.full(shape, 255, np.uint8)
    else:
        filters = np.where(
            rng.random(shape) < fill, rng.integers(1, 256, shape), 0
        ).astype(np.uint8)
    # an empty filter between non-empty ones splits the sparse indexes
    if num_filters > 2:
        filters[1] = 0
    ref = _ref_bits(filters)
    assert [K.bloom_bits_set(f) for f in filters] == ref
    for buf in _both_encodings(K.bloom_pack, filters):
        got = K.bloom_bits_set_packed(buf, num_filters, filter_bytes)
        assert got.dtype == np.int64 and got.tolist() == ref
        idx, vals = K.bloom_entries(buf, num_filters, filter_bytes)
        assert K.popcount(vals) == sum(ref)
        assert (idx is None) == (len(buf) == filters.nbytes)


@pytest.mark.parametrize(
    "n", [0, 1, 10, 100, 1000, 10_000, 40_000, 100_000, 1_000_000]
)
def test_hll_count_packed_matches_unpack_count(n):
    regs = _hll_of(n, seed=n)
    assert regs.max(initial=0) < 40  # the exact-sum path
    for buf in _both_encodings(K.hll_pack, regs):
        assert K.hll_count_packed(buf) == K.hll_count(K.hll_unpack(buf))
        assert K.hll_count_packed(buf) == K.hll_count(regs)


def test_hll_count_packed_random_arrays():
    """Random register arrays of every fill, all below 40 (exact
    integer sum) or with some at 40..50 (through hll_count), including
    arrays with no zero register, where the harmonic sum decides the
    estimate instead of LinearCounting."""
    rng = np.random.default_rng(2024)
    for t in range(600):
        hi = 40 if t % 2 else 51
        regs = rng.integers(0 if t % 3 else 1, hi, K.HLL_REGISTERS)
        regs[rng.random(K.HLL_REGISTERS) < rng.random() * (t % 3 > 0)] = 0
        regs = regs.astype(np.uint8)
        for buf in _both_encodings(K.hll_pack, regs):
            assert K.hll_count_packed(buf) == K.hll_count(regs), t


@pytest.mark.parametrize("r", range(40, 51))
def test_hll_registers_40_and_above(r):
    # all registers high (no zeros: the harmonic sum decides), a few
    # high among low ones, and one high among zeros
    rng = np.random.default_rng(r)
    cases = [
        np.full(K.HLL_REGISTERS, r, np.uint8),
        np.where(rng.random(K.HLL_REGISTERS) < 0.5, r, 1).astype(np.uint8),
        _hll_of(5000, seed=r),
        K.hll_zero(),
    ]
    cases[2][rng.integers(0, K.HLL_REGISTERS, 20)] = r
    cases[3][0] = r
    for regs in cases:
        for buf in _both_encodings(K.hll_pack, regs):
            assert K.hll_count_packed(buf) == K.hll_count(regs)


def test_client_less_build_register_50():
    """A build without a client column hashes every row's client as 0,
    which sets client-HLL register 0 to 50."""
    spec = SketchSpec(m_bits=1 << 12, k=3, num_filters=4, filters_per_user=2)
    st = SketchState(spec)
    shas = [bytes([i]) * 32 for i in range(50)]
    st.update(shas)
    assert st.hll_clients[0] == 50 and np.count_nonzero(st.hll_clients) == 1
    row = st.to_fields()
    assert K.hll_count_packed(row["hll_clients"]) == K.hll_count(
        st.hll_clients) == 1
    assert SketchState.packed_stats(spec, row) == st.stats()


@pytest.mark.parametrize("path,est_clients,est_items", [
    ("tests/data/reference_golden.hs", 22, 13),
    ("tests/data/reference_golden_multi.hs", 80, 29),
])
def test_hs_fixture_states(path, est_clients, est_items):
    spec, st, h = import_hs_state(path)
    row = st.to_fields()
    assert K.hll_count_packed(row["hll_clients"]) == est_clients
    assert K.hll_count_packed(row["hll_items"]) == est_items
    bits = K.bloom_bits_set_packed(
        row["filters"], spec.num_filters, spec.filter_bytes
    )
    assert bits.tolist() == h["filter_bits_set"]
    s = SketchState.packed_stats(spec, row)
    assert s == st.stats()
    assert (s["est_clients"], s["est_items"]) == (est_clients, est_items)


def test_packed_stats_equal_decoded_stats():
    spec = SketchSpec(m_bits=1 << 14, k=4, num_filters=4, filters_per_user=2)
    rng = np.random.default_rng(3)
    for n in (0, 3, 300, 20_000):
        st = SketchState(spec)
        shas = [rng.bytes(32) for _ in range(n)]
        st.update(shas, client_hashes=rng.integers(
            0, 2**63, n, dtype=np.int64).astype(np.uint64))
        st.first_ts = st.last_ts = pd.Timestamp("2024-01-01")
        row = st.to_fields()
        assert SketchState.packed_stats(spec, row) == (
            SketchState.from_fields(spec, row).stats()), n


def test_probe_rows_match_unpacked_reference():
    """`_probe_rows` over a batch of dense, sparse and empty rows gives
    the hits, masks and statistics of probing the unpacked states, and
    leaves no bit of one sparse row in the next row's probe."""
    from honas_spark.operators.probe import _probe_rows, _query_offsets

    spec = SketchSpec(m_bits=1 << 13, k=3, num_filters=4, filters_per_user=2)
    rng = np.random.default_rng(5)
    keys = [rng.bytes(32) for _ in range(2000)]
    states, rows = [], []
    for n in (300, 0, 5, 2000, 1, 40):
        st = SketchState(spec)
        if n:
            st.update(keys[:n], client_hashes=rng.integers(
                0, 2**63, n, dtype=np.int64).astype(np.uint64))
        states.append(st)
        rows.append(st.to_fields())
    pdf = pd.DataFrame(rows)
    assert any(len(r["filters"]) == spec.num_filters * spec.filter_bytes
               for r in rows)  # a dense row is among them
    queries = keys[:10] + keys[290:310] + [rng.bytes(32) for _ in range(30)]
    hits, masks, bits, est_c, est_i = _probe_rows(
        pdf, spec, _query_offsets(queries, spec)
    )
    for i, st in enumerate(states):
        h, m = st.probe(queries)
        s = st.stats()
        assert hits[i].tolist() == h.tolist(), i
        assert masks[i].tolist() == m.tolist(), i
        assert (bits[i], est_c[i], est_i[i]) == (
            s["total_bits_set"], s["est_clients"], s["est_items"]), i


def _sketch_table(spark, group_ddl, rows):
    """A sketch DataFrame from (group values, SketchState) pairs."""
    from honas_spark.operators.sketch_agg import (
        SKETCH_VALUE_COLS, SKETCH_VALUE_FIELDS,
    )

    def value(v):
        return v.to_pydatetime() if isinstance(v, pd.Timestamp) else v

    return spark.createDataFrame(
        [(*g, *(value(st.to_fields()[c]) for c in SKETCH_VALUE_COLS))
         for g, st in rows],
        f"{group_ddl}, {SKETCH_VALUE_FIELDS}",
    )


def _filters_of(st: SketchState) -> list:
    """The reference's per-filter block from the unpacked state's stats."""
    s = st.stats()
    return [
        {"number_of_bits_set": b, "estimated_number_of_host_names": e,
         "actual_false_positive_rate": "%.10f" % fpr}
        for b, e, fpr in zip(
            s["bits_set"], s["est_items_per_filter"], s["actual_fpr"])
    ]


def _stats_jobs(spark, fn):
    """-> (fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"stats-jobs-{id(fn)}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("path", [
    "tests/data/reference_golden.hs", "tests/data/reference_golden_multi.hs",
])
def test_general_information_filters_match_hs_reference(spark, path):
    """One per-filter block: the sketch-table path (`general_information`)
    and the .hs header path (`search_result_json_reference`) give the
    same `filters` list, and both equal the unpacked state's stats."""
    import datetime as dt
    import json

    from honas_spark.search import (
        general_information, run_search, search_result_json_reference,
    )

    spec, st, h = import_hs_state(path)
    table = _sketch_table(
        spark, "window_start timestamp", [((dt.datetime(2018, 7, 1),), st)]
    )
    info, jobs = _stats_jobs(
        spark, lambda: general_information(table, spec, ["window_start"])
    )
    assert jobs == 1
    key_df, group_df = run_search(table, spec, {}, ["window_start"])
    ref = json.loads(search_result_json_reference(key_df, group_df, spec, h))
    assert [r["filters"] for r in info] == [ref["filters"]] == [
        _filters_of(st)
    ]


def test_general_information_rows_keep_their_own_filters(spark):
    """Two sketch rows whose group columns repeat one key: each row's
    block holds exactly its own F filters, from one Spark job."""
    import datetime as dt

    from honas_spark.search import general_information

    spec = SketchSpec(m_bits=1 << 12, k=3, num_filters=3, filters_per_user=1)
    rng = np.random.default_rng(11)
    states = []
    for n in (10, 400):
        st = SketchState(spec)
        st.update([rng.bytes(32) for _ in range(n)],
                  client_hashes=rng.integers(
                      0, 2**63, n, dtype=np.int64).astype(np.uint64))
        st.first_ts = st.last_ts = dt.datetime(2024, 1, 1)
        states.append(st)
    table = _sketch_table(spark, "g int", [((1,), st) for st in states])
    info, jobs = _stats_jobs(
        spark, lambda: general_information(table, spec, ["g"])
    )
    assert [r["g"] for r in info] == [1, 1]
    for r in info:
        assert len(r["filters"]) == spec.num_filters
    by_rows = {r["number_of_requests"]: r["filters"] for r in info}
    assert by_rows == {st.n_rows: _filters_of(st) for st in states}
    assert jobs == 1
