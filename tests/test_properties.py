"""Property tests (hypothesis): the merge algebra.

North-rule requirement: EXACT bitset equality under any merge ordering —
associativity, commutativity, idempotence — plus insert-order invariance.
(Reference merge: src/honas_state.c:568-611.)"""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from honas_spark import kernels as K
from honas_spark.spec import SketchSpec
from honas_spark.state import SketchState

SPEC = SketchSpec(
    m_bits=1 << 13, k=3, num_filters=4, filters_per_user=2,
    cms_depth=2, cms_width=256, kll_k=64,
)

keys_strategy = st.lists(
    st.binary(min_size=32, max_size=32), min_size=0, max_size=40
)
clients_strategy = st.lists(
    st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=5
)


def _build(keys, clients):
    st_ = SketchState(SPEC)
    if keys:
        ch = np.array(
            [clients[i % len(clients)] for i in range(len(keys))],
            dtype=np.uint64,
        )
        st_.update(pd.Series(keys), client_hashes=ch)
    return st_


def _exact_eq(a: SketchState, b: SketchState) -> bool:
    return (
        np.array_equal(a.filters, b.filters)
        and np.array_equal(a.hll_clients, b.hll_clients)
        and np.array_equal(a.hll_items, b.hll_items)
        and np.array_equal(a.cms, b.cms)
        and a.n_rows == b.n_rows
    )


@settings(max_examples=25, deadline=None)
@given(keys_strategy, keys_strategy, keys_strategy, clients_strategy)
def test_merge_associative_commutative(k1, k2, k3, clients):
    a, b, c = _build(k1, clients), _build(k2, clients), _build(k3, clients)
    left = a.merge(b).merge(c)
    right = a.merge(b.merge(c))
    swapped = c.merge(a.merge(b))
    assert _exact_eq(left, right)
    assert _exact_eq(left, swapped)


@settings(max_examples=25, deadline=None)
@given(keys_strategy, clients_strategy)
def test_merge_idempotent_bitsets(keys, clients):
    a = _build(keys, clients)
    twice = a.merge(a)
    # bitsets and registers are idempotent under self-merge
    assert np.array_equal(twice.filters, a.filters)
    assert np.array_equal(twice.hll_items, a.hll_items)
    assert np.array_equal(twice.hll_clients, a.hll_clients)
    # the additive components double, by design
    assert twice.n_rows == 2 * a.n_rows
    assert np.array_equal(twice.cms, 2 * a.cms)


@settings(max_examples=25, deadline=None)
@given(keys_strategy, clients_strategy, st.randoms())
def test_insert_order_invariance(keys, clients, rnd):
    a = _build(keys, clients)
    pairs = [(k, clients[i % len(clients)]) for i, k in enumerate(keys)]
    rnd.shuffle(pairs)
    b = SketchState(SPEC)
    if pairs:
        b.update(
            pd.Series([p[0] for p in pairs]),
            client_hashes=np.array([p[1] for p in pairs], dtype=np.uint64),
        )
    assert np.array_equal(a.filters, b.filters)
    assert np.array_equal(a.hll_items, b.hll_items)
    assert np.array_equal(a.cms.sum(), b.cms.sum())


@settings(max_examples=25, deadline=None)
@given(keys_strategy, clients_strategy)
def test_split_anywhere_equals_whole(keys, clients):
    """Partition the batch at any point; merge of parts == single build.
    This is exactly what makes the map-side-combine plan correct."""
    whole = _build(keys, clients)
    cut = len(keys) // 2
    pairs = [(k, clients[i % len(clients)]) for i, k in enumerate(keys)]
    left, right = pairs[:cut], pairs[cut:]

    def build_pairs(pp):
        s = SketchState(SPEC)
        if pp:
            s.update(
                pd.Series([p[0] for p in pp]),
                client_hashes=np.array([p[1] for p in pp], dtype=np.uint64),
            )
        return s

    merged = build_pairs(left).merge(build_pairs(right))
    assert _exact_eq(whole, merged)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.binary(min_size=32, max_size=32), min_size=1, max_size=30))
def test_probe_finds_all_members(keys):
    s = SketchState(SPEC)
    s.update(pd.Series(keys))
    hits, mask = s.probe(keys)
    # single client (hash 0) -> u filters updated; members hit >= u
    assert (hits >= SPEC.filters_per_user).all()


def test_merge_rejects_spec_mismatch():
    import pytest

    a = SketchState(SPEC)
    b = SketchState(SketchSpec(m_bits=1 << 14, k=3, num_filters=4,
                               filters_per_user=2, cms_depth=2,
                               cms_width=256, kll_k=64))
    with pytest.raises(ValueError):
        a.merge(b)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(keys_strategy, min_size=1, max_size=6),
    clients_strategy,
)
def test_merge_many_equals_sequential_fold(key_lists, clients):
    """The merge phase's in-place fold (_merge_by_group over one group's
    partial rows, in one Arrow batch or split across 2 and 3) must be
    bit-identical to folding the same partials with pairwise merge(),
    counters and ts stats included."""
    from honas_spark.operators.sketch_agg import _merge_by_group

    states = [_build(ks, clients) for ks in key_lists]
    for i, s in enumerate(states):
        if s.n_rows:
            s.first_ts = pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i)
            s.last_ts = s.first_ts + pd.Timedelta(seconds=len(key_lists))
    seq = states[0]
    for s in states[1:]:
        seq = seq.merge(s)
    sub = pd.DataFrame([s.to_fields() for s in states])
    for c in ("first_ts", "last_ts"):  # typed as Arrow hands them over
        sub[c] = pd.to_datetime(sub[c])
    sub.insert(0, "g", 0)
    for n_batches in (1, 2, 3):
        bounds = np.linspace(0, len(sub), n_batches + 1).astype(int)
        batches = [sub.iloc[a:b] for a, b in zip(bounds, bounds[1:])]
        (out,) = _merge_by_group(SPEC, ["g"])(iter(batches))
        assert len(out) == 1
        row = out.iloc[0]
        vec = SketchState.from_fields(SPEC, row)
        assert _exact_eq(seq, vec), n_batches
        for got, want in ((row["first_ts"], seq.first_ts),
                          (row["last_ts"], seq.last_ts)):
            assert got == want or (want is None and pd.isna(got))


def test_merge_by_group_memory_does_not_grow_with_rows():
    """_merge_by_group folds each packed row into its group's state in
    place: over N dense partial rows of one group the Python heap peak
    stays a few dense sketches, whatever N (stacking the group's
    unpacked rows would peak at N dense sketches)."""
    import tracemalloc

    from honas_spark.operators.sketch_agg import _merge_by_group

    spec = SketchSpec(m_bits=1 << 18, k=3, num_filters=4,
                      filters_per_user=2, cms_depth=4, cms_width=4096)
    dense = SketchState(spec)
    dense.filters[:] = 0xFF
    dense.hll_clients[:] = 1
    dense.hll_items[:] = 2
    dense.cms[:] = 3
    dense.n_rows = 1
    fields = dense.to_fields()
    dense_bytes = sum(len(fields[c]) for c in ("filters", "hll_clients",
                                               "hll_items", "cms"))
    assert dense_bytes == (spec.filters_blob_bytes + 2 * K.HLL_REGISTERS
                           + spec.cms_bytes)
    merge = _merge_by_group(spec, ["g"])
    for n in (8, 64):
        pdf = pd.DataFrame([fields] * n)
        pdf.insert(0, "g", 0)
        tracemalloc.start()
        try:
            (out,) = merge(iter([pdf]))
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 4 * dense_bytes, (n, peak, dense_bytes)
        got = SketchState.from_fields(spec, out.iloc[0])
        assert got.n_rows == n
        assert np.array_equal(got.filters, dense.filters)
        assert np.array_equal(got.hll_items, dense.hll_items)
        assert np.array_equal(got.cms, dense.cms * n)


def test_pareto_coverage_property(spark):
    """Property: for random count tables at random parallelism, the
    distributed Pareto head equals the local sort+cumsum."""
    import random

    from honas_spark.operators.pareto import pareto_coverage

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(1, 120)
        rows = [
            (f"k{i:03d}", rng.randint(1, 50)) for i in range(n)
        ]
        pct = rng.choice([50, 80, 95])
        parts = rng.choice([2, 5, 9])
        counts = spark.createDataFrame(
            rows, "token string, n long"
        ).repartition(rng.choice([1, 4, 13]))
        got = {
            r["rank"]: (r["token"], r["n"], r["cum_n"])
            for r in pareto_coverage(
                counts, "token", "n", coverage_pct=pct,
                num_partitions=parts,
            ).collect()
        }
        srt = sorted(rows, key=lambda r: (-r[1], r[0]))
        total = sum(c for _, c in rows)
        cum, want = 0, {}
        for rank, (t, c) in enumerate(srt, start=1):
            if cum * 100 < total * pct:
                want[rank] = (t, c, cum + c)
            cum += c
        assert got == want, (trial, n, pct, parts)


def test_connected_components_property(spark):
    """Random graphs vs a local union-find: component labels must be
    the min reachable node for every node, at any shape (stars, chains,
    cliques, singleton edges)."""
    import random

    from honas_spark.operators.dedup import connected_components

    rng = random.Random(11)
    for trial in range(3):
        n_nodes = rng.randint(5, 60)
        n_edges = rng.randint(1, 80)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        in_graph = {a for a, _ in edges} | {b for _, b in edges}
        want = {v: find(v) for v in in_graph}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["node"]: r["component"]
               for r in connected_components(df).collect()}
        assert got == want, (trial, n_nodes, len(edges))


def test_hll_sparse_pack_roundtrip():
    """Sparse HLL serialization (the reference's hyperloglog.c sparse
    form at this engine's shuffle boundary) is bit-exact at every fill
    level and strictly smaller than dense while sparse."""
    import numpy as np

    from honas_spark import kernels as K

    rng = np.random.default_rng(5)
    for nnz in [0, 1, 37, 1000, 5459, 5460, 16384]:
        regs = K.hll_zero()
        idx = rng.choice(K.HLL_REGISTERS, size=nnz, replace=False)
        regs[idx] = rng.integers(1, 51, size=nnz).astype(np.uint8)
        buf = K.hll_pack(regs)
        assert np.array_equal(K.hll_unpack(buf), regs), nnz
        if 5 + 3 * nnz < K.HLL_REGISTERS:
            assert len(buf) == 5 + 3 * (regs != 0).sum()
        else:
            assert len(buf) == K.HLL_REGISTERS
        # estimates identical through the encoding
        assert K.hll_count(K.hll_unpack(buf)) == K.hll_count(regs)
    # real hash adds: a small partial's registers pack tiny
    regs = K.hll_zero()
    K.hll_add(regs, rng.integers(0, 2**63, size=200, dtype=np.uint64))
    assert len(K.hll_pack(regs)) < 700  # ~200 pairs * 3B + header
    import pytest

    with pytest.raises(ValueError):
        K.hll_unpack(b"\x02broken")


def test_bloom_cms_sparse_pack_roundtrip():
    """The Bloom-bitset and CMS-counter variants of the sparse shuffle
    encoding: bit-exact roundtrip at every fill level, sparse strictly
    smaller while mostly zero, dense fallback on fill."""
    import numpy as np

    from honas_spark import kernels as K

    rng = np.random.default_rng(11)
    nf, fb = 4, 1 << 14
    for nnz in [0, 1, 500, nf * fb]:
        filters = np.zeros((nf, fb), dtype=np.uint8)
        flat = filters.reshape(-1)
        idx = rng.choice(flat.size, size=min(nnz, flat.size),
                        replace=False)
        flat[idx] = rng.integers(1, 256, size=idx.size).astype(np.uint8)
        buf = K.bloom_pack(filters)
        assert np.array_equal(K.bloom_unpack(buf, nf, fb), filters)
        if 5 + 5 * idx.size < flat.size:
            assert len(buf) == 5 + 5 * (flat != 0).sum()
        else:
            assert len(buf) == flat.size
    d, w = 4, 256
    for nnz in [0, 3, 120, d * w]:
        cms = np.zeros((d, w), dtype=np.int64)
        flat = cms.reshape(-1)
        idx = rng.choice(flat.size, size=min(nnz, flat.size),
                        replace=False)
        flat[idx] = rng.integers(1, 1 << 40, size=idx.size)
        buf = K.cms_pack(cms)
        assert np.array_equal(K.cms_unpack(buf, d, w), cms)
        if 5 + 12 * idx.size < flat.size * 8:
            assert len(buf) == 5 + 12 * (flat != 0).sum()


def test_hll_sparse_through_merge_many(spark):
    """merge_packed over a mix of sparse- and dense-serialized partials
    equals the object-level merge — the shuffle encoding is invisible
    to the algebra."""
    import numpy as np

    from honas_spark.spec import SketchSpec
    from honas_spark.state import SketchState

    spec = SketchSpec(m_bits=1 << 14, k=5, cms_width=64, kll_k=64)
    rng = np.random.default_rng(7)
    states = []
    for n in (5, 50, 20000):  # last one densifies
        st = SketchState(spec)
        st.update(
            __import__("pandas").Series(
                [rng.bytes(32) for _ in range(n)]
            ),
            client_hashes=rng.integers(
                0, 2**63, size=n, dtype=np.uint64
            ),
        )
        states.append(st)
    fields = [st.to_fields() for st in states]
    merged = SketchState.merge_packed(
        spec, *([f[c] for f in fields]
                for c in ("filters", "hll_clients", "hll_items", "cms", "kll"))
    )
    want = states[0].merge(states[1]).merge(states[2])
    assert np.array_equal(merged.hll_items, want.hll_items)
    assert np.array_equal(merged.hll_clients, want.hll_clients)
    assert np.array_equal(merged.filters, want.filters)


def _model_near_dedup(rows, num_hashes, n, bands, min_num, min_den):
    """Exact local model of near_dedup(hash_fn='md5'): the md5-prefix
    minhash family is portable, so the model reproduces the ENTIRE
    pipeline including banding misses — signatures, band-slice
    collisions, exact-Jaccard verify, fingerprint edges, union-find."""
    import hashlib
    import re

    def toks(t):
        return [x for x in re.split(r"\s+", t) if x]

    def shingleset(t):
        tk = toks(t)
        if len(tk) >= n:
            return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
        return {" ".join(tk)} if tk else set()

    def h(i, s):
        return int(
            hashlib.md5((str(i) + s).encode()).hexdigest()[:15], 16
        )

    text = dict(rows)
    sigs = {}
    for did, t in rows:
        ss = shingleset(t)
        if ss:  # blank docs carry no signature (rlike '\S' filter)
            sigs[did] = [
                min(h(i, s) for s in ss) for i in range(num_hashes)
            ]
    rpb = num_hashes // bands
    ids = sorted(sigs)
    cand = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            sa, sb = sigs[ids[x]], sigs[ids[y]]
            if any(
                sa[k * rpb:(k + 1) * rpb] == sb[k * rpb:(k + 1) * rpb]
                for k in range(bands)
            ):
                cand.add((ids[x], ids[y]))

    def jacc_ok(a, b):
        A, B = shingleset(text[a]), shingleset(text[b])
        return len(A & B) * min_den >= len(A | B) * min_num

    edges = {p for p in cand if jacc_ok(*p)}
    # exact-duplicate fingerprint edges (rep -> member)
    groups = {}
    for did, t in rows:
        f = hashlib.md5(
            re.sub(r"\s+", " ", t.lower()).strip().encode()
        ).hexdigest()
        groups.setdefault(f, []).append(did)
    for g in groups.values():
        rep = min(g)
        edges |= {(rep, m) for m in g if m != rep}

    parent = {did: did for did, _ in rows}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {did: find(did) for did, _ in rows}


def test_near_dedup_matches_local_model(spark):
    """Random small corpora over a tiny token alphabet (high collision
    pressure: exact dups, near-dups, blanks) vs the exact local model —
    component and keep must match for every doc, INCLUDING the cases
    where banding drops a true pair (the model reproduces the md5
    signature math bit-for-bit, so misses agree too)."""
    import random

    from honas_spark.operators.dedup import near_dedup

    alphabet = ["alpha", "beta", "gamma", "delta", "eps"]
    rng = random.Random(23)
    for trial in range(4):
        n_docs = rng.randint(4, 14)
        rows = []
        for did in range(n_docs):
            if rng.random() < 0.15:
                t = rng.choice(["", "   ", "\t \n"])  # blanks
            else:
                t = " ".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randint(1, 6))
                )
            rows.append((did, t))
        # sprinkle exact duplicates of earlier docs
        for _ in range(rng.randint(0, 3)):
            src = rng.randrange(len(rows))
            rows.append((len(rows), rows[src][1]))

        want = _model_near_dedup(
            rows, num_hashes=16, n=2, bands=4, min_num=1, min_den=2
        )
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["component"]
            for r in near_dedup(
                df, "doc_id", "text", num_hashes=16, n=2, bands=4,
                min_num=1, min_den=2, max_bucket_size=None,
                hash_fn="md5",
            ).collect()
        }
        assert got == want, (trial, rows, got, want)


kmv_vals = st.lists(
    st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=60
)


@settings(max_examples=50, deadline=None)
@given(kmv_vals, kmv_vals, kmv_vals, st.integers(min_value=2, max_value=16))
def test_kmv_merge_associative_commutative_idempotent(v1, v2, v3, k):
    """The KMV state (sorted k smallest distinct hashes) must be
    identical under ANY merge ordering/grouping, self-merge, and
    insert-vs-merge interleaving — the same exact-equality contract the
    Bloom bitset algebra has."""
    arrs = [np.array(v, dtype=np.uint64) for v in (v1, v2, v3)]
    sks = [K.kmv_update(K.kmv_zero(), a, k) for a in arrs]
    a, b, c = sks
    left = K.kmv_merge(K.kmv_merge(a, b, k), c, k)
    right = K.kmv_merge(a, K.kmv_merge(b, c, k), k)
    swapped = K.kmv_merge(c, K.kmv_merge(a, b, k), k)
    assert np.array_equal(left, right)
    assert np.array_equal(left, swapped)
    # idempotent
    assert np.array_equal(K.kmv_merge(a, a, k), a)
    # one-shot build == merged partials
    whole = K.kmv_update(K.kmv_zero(), np.concatenate(arrs), k)
    assert np.array_equal(left, whole)
    # pack/unpack round-trips the state exactly
    assert np.array_equal(K.kmv_unpack(K.kmv_pack(left)), left)


bk_vals = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=4),
    min_size=0, max_size=30,
)


@given(bk_vals, bk_vals, bk_vals, st.integers(min_value=2, max_value=8))
def test_bottomk_merge_associative_and_split_invariant(v1, v2, v3, k):
    """The bottom-k (hash, value) state must be identical under any
    merge grouping and equal to the one-shot build — the property that
    makes the distinct sample deterministic under any partitioning."""
    import hashlib

    import numpy as np

    from honas_spark.operators.bottomk import _bottomk

    def h(v):
        return np.int64(int(hashlib.md5(v.encode()).hexdigest()[:15], 16))

    def build(vals):
        if not vals:
            return (np.array([], dtype=np.int64),
                    np.array([], dtype=object))
        hs = np.array([h(v) for v in vals], dtype=np.int64)
        vs = np.array(list(vals), dtype=object)
        return _bottomk(hs, vs, k)

    def merge(a, b):
        return _bottomk(
            np.concatenate([a[0], b[0]]),
            np.concatenate([a[1], b[1]]),
            k,
        )

    a, b, c = build(v1), build(v2), build(v3)
    left = merge(merge(a, b), c)
    right = merge(a, merge(b, c))
    swapped = merge(c, merge(a, b))
    whole = build(v1 + v2 + v3)
    for other in (right, swapped, whole):
        assert np.array_equal(left[0], other[0])
        assert list(left[1]) == list(other[1])
    # idempotent
    aa = merge(a, a)
    assert np.array_equal(aa[0], a[0]) and list(aa[1]) == list(a[1])
