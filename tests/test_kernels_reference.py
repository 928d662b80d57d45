"""The vectorized kernels against literal per-row reference ports.

* bloom_offsets vs a per-row port of the reference's sorted-tail scan
  (src/bloom.c:40-113): Python big-int multiply, entropy re-add on a
  32- or 64-bit lane 0, and the collision-shift insertion with its
  early exit.
* bloom_build's dense branch vs the sparse branch's scatter-OR.
* bloom_pack / hll_pack / cms_pack vs a plain np.flatnonzero sparse
  encoding, plus round-trips through the fold/unpack decoders.
* hashes_to_limbs, and build_sketches through it, reject digests that
  would misalign rows.
"""

import struct

import numpy as np
import pytest

from honas_spark import kernels as K


# ---------------------------------------------------------------------------
# Bloom offsets
# ---------------------------------------------------------------------------


def ref_offsets(limb_row, m_bits: int, k: int) -> list:
    """One row of bloom_offsets, written as the C loop: the hash is a
    little-endian big integer, each draw keeps the multiply's overflow,
    and the draw is inserted into the sorted tail offsets[j:] by
    walking it while new >= offsets[i] (shift left, new++), stopping at
    the first larger value."""
    nl = len(limb_row)
    width = 32 * nl
    lane = 64 if nl % 2 == 0 else 32
    h = sum(int(x) << (32 * i) for i, x in enumerate(limb_row))
    num = min(k, m_bits)
    off = [0] * num
    bs = m_bits
    for j in range(num, 0, -1):
        prod = h * bs
        overflow = prod >> width
        h = prod & ((1 << width) - 1)
        lost = (bs & -bs).bit_length()
        if lost > 1:
            lane_mask = (1 << lane) - 1
            low = ((h & lane_mask) + (overflow & ((1 << (lost - 1)) - 1))) \
                & lane_mask
            h = (h & ~lane_mask) | low
        new = overflow
        i = j
        while i < num and new >= off[i]:
            off[i - 1] = off[i]
            new += 1
            i += 1
        off[i - 1] = new
        bs -= 1
    return off


def _limbs(rng, n, nl):
    return rng.integers(0, 1 << 32, (n, nl), dtype=np.uint64).astype(
        np.uint32
    )


def test_reference_port_matches_golden_vectors():
    """The port itself reproduces the reference's golden vectors, so
    agreeing with it means agreeing with the reference."""
    from test_kernels_golden import GOLDEN_OFFSETS

    for val, fb, k, expected in GOLDEN_OFFSETS:
        row = np.frombuffer(struct.pack("<I", val), dtype="<u4")
        assert ref_offsets(row, fb * 8, k) == expected, (val, fb, k)


@pytest.mark.parametrize("n_limbs", [1, 2, 8])
@pytest.mark.parametrize("m_bits", [8, 64, 1000, 1 << 17, 1 << 21])
def test_bloom_offsets_match_sorted_tail_scan(n_limbs, m_bits):
    rng = np.random.default_rng(n_limbs * 7919 + m_bits)
    ks = sorted({1, 2, 3, 10, 17, min(m_bits, 40), m_bits - 1, m_bits + 3}
                - {0})
    ks = [k for k in ks if k <= 70]  # k > m only where m is small
    for k in ks:
        limbs = _limbs(rng, 24, n_limbs)
        # zero and all-ones hashes force long collision runs
        limbs[0] = 0
        limbs[1] = 0xFFFFFFFF
        got = K.bloom_offsets(limbs, m_bits, k)
        num = min(k, m_bits)
        assert got.shape == (24, num) and got.dtype == np.int64
        for r in range(limbs.shape[0]):
            want = ref_offsets(limbs[r], m_bits, k)
            assert got[r].tolist() == want, (n_limbs, m_bits, k, r)


@pytest.mark.parametrize("n", [4095, 4096, 4097, 8193])
@pytest.mark.parametrize("n_limbs", [1, 8])
def test_bloom_offsets_across_chunk_boundary(n, n_limbs):
    """Rows are cut into 4096-row blocks; each row still matches the
    port, whichever block it lands in."""
    rng = np.random.default_rng(n + n_limbs)
    limbs = _limbs(rng, n, n_limbs)
    m_bits, k = 64, 12  # small m: collisions in most rows
    got = K.bloom_offsets(limbs, m_bits, k)
    assert got.shape == (n, k)
    want = np.array([ref_offsets(row, m_bits, k) for row in limbs])
    assert np.array_equal(got, want)
    # offsets are distinct and sorted in every row
    assert (np.diff(got, axis=1) > 0).all()


def test_bloom_build_dense_matches_scatter_or():
    """At m = 2^21, 10^6 offsets take the dense branch (bool scatter +
    packbits); it must set exactly the bits the sparse branch's
    np.bitwise_or.at sets, duplicates and both end bits included."""
    m = 1 << 21
    rng = np.random.default_rng(21)
    offs = rng.integers(0, m, 10**6, dtype=np.int64)
    offs[:4] = [0, m - 1, 0, m - 1]
    offs[4:1000] = offs[1000:1996]  # more duplicates
    assert offs.size * 32 > m  # the dense branch
    got = K.bloom_zero(m)
    got[5] = 0xA5  # bits already set stay set
    want = got.copy()
    K.bloom_build(got, offs)
    np.bitwise_or.at(want, offs >> 3, (1 << (offs & 7)).astype(np.uint8))
    assert np.array_equal(got, want)
    assert got[0] & 1 and got[-1] & 0x80


# ---------------------------------------------------------------------------
# Sparse pack
# ---------------------------------------------------------------------------


def ref_pack(flat, idx_dtype, val_dtype):
    """The plain encoding: flatnonzero over the values, sparse only
    when strictly smaller than the dense bytes."""
    flat = np.asarray(flat).reshape(-1)
    nz = np.flatnonzero(flat)
    pair = np.dtype(idx_dtype).itemsize + np.dtype(val_dtype).itemsize
    dense = flat.astype(np.dtype(val_dtype).newbyteorder("<")).tobytes()
    if 5 + pair * nz.size >= len(dense):
        return dense
    return (
        b"\x01"
        + np.array(nz.size, dtype="<u4").tobytes()
        + nz.astype(idx_dtype).tobytes()
        + flat[nz].astype(val_dtype).tobytes()
    )


def _fill(rng, size, nnz, dtype=np.uint8, high=256):
    flat = np.zeros(size, dtype=dtype)
    idx = rng.choice(size, nnz, replace=False)
    flat[idx] = rng.integers(1, high, nnz).astype(dtype)
    return flat


@pytest.mark.parametrize("nbytes", [1000, 1003, 8192])
def test_bloom_pack_matches_flatnonzero(nbytes):
    """Several fills, including the exact sparse/dense boundary
    5 + 5*nnz == dense_bytes (1000 bytes: nnz 199 is dense, 198
    sparse) and a size that is not a multiple of 8."""
    rng = np.random.default_rng(nbytes)
    edge = (nbytes - 5) // 5
    for nnz in sorted({0, 1, 7, nbytes // 100, nbytes // 10, edge - 1,
                       edge, edge + 1, nbytes // 2, nbytes}):
        filters = _fill(rng, nbytes, nnz).reshape(1, nbytes)
        buf = K.bloom_pack(filters)
        assert buf == ref_pack(filters, "<u4", "u1"), nnz
        dense = 5 + 5 * nnz >= nbytes
        assert (len(buf) == nbytes) == dense, nnz
        assert np.array_equal(K.bloom_unpack(buf, 1, nbytes), filters)
        base = _fill(rng, nbytes, nbytes // 20).reshape(1, nbytes)
        acc = base.copy()
        K.bloom_fold(acc, buf)
        assert np.array_equal(acc, base | filters)


def test_bloom_pack_multi_filter_matrix():
    rng = np.random.default_rng(5)
    filters = np.stack([_fill(rng, 4096, n) for n in (0, 30, 300, 4000)])
    buf = K.bloom_pack(filters)
    assert buf == ref_pack(filters, "<u4", "u1")
    assert np.array_equal(K.bloom_unpack(buf, 4, 4096), filters)


def test_hll_pack_matches_flatnonzero():
    """u16 indexes, pair 3: 5 + 3*nnz never equals 16384, so the
    boundary sits between nnz 5459 (sparse) and 5460 (dense)."""
    rng = np.random.default_rng(11)
    for nnz in (0, 1, 100, 2000, 5459, 5460, 9000, K.HLL_REGISTERS):
        regs = _fill(rng, K.HLL_REGISTERS, nnz, high=51)
        buf = K.hll_pack(regs)
        assert buf == ref_pack(regs, "<u2", "u1"), nnz
        assert (len(buf) == K.HLL_REGISTERS) == (nnz >= 5460), nnz
        assert np.array_equal(K.hll_unpack(buf), regs)
        base = _fill(rng, K.HLL_REGISTERS, 500, high=51)
        acc = base.copy()
        K.hll_fold(acc, buf)
        assert np.array_equal(acc, np.maximum(base, regs))


def test_cms_pack_matches_flatnonzero_int64():
    """int64 counters (values past 2^32 too): 12-byte pairs against
    8 dense bytes per counter."""
    rng = np.random.default_rng(13)
    depth, width = 4, 250  # 1000 counters, 8000 dense bytes
    for nnz in (0, 1, 50, 665, 666, 667, 1000):
        flat = np.zeros(depth * width, dtype=np.int64)
        idx = rng.choice(flat.size, nnz, replace=False)
        flat[idx] = rng.integers(1, 1 << 40, nnz)
        cms = flat.reshape(depth, width)
        buf = K.cms_pack(cms)
        assert buf == ref_pack(cms, "<u4", "<i8"), nnz
        assert (len(buf) == 8 * flat.size) == (5 + 12 * nnz >= 8 * flat.size)
        assert np.array_equal(K.cms_unpack(buf, depth, width), cms)
        base = rng.integers(0, 100, (depth, width)).astype(np.int64)
        acc = base.copy()
        K.cms_fold(acc, buf)
        assert np.array_equal(acc, base + cms)


def test_pack_nonzero_direct():
    """_pack_nonzero returns None exactly when the plain encoding
    falls back to dense, and the same bytes otherwise."""
    rng = np.random.default_rng(17)
    for size, nnz in ((1003, 0), (1003, 40), (1003, 200), (1003, 201),
                      (64, 11), (64, 12), (1 << 16, 5000)):
        flat = _fill(rng, size, nnz)
        got = K._pack_nonzero(flat, "<u4", "u1")
        want = ref_pack(flat, "<u4", "u1")
        if got is None:
            assert want == flat.tobytes(), (size, nnz)
        else:
            assert got == want, (size, nnz)


# ---------------------------------------------------------------------------
# hashes_to_limbs
# ---------------------------------------------------------------------------


def test_hashes_to_limbs_exact_and_longer():
    a, b = bytes(range(32)), bytes(range(100, 148))
    limbs = K.hashes_to_limbs([a, b], 32)
    assert limbs.shape == (2, 8)
    assert limbs[0].tobytes() == a
    # a longer digest keeps its first hash_len bytes
    assert limbs[1].tobytes() == b[:32]
    assert K.hashes_to_limbs([b, a], 16).tolist() == [
        list(np.frombuffer(b[:16], "<u4")), list(np.frombuffer(a[:16], "<u4"))
    ]


@pytest.mark.parametrize(
    "hashes",
    [
        [b"a" * 16, b"b" * 16],  # joins to one 32-byte row
        [b"a" * 16, b"b" * 48],  # joins to two rows, row 0 mixed
        [b"a" * 32, b"b" * 31],
    ],
)
def test_hashes_to_limbs_rejects_short_digest(hashes):
    with pytest.raises(ValueError, match="fewer than hash_len=32"):
        K.hashes_to_limbs(hashes, 32)


def test_hashes_to_limbs_rejects_none_digest():
    with pytest.raises(ValueError, match="digest 1 is None.*NULL key_sha"):
        K.hashes_to_limbs([b"a" * 32, None, b"c" * 32], 32)


def test_build_sketches_null_key_sha_is_a_clear_error(spark):
    from honas_spark import SketchSpec
    from honas_spark.operators import build_sketches

    spec = SketchSpec(m_bits=1 << 12, k=4, cms_width=64, kll_k=32)
    df = spark.createDataFrame(
        [(1, bytes(32)), (1, None), (2, bytes(range(32)))],
        "g int, key_sha binary",
    )
    with pytest.raises(Exception, match="NULL key_sha"):
        build_sketches(df, spec, ["g"]).collect()


def test_build_sketches_short_key_sha_is_a_clear_error(spark):
    from honas_spark import SketchSpec
    from honas_spark.operators import build_sketches

    spec = SketchSpec(m_bits=1 << 12, k=4, cms_width=64, kll_k=32)
    df = spark.createDataFrame(
        [(1, bytes(32)), (1, bytes(31)), (2, bytes(range(32)))],
        "g int, key_sha binary",
    )
    with pytest.raises(Exception, match="fewer than hash_len=32"):
        build_sketches(df, spec, ["g"]).collect()
