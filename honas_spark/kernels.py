"""Vectorized numpy kernels — the custom compute core of the engine.

Every kernel here is a pure function over numpy arrays, designed to be
called from Arrow-batched pandas UDFs (never per-row Python in the hot
path).  The semantics reproduce the reference (SURFnet/honas) algorithms
bit-exactly where golden vectors exist; each function cites the reference
behavior it re-creates (file:line into /root/reference/).  The
implementations are new, vectorized re-derivations — not translations.

Kernels:
  * MurmurHash64A                (reference: include/byte_slice.h:276-310)
  * Bloom bit-offset derivation  (reference: src/bloom.c:40-113) — big-int
    multiply-reduce sampling of k *distinct* sorted offsets
  * per-filter hash transform    (reference: src/honas_state.c:231-244)
  * Bloom set/probe/popcount/approx-count (src/bloom.c:115-146)
  * HyperLogLog P=14 dense       (reference: src/hyperloglog.c:397-451,
    917-983) — register-wise MAX merge (Quirk Q1 in SURVEY.md: the
    reference's packed-byte OR can overestimate; we use the published MAX)
  * count-min sketch             (north-rule sibling; Cormode-Muthukrishnan)
  * KLL quantile sketch          (north-rule sibling; Karnin-Lang-Liberty)
  * combination unranking        (reference: src/combinations.c:35-69)
  * sizing/diagnostic formulas   (reference: src/advice.c:30-51,
    src/bloom.c:134-146, src/bin/honas_search.c:42-52)
"""

from __future__ import annotations

import math
import struct

import numpy as np

U64 = np.uint64
_MASK32 = np.uint64(0xFFFFFFFF)
_MASK64 = 0xFFFFFFFFFFFFFFFF

# ---------------------------------------------------------------------------
# MurmurHash64A (byte_slice.h:276-310).  Used for the client/filter-selection
# hash with seed 0xadc83b19 (honas_state.c:46-49).  Scalar Python version —
# it is only ever applied to *distinct* group keys (a handful per batch),
# never per row; see `murmur64a_series` for the map-over-uniques wrapper.
# ---------------------------------------------------------------------------

MURMUR_SEED = 0xADC83B19


def murmur64a(data: bytes, seed: int = MURMUR_SEED) -> int:
    m = 0xC6A4A7935BD1E995
    r = 47
    h = (seed ^ (len(data) * m)) & _MASK64
    n8 = len(data) & ~7
    for (k,) in struct.iter_unpack("<Q", data[:n8]):
        k = (k * m) & _MASK64
        k ^= k >> r
        k = (k * m) & _MASK64
        h ^= k
        h = (h * m) & _MASK64
    tail = data[n8:]
    if tail:
        k = int.from_bytes(tail, "little")
        h ^= k
        h = (h * m) & _MASK64
    h ^= h >> r
    h = (h * m) & _MASK64
    h ^= h >> r
    return h


_MUR_M = U64(0xC6A4A7935BD1E995)


def murmur64a_np(data: list, seed: int = MURMUR_SEED) -> np.ndarray:
    """Vectorized MurmurHash64A over a list of byte strings -> (N,) uint64.

    Bit-exact with `murmur64a` (shared golden vectors pin both).  Inputs
    are grouped by length so each group hashes as a contiguous (n, L)
    uint8 matrix: the 8-byte body words become `<u8` columns (wrap-multiply
    via numpy's native uint64 overflow — the same trick as the
    bloom_offsets limb kernel), the tail is a little-endian byte fold.
    No per-value Python anywhere: cost is O(total bytes) numpy ops.
    """
    n = len(data)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    order = np.argsort(lens, kind="stable")
    arr = np.empty(n, dtype=object)
    arr[:] = data
    r = U64(47)
    pos = 0
    while pos < n:
        L = int(lens[order[pos]])
        end = pos + int(np.searchsorted(lens[order[pos:]], L, side="right"))
        idx = order[pos:end]
        pos = end
        g = len(idx)
        if L == 0:
            h = np.full(g, (seed ^ 0) & _MASK64, dtype=np.uint64)
        else:
            buf = b"".join(arr[idx])
            mat = np.frombuffer(buf, dtype=np.uint8).reshape(g, L)
            h = np.full(
                g, (seed ^ ((L * int(_MUR_M)) & _MASK64)) & _MASK64,
                dtype=np.uint64,
            )
            n8 = L & ~7
            if n8:
                words = np.ascontiguousarray(mat[:, :n8]).view("<u8")
                for wi in range(n8 // 8):
                    k = words[:, wi] * _MUR_M
                    k ^= k >> r
                    k *= _MUR_M
                    h ^= k
                    h *= _MUR_M
            if L > n8:
                k = np.zeros(g, dtype=np.uint64)
                for j in range(L - n8 - 1, -1, -1):
                    k = (k << U64(8)) | mat[:, n8 + j].astype(np.uint64)
                h ^= k
                h *= _MUR_M
        h ^= h >> r
        h *= _MUR_M
        h ^= h >> r
        out[idx] = h
    return out


def murmur64a_series(values, seed: int = MURMUR_SEED) -> np.ndarray:
    """Hash a pandas/np array of strings, vectorized.

    The honas client hash picks a filter subset per client
    (honas_state.c:261-283); clients repeat heavily, so hash the uniques
    with the numpy kernel and broadcast back via an integer codes gather —
    no scalar-Python path at any cardinality (mostly-unique per-user
    corpora included)."""
    import pandas as pd

    codes, uniq = pd.factorize(pd.Series(values).astype(str), sort=False)
    hashed = murmur64a_np([v.encode("utf-8") for v in uniq], seed)
    return hashed[codes]


# ---------------------------------------------------------------------------
# Hash byte <-> limb conversion.
# ---------------------------------------------------------------------------


def hashes_to_limbs(hashes, hash_len: int = 32) -> np.ndarray:
    """(N,) sequence of fixed-length byte strings -> (N, hash_len//4) uint32.

    Limbs are little-endian (limb 0 least significant) — the reference
    treats the hash as a little-endian big integer (byte_slice mul,
    tests/byte_slice.c:259-305).

    Digests longer than hash_len are truncated to their first hash_len
    bytes.  A None digest (a NULL key_sha) or one shorter than hash_len
    raises ValueError: joined as-is, it would shift every later row's
    limbs by its missing bytes.
    """
    n = len(hashes)
    if n == 0:
        return np.empty((0, hash_len // 4), dtype=np.uint32)
    try:
        lens = np.fromiter(map(len, hashes), dtype=np.int64, count=n)
    except TypeError:
        i = next(i for i, h in enumerate(hashes) if not hasattr(h, "__len__"))
        raise ValueError(
            f"digest {i} is {hashes[i]!r}, not {hash_len} bytes"
            " (a NULL key_sha?)"
        ) from None
    if lens.min() < hash_len:
        i = int(np.argmin(lens))
        raise ValueError(
            f"digest {i} has {lens[i]} bytes, fewer than hash_len={hash_len}"
        )
    if lens.max() == hash_len:
        buf = b"".join(hashes)
    else:
        # inputs longer than hash_len (e.g. full 32-byte digests with a
        # truncating spec): keep the first hash_len bytes of each
        buf = b"".join(h[:hash_len] for h in hashes)
    arr = np.frombuffer(buf, dtype="<u4")
    return arr.reshape(-1, hash_len // 4).copy()


# ---------------------------------------------------------------------------
# Per-filter hash transform (honas_state.c:231-244): for filter_index i > 0,
# multiply each 64-bit lane of the hash by (2i+1), wrapping mod 2^64, so each
# filter sees decorrelated Bloom offsets.
# ---------------------------------------------------------------------------


def transform_limbs(limbs: np.ndarray, filter_index: int) -> np.ndarray:
    if filter_index == 0:
        return limbs
    n, nl = limbs.shape
    assert nl % 2 == 0, "64-bit lane transform requires hash length % 8 == 0"
    lanes = limbs.view("<u8")  # (N, nl//2) uint64 lanes, wraps on multiply
    mult = U64(2 * filter_index + 1)
    out = (lanes * mult).view("<u4")
    return out


# ---------------------------------------------------------------------------
# Bloom offset derivation (src/bloom.c:40-113).
#
# Treat the hash as a little-endian big integer H.  For j = k .. 1:
#   overflow = high bits of (H * bs)        [bs = remaining bit space]
#   H        = low bits of (H * bs)
#   if bs has t > 0 trailing zero bits: H[lane0] += overflow & (2^t - 1)
#       (re-adds entropy lost to the gcd; lane0 is uint64 when the hash is a
#        multiple of 8 bytes, else uint32 — both wrap, reproducing the
#        reference's two code paths at bloom.c:58-84 / 86-111)
#   insert overflow into the sorted tail with collision-shift (>= existing
#        value -> skip over it and increment), bs -= 1
# yielding k DISTINCT sorted offsets — sampling without replacement.
# ---------------------------------------------------------------------------


def _ffs(v: int) -> int:
    """1-based index of least significant set bit (ffs/ffsl)."""
    return (v & -v).bit_length()


def bloom_offsets(
    limbs: np.ndarray, m_bits: int, k: int, _chunk: int = 4096
) -> np.ndarray:
    """Derive (N, min(k, m_bits)) int64 distinct sorted bit offsets.

    `limbs` is (N, n_limbs) uint32 little-endian; consumed (copied inside).
    Matches reference golden vectors (tests/bloom.c:93-137) for 4-byte
    hashes and the mul64 path (bloom.c:58-84) for 8-byte-multiple hashes.
    Up to one block of rows comes back as the transpose of the kernel's
    column-major tail (Fortran order); more rows concatenate to C order.

    Cache-blocked: rows are independent, and the k x n_limbs inner
    passes re-walk the whole limb matrix — processing 4096-row blocks
    (~256 KiB working set) keeps them in L2 instead of streaming DRAM
    80x per batch.  Same results by construction; measured ~1.5x under
    full-box parallelism (the kernel is memory-bandwidth bound, so the
    DRAM traffic it saves is exactly what concurrent workers fight
    over)."""
    if limbs.shape[0] > _chunk:
        return np.concatenate(
            [
                _bloom_offsets_block(limbs[i: i + _chunk], m_bits, k)
                for i in range(0, limbs.shape[0], _chunk)
            ]
        )
    return _bloom_offsets_block(limbs, m_bits, k)


def _bloom_offsets_block(limbs: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    assert 1 <= m_bits < (1 << 32)
    n, nl = limbs.shape
    mode64 = nl % 2 == 0
    bs = m_bits
    num = min(k, m_bits)
    # the placed offsets, column-major: tail[j:] holds the sorted draws
    # so far, one contiguous row of n values per position
    tail = np.empty((num, n), dtype=np.uint64)
    ge = np.empty(n, dtype=bool)
    # work in a column-major uint64 limb matrix: every inner op runs on a
    # contiguous column with preallocated scratch (no per-step temporaries
    # — this loop runs 8 x k times per batch and is the engine's hottest
    # memory path)
    L = np.ascontiguousarray(
        limbs.astype(np.uint64).T
    )  # (nl, n), each row contiguous
    carry = np.empty(n, dtype=np.uint64)
    tmp = np.empty(n, dtype=np.uint64)
    for j in range(num, 0, -1):
        # big-int multiply in place: limbs *= bs, carry out = overflow
        carry[:] = 0
        bsu = U64(bs)
        for li in range(nl):
            row = L[li]
            np.multiply(row, bsu, out=tmp)
            np.add(tmp, carry, out=tmp)
            np.bitwise_and(tmp, _MASK32, out=row)
            np.right_shift(tmp, U64(32), out=carry)
        overflow = carry  # < bs < 2^32
        # entropy re-add (bloom.c:63-71 / 91-99)
        lost = _ffs(bs)
        if lost > 1:
            mask = U64(((1 << (lost - 1)) - 1) & _MASK64)
            np.bitwise_and(overflow, mask, out=tmp)
            np.add(L[0], tmp, out=tmp)
            if mode64:
                # lane0 is a uint64: carry into limb 1, wrap at 2^64
                np.bitwise_and(tmp, _MASK32, out=L[0])
                np.right_shift(tmp, U64(32), out=tmp)
                np.add(L[1], tmp, out=tmp)
                np.bitwise_and(tmp, _MASK32, out=L[1])
            else:
                np.bitwise_and(tmp, _MASK32, out=L[0])
        # collision-shift insert (bloom.c:73-82 / 101-109): the C scan
        # "while new >= tail[i]: skip past it, new++" over the sorted
        # tail, run for every row at once.  v only grows and the tail
        # ascends, so once a row stops (v < tail[i]) no later position
        # can bump it again: scanning the whole tail without the break
        # gives the C result, one compare and one add per position.
        v = overflow  # the carry buffer, reset before the next draw
        for i in range(j, num):
            np.greater_equal(v, tail[i], out=ge)
            np.add(v, ge, out=v)
        # merge v into the tail, which moves down one slot: position
        # i-1 takes min(v, tail[i]) and v keeps the max, so tail[j-1:]
        # is sorted again and no final sort is needed
        for i in range(j, num):
            np.minimum(v, tail[i], out=tail[i - 1])
            np.maximum(v, tail[i], out=v)
        tail[num - 1] = v
        bs -= 1
    # values < m_bits < 2^32, so the int64 view reads the same numbers
    return tail.view(np.int64).T


# ---------------------------------------------------------------------------
# Bloom filter ops over a uint8 bitset (bit b lives at byte b>>3, bit b&7 —
# reference byte_slice_set_bits / byte_slice_all_bits_set).
# ---------------------------------------------------------------------------


def bloom_zero(m_bits: int) -> np.ndarray:
    assert m_bits % 8 == 0
    return np.zeros(m_bits // 8, dtype=np.uint8)


def bloom_build(filt: np.ndarray, offsets: np.ndarray) -> None:
    """Set all bits at `offsets` (any shape) in `filt` in place."""
    bits = offsets.reshape(-1)
    if bits.size == 0:
        return
    m_bits = filt.size * 8
    if bits.size * 32 > m_bits:
        # dense batch: bool scatter + packbits, O(m) fully vectorized;
        # m_bits bytes of scratch (an int64 bincount took 8x that)
        hist = np.zeros(m_bits, dtype=bool)
        hist[bits] = True
        np.bitwise_or(filt, np.packbits(hist, bitorder="little"), out=filt)
    else:
        # sparse batch: unbuffered scatter-OR, O(bits) — avoids an O(m)
        # allocation per call when batches are small relative to m
        np.bitwise_or.at(filt, bits >> 3, (1 << (bits & 7)).astype(np.uint8))


def bloom_probe(filt: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """(N, k) offsets -> (N,) bool: all k bits set (bloom.c:122-127)."""
    byte_idx = offsets >> 3
    bit_in = (offsets & 7).astype(np.uint8)
    bits = (filt[byte_idx] >> bit_in) & 1
    return bits.all(axis=1)


_POPCOUNT_CHUNK = 1 << 16


def popcount(a: np.ndarray) -> int:
    """Exact number of set bits in a uint8 array (any shape).

    unpackbits + count_nonzero, both SIMD, per 64 KiB chunk: ~4x faster
    than a 256-entry LUT gather and sum (16 KiB: 38 -> 9 us), and the
    chunk caps the 8x bool temporary at 512 KiB."""
    flat = a.reshape(-1)
    return sum(
        int(np.count_nonzero(np.unpackbits(flat[i:i + _POPCOUNT_CHUNK])))
        for i in range(0, flat.size, _POPCOUNT_CHUNK)
    )


def bloom_bits_set(filt: np.ndarray) -> int:
    return popcount(filt)


def bloom_approx_count(m_bits: int, k: int, bits_set: int) -> int:
    """Items estimate -(m/k)ln(1-X/m); saturates (bloom.c:134-146)."""
    if bits_set >= m_bits:
        return 0xFFFFFFFF
    return int(round(-(m_bits / k) * math.log(1.0 - bits_set / m_bits)))


def fill_rate(m_bits: int, bits_set: int) -> float:
    return bits_set / m_bits


def actual_fpr(m_bits: int, k: int, bits_set: int) -> float:
    """Actual false-positive rate fill^k (honas_search.c:42-52)."""
    return (bits_set / m_bits) ** k


def fpr_theory(k: int, n: int, m: int) -> float:
    """(1 - e^{-kn/m})^k (advice.c:30-34)."""
    return (1.0 - math.exp(-k * n / m)) ** k


def optimal_k(n: int, m: int) -> int:
    """ceil(m/n ln 2) (advice.c:37-45)."""
    return math.ceil(m / n * math.log(2)) if n > 0 else 0


def bloom_filter_size(p: float, n: int) -> int:
    """m = -n ln p / ln^2 2 (advice.c:48-51)."""
    return int(-(n * math.log(p)) / (math.log(2) ** 2))


def required_entropy_ok(m_bits: int, k: int, hash_bits: int = 256) -> bool:
    """k*ceil(log2 m) must fit the hash (honas_state.c:613-624)."""
    return k * math.ceil(math.log2(m_bits)) <= hash_bits


# ---------------------------------------------------------------------------
# HyperLogLog, P=14, dense (src/hyperloglog.c).  We store registers
# UNPACKED: one uint8 per register, 16384 bytes.  The reference packs 6-bit
# registers to save RAM in a long-lived daemon; semantics are identical and
# 16 KiB per group is nothing for Spark.  Merge is register-wise MAX (the
# published merge; see SURVEY.md Quirk Q1 re the reference's packed OR).
# ---------------------------------------------------------------------------

HLL_P = 14
HLL_REGISTERS = 1 << HLL_P  # 16384
_HLL_P_MASK = U64(HLL_REGISTERS - 1)


def hll_zero() -> np.ndarray:
    return np.zeros(HLL_REGISTERS, dtype=np.uint8)


def hll_add(regs: np.ndarray, hashes: np.ndarray) -> None:
    """Vectorized hllPatLen + dense add (hyperloglog.c:397-451).

    index = hash & (2^14-1); count = 1 + trailing zeros of the remaining
    bits (guard bit at position 63 caps the run at 50).
    """
    if hashes.size == 0:
        return
    h = hashes.astype(np.uint64, copy=False)
    idx = (h & _HLL_P_MASK).astype(np.int64)
    w = (h >> U64(HLL_P)) | (U64(1) << U64(63 - HLL_P))
    low = w & (~w + U64(1))  # isolate lowest set bit; power of two <= 2^49
    count = (np.log2(low.astype(np.float64)) + 1.5).astype(np.uint8)  # exact
    np.maximum.at(regs, idx, count)


def hll_add_grouped(
    mats: np.ndarray, codes: np.ndarray, hashes: np.ndarray
) -> None:
    """hll_add for MANY register arrays at once: mats is (G, 16384)
    uint8, codes maps each hash to its row.  One index/count
    derivation and ONE scatter cover every group (row gi ends up
    bit-identical to hll_add over that group's slice — the register
    update is an elementwise max, so batching changes nothing), where
    the per-group loop paid the numpy fixed call cost G times."""
    if hashes.size == 0:
        return
    h = hashes.astype(np.uint64, copy=False)
    idx = (h & _HLL_P_MASK).astype(np.int64)
    w = (h >> U64(HLL_P)) | (U64(1) << U64(63 - HLL_P))
    low = w & (~w + U64(1))
    count = (np.log2(low.astype(np.float64)) + 1.5).astype(np.uint8)
    flat = codes.astype(np.int64, copy=False) * HLL_REGISTERS + idx
    np.maximum.at(mats.reshape(-1), flat, count)


def hll_merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.maximum(a, b)


# Sparse register serialization (the reference's sparse HLL
# representation, hyperloglog.c:589-830, re-expressed at THIS engine's
# serialization boundary): the reference keeps a run-length-encoded
# register array in memory until it densifies; in a two-phase Spark
# aggregation the analogous win is the SHUFFLE — a partial sketch from
# a small (window, group) slice has mostly-zero registers, and shipping
# the dense 16 KiB array per partial row wastes exchange bytes at high
# group cardinality.  Format: b"\\x01" + uint32 nnz + uint16 idx[nnz] +
# uint8 val[nnz] (little-endian, indexes sorted) whenever that is
# smaller than dense; the dense fallback is the raw 16384-byte array.
# len(sparse) = 5 + 3*nnz can never equal 16384 (16379 % 3 != 0), so
# the decoder dispatches on length alone.  Estimates, merges, and the
# `.hs` interop are BIT-IDENTICAL: the encoding only exists between
# to_fields() and the next unpack.

_HLL_SPARSE_MAGIC = 0x01

def _pack_nonzero(
    flat: np.ndarray, idx_dtype: str, val_dtype: str
) -> "bytes | None":
    """Generic (idx, val) sparse serialization of a flat array; None
    when sparse would not be smaller than the dense bytes.  Shared by
    the Bloom-bitset and CMS-counter variants of the HLL sparse
    encoding — the one merge protocol's one sparse format.

    The exact nnz comes from ONE SIMD count reduction, so a row too
    full for sparse returns None having paid only the count, never an
    index extraction it would throw away.  A sparse row then extracts
    its indexes from a `!= 0` bool mask: np.flatnonzero over a bool
    array is several times faster than over the uint8 values
    themselves (~2 ns/element), and faster than pre-scanning uint64
    words and gathering their 8 candidate bytes at every size and
    fill measured.  Indexes ascend, so the bytes equal the plain
    flatnonzero encoding (pinned by tests/test_kernels_reference.py)."""
    pair = np.dtype(idx_dtype).itemsize + np.dtype(val_dtype).itemsize
    dense_bytes = flat.size * flat.itemsize
    nnz = int(np.count_nonzero(flat))
    if 5 + pair * nnz >= dense_bytes:
        return None
    nz = np.flatnonzero(flat != 0)
    nzv = flat[nz]
    return (
        bytes([_HLL_SPARSE_MAGIC])
        + np.array(nz.size, dtype="<u4").tobytes()
        + nz.astype(idx_dtype).tobytes()
        + nzv.astype(val_dtype).tobytes()
    )


def _packed_entries(
    buf: bytes, size: int, val_dtype, idx_dtype: str
) -> tuple:
    """Parse one serialized buffer of a flat `size`-value array
    without densifying it.

    -> (None, vals) for a dense buffer, vals a read-only view of all
    `size` values; (idx, vals) for a sparse (_pack_nonzero) one, the
    ascending int64 indexes and their nonzero values."""
    val_dtype = np.dtype(val_dtype).newbyteorder("<")
    if len(buf) == size * val_dtype.itemsize:
        return None, np.frombuffer(buf, dtype=val_dtype)
    if not buf or buf[0] != _HLL_SPARSE_MAGIC:
        raise ValueError(f"not a sparse buffer (len={len(buf)})")
    (nnz,) = np.frombuffer(buf[1:5], dtype="<u4")
    nnz = int(nnz)
    iw = np.dtype(idx_dtype).itemsize
    if len(buf) != 5 + (iw + val_dtype.itemsize) * nnz:
        raise ValueError(
            f"corrupt sparse buffer: nnz={nnz}, len={len(buf)}"
        )
    idx = np.frombuffer(buf[5:5 + iw * nnz], dtype=idx_dtype)
    val = np.frombuffer(buf[5 + iw * nnz:], dtype=val_dtype)
    idx = idx.astype(np.int64)
    if idx.size and int(idx.max()) >= size:
        # a clean error for damaged checkpoints, not an IndexError
        # from deep inside a scatter
        raise ValueError(
            f"corrupt sparse buffer: index {int(idx.max())} >= {size}"
        )
    return idx, val


def _fold_packed(
    out: np.ndarray, buf: bytes, ufunc, idx_dtype: str
) -> np.ndarray:
    """Fold one serialized buffer into `out` in place with `ufunc`
    (np.bitwise_or / np.maximum / np.add; None copies the values in,
    the decode of a zero `out`) and return `out`.  A dense buffer
    combines as a read-only view of its bytes, a sparse
    (_pack_nonzero) one only at its listed indexes, so no dense
    temporary is built.  `out` is C-contiguous (every sketch component
    is), so its flat reshape is a view."""
    flat = out.reshape(-1)
    idx, val = _packed_entries(buf, flat.size, flat.dtype, idx_dtype)
    if idx is None:
        if ufunc is None:
            flat[:] = val
        else:
            ufunc(flat, val, out=flat)
    else:
        # indexes are unique, so the gather/scatter pair is exact
        flat[idx] = val if ufunc is None else ufunc(flat[idx], val)
    return out


def bloom_pack(filters: np.ndarray) -> bytes:
    """Serialize the (num_filters, filter_bytes) Bloom bitset matrix:
    sparse nonzero-byte pairs when smaller (a partial sketch built from
    a small input slice has almost all bytes zero — at m=2^20 x 4
    filters the dense row is 512 KiB while a 200-key partial carries
    ~2k nonzero bytes), dense bytes otherwise.  A sparse buffer is
    always strictly shorter than dense, so the decoder dispatches on
    length."""
    flat = filters.reshape(-1)
    sp = _pack_nonzero(flat, "<u4", "u1")
    return sp if sp is not None else flat.tobytes()


def bloom_fold(filters: np.ndarray, buf: bytes) -> None:
    """OR one bloom_pack buffer into `filters` in place."""
    _fold_packed(filters, buf, np.bitwise_or, "<u4")


def bloom_unpack(
    buf: bytes, num_filters: int, filter_bytes: int
) -> np.ndarray:
    """-> fresh (num_filters, filter_bytes) uint8 matrix."""
    return _fold_packed(
        np.zeros((num_filters, filter_bytes), dtype=np.uint8), buf, None,
        "<u4",
    )


def bloom_entries(buf: bytes, num_filters: int, filter_bytes: int) -> tuple:
    """The (idx, vals) of a bloom_pack buffer over its flat
    num_filters * filter_bytes bitset, without densifying it
    (_packed_entries: idx is None for a dense buffer)."""
    return _packed_entries(
        buf, num_filters * filter_bytes, np.uint8, "<u4"
    )


def bloom_bits_set_packed(
    buf: bytes, num_filters: int, filter_bytes: int
) -> np.ndarray:
    """Per-filter bloom_bits_set of a bloom_pack buffer -> (num_filters,)
    int64, read from its bytes: a dense buffer popcounts each filter's
    view, a sparse one only its nonzero bytes (its ascending indexes
    split them by filter).  Never unpack a row just to count its bits."""
    idx, vals = bloom_entries(buf, num_filters, filter_bytes)
    bounds = np.arange(num_filters + 1) * filter_bytes
    if idx is not None:
        bounds = np.searchsorted(idx, bounds)
    return np.array(
        [popcount(vals[a:b]) for a, b in zip(bounds[:-1], bounds[1:])],
        dtype=np.int64,
    )


def cms_pack(cms: np.ndarray) -> bytes:
    """Serialize the (depth, width) CMS counter matrix: sparse
    (u32 idx, i64 val) pairs when smaller, dense little-endian i64
    otherwise."""
    flat = cms.astype("<i8", copy=False).reshape(-1)
    sp = _pack_nonzero(flat, "<u4", "<i8")
    return sp if sp is not None else flat.tobytes()


def cms_fold(cms: np.ndarray, buf: bytes) -> None:
    """Add one cms_pack buffer into `cms` in place."""
    _fold_packed(cms, buf, np.add, "<u4")


def cms_unpack(buf: bytes, depth: int, width: int) -> np.ndarray:
    """-> fresh (depth, width) int64 matrix."""
    return _fold_packed(
        np.zeros((depth, width), dtype=np.int64), buf, None, "<u4"
    )


def hll_pack(regs: np.ndarray) -> bytes:
    """Serialize a register array: sparse pairs when smaller, dense
    bytes otherwise (the same _pack_nonzero format as Bloom/CMS —
    u16 indexes fit the 16384-register space)."""
    sp = _pack_nonzero(regs, "<u2", "u1")
    return sp if sp is not None else regs.astype(
        np.uint8, copy=False
    ).tobytes()


def hll_fold(regs: np.ndarray, buf: bytes) -> None:
    """Register-max one hll_pack buffer into `regs` in place."""
    _fold_packed(regs, buf, np.maximum, "<u2")


def hll_unpack(buf: bytes) -> np.ndarray:
    """Inverse of hll_pack — returns a dense uint8[16384] array (a
    fresh writable array either way)."""
    return _fold_packed(hll_zero(), buf, None, "<u2")


_HLL_PE = 2.0 ** -np.arange(64)


def hll_count(regs: np.ndarray) -> int:
    """Harmonic-mean estimate with LinearCounting + P=14 bias polynomial
    (hyperloglog.c:917-983; constants identical)."""
    return _hll_estimate(float(_HLL_PE[regs].sum()), int((regs == 0).sum()))


# hll_count_packed sums 2^-r exactly as integers in units of 2^-39: for
# registers below 40 every term, every partial sum and the total (at most
# 2^14 * 2^39 = 2^53 units) is exact in float64, so the float sum of
# hll_count equals the integer one whatever its summation order.  A
# register of 40 or more (a client-less build's client HLL has
# register 0 = 50) could round, so such arrays go through hll_count.
_HLL_EXACT_R = 40
_HLL_UNITS = np.int64(1) << (_HLL_EXACT_R - 1 - np.arange(_HLL_EXACT_R))


def hll_count_packed(buf: bytes) -> int:
    """hll_count(hll_unpack(buf)), read from a histogram of the
    buffer's register values instead of the dense array (a sparse
    buffer's unlisted registers count as zeros)."""
    idx, vals = _packed_entries(buf, HLL_REGISTERS, np.uint8, "<u2")
    hist = np.bincount(vals, minlength=_HLL_EXACT_R)
    if hist.size > _HLL_EXACT_R:
        return hll_count(hll_unpack(buf))
    if idx is not None:
        hist[0] += HLL_REGISTERS - vals.size
    units = int(hist @ _HLL_UNITS)
    return _hll_estimate(math.ldexp(units, 1 - _HLL_EXACT_R), int(hist[0]))


def _hll_estimate(pe_sum: float, ez: int) -> int:
    """The estimate from the register sum of 2^-r and the number of
    zero registers."""
    m = float(HLL_REGISTERS)
    alpha = 0.7213 / (1 + 1.079 / m)
    E = (1.0 / pe_sum) * alpha * m * m
    if E < m * 2.5 and ez != 0:
        E = m * math.log(m / ez)  # LINEARCOUNTING
    elif E < 72000:
        bias = (
            5.9119e-18 * E**4
            - 1.4253e-12 * E**3
            + 1.2940e-7 * E**2
            - 5.2921e-3 * E
            + 83.3216
        )
        E -= E * (bias / 100.0)
    return int(E)


# ---------------------------------------------------------------------------
# Count-min sketch (north-rule sibling; Cormode & Muthukrishnan 2005).
# depth x width int64 counters; row j indexes via Kirsch-Mitzenmacher
# double hashing over a splitmix64-mixed key.  Merge = element-wise add.
# Guarantee: est >= true; est <= true + eN with prob 1-delta for
# e = e/width, delta = exp(-depth).
# ---------------------------------------------------------------------------


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    x += U64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> U64(30))) * U64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> U64(27))) * U64(0x94D049BB133111EB)
    return x ^ (x >> U64(31))


def cms_zero(depth: int, width: int) -> np.ndarray:
    return np.zeros((depth, width), dtype=np.int64)


def _cms_indexes(keys: np.ndarray, depth: int, width: int) -> np.ndarray:
    mixed = _splitmix64(keys)
    h1 = mixed >> U64(32)
    h2 = (mixed & _MASK32) | U64(1)
    j = np.arange(depth, dtype=np.uint64)[:, None]
    return ((h1[None, :] + j * h2[None, :]) % U64(width)).astype(np.int64)


def cms_add(counts: np.ndarray, keys: np.ndarray, weights=None) -> None:
    if keys.size == 0:
        return
    depth, width = counts.shape
    idx = _cms_indexes(keys.astype(np.uint64, copy=False), depth, width)
    if weights is None:
        weights = np.ones(keys.size, dtype=np.int64)
    for j in range(depth):
        np.add.at(counts[j], idx[j], weights)


def cms_add_grouped(
    mats: np.ndarray, codes: np.ndarray, keys: np.ndarray
) -> None:
    """cms_add (unit weights) for MANY sketches at once: mats is
    (G, depth, width) int64, codes maps each key to its sketch.  One
    index derivation + one scatter replace G per-group calls; counter
    addition commutes, so each row is bit-identical to cms_add over
    that group's slice."""
    if keys.size == 0:
        return
    _, depth, width = mats.shape
    idx = _cms_indexes(keys.astype(np.uint64, copy=False), depth, width)
    base = codes.astype(np.int64, copy=False) * (depth * width)
    rowoff = (np.arange(depth, dtype=np.int64) * width)[:, None]
    flat = (base[None, :] + rowoff + idx).reshape(-1)
    np.add.at(mats.reshape(-1), flat, 1)


def cms_merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return a + b


def cms_query(counts: np.ndarray, keys: np.ndarray) -> np.ndarray:
    depth, width = counts.shape
    idx = _cms_indexes(keys.astype(np.uint64, copy=False), depth, width)
    ests = np.stack([counts[j][idx[j]] for j in range(depth)])
    return ests.min(axis=0)


def cms_inner_product(a: np.ndarray, b: np.ndarray) -> int:
    """CMS/AMS inner-product estimate: min over depth rows of the
    row-wise dot product.  When the two sketches hold the per-key
    frequency vectors of two equi-join sides this estimates the JOIN
    OUTPUT CARDINALITY sum_k fA(k)*fB(k) (self-join => the second
    frequency moment F2) without executing the join — the classic
    sketch-based join planner statistic (Alon-Matias-Szegedy 1996;
    Cormode-Muthukrishnan 2005 §4.2).  Always an overestimate; within
    e * ||fA||_1 * ||fB||_1 / width with probability 1 - exp(-depth).
    float64 accumulation: exact until products sum past 2^53, far
    beyond the estimate's own error at that magnitude."""
    assert a.shape == b.shape, "sketch shapes differ"
    dots = (a.astype(np.float64) * b.astype(np.float64)).sum(axis=1)
    return int(round(dots.min()))


def bloom64_offsets(keys: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(N,) uint64 keys -> (N, k) int64 bit offsets for a GENERIC Bloom
    filter over 64-bit pre-hashed keys (Kirsch-Mitzenmacher 2006 double
    hashing: g_i = h1 + i*h2 mod m, h2 forced odd).  This is the
    lightweight sibling of the reference-faithful SHA-256 derivation
    (bloom_offsets): it exists for INTERNAL uses — join pruning,
    semi-join filters — where keys are already xxhash64-folded JVM-side
    and bit-compatibility with honas `.hs` state files is not required.
    Shares bloom_zero/bloom_build/bloom_probe with the faithful path."""
    mixed = _splitmix64(keys.astype(np.uint64, copy=False))
    h1 = _splitmix64(mixed ^ U64(0xA5A5A5A5A5A5A5A5))
    h2 = (mixed | U64(1))
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % U64(m_bits)).astype(np.int64)


# ---------------------------------------------------------------------------
# KLL quantile sketch (Karnin, Lang & Liberty 2016, simplified as in the
# Apache DataSketches KLL).  Level l holds items of weight 2^l; when a level
# overflows its capacity k*(2/3)^(H-l) it is sorted and every other item is
# promoted.  Compaction parity comes from a deterministic LCG carried in the
# sketch so runs are reproducible.  Merge = concat levels + compact; rank
# error ~ O(1/k) (merge results are bound-equivalent, not byte-identical —
# inherent to KLL; the bitset-equality property applies to Bloom/HLL/CMS).
# ---------------------------------------------------------------------------

_KLL_C = 2.0 / 3.0


class KLL:
    __slots__ = ("k", "n", "seed", "levels")

    def __init__(self, k: int = 200):
        self.k = k
        self.n = 0
        self.seed = 0x2545F491
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]

    def _cap(self, level: int) -> int:
        height = len(self.levels) - 1
        return max(2, int(math.ceil(self.k * (_KLL_C ** (height - level)))))

    def add(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return
        self.n += values.size
        self.levels[0] = np.concatenate([self.levels[0], values])
        self._compress()

    def _total(self) -> int:
        return sum(lv.size for lv in self.levels)

    def _budget(self) -> int:
        return sum(self._cap(l) for l in range(len(self.levels)))

    def _compress(self) -> None:
        while self._total() > self._budget():
            for l, lv in enumerate(self.levels):
                if lv.size > self._cap(l):
                    srt = np.sort(lv)
                    self.seed = (self.seed * 1103515245 + 12345) & 0x7FFFFFFF
                    start = (self.seed >> 16) & 1
                    promoted = srt[start::2]
                    self.levels[l] = np.empty(0, dtype=np.float64)
                    if l + 1 >= len(self.levels):
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[l + 1] = np.concatenate(
                        [self.levels[l + 1], promoted]
                    )
                    break
            else:
                break

    def merge(self, other: "KLL") -> "KLL":
        out = KLL(self.k)
        out.n = self.n + other.n
        out.seed = (self.seed ^ other.seed) | 1
        h = max(len(self.levels), len(other.levels))
        out.levels = []
        for l in range(h):
            parts = []
            if l < len(self.levels):
                parts.append(self.levels[l])
            if l < len(other.levels):
                parts.append(other.levels[l])
            out.levels.append(
                np.concatenate(parts) if parts else np.empty(0, np.float64)
            )
        out._compress()
        return out

    def quantile(self, q: float) -> float:
        if self.n == 0:
            return float("nan")
        items, weights = [], []
        for l, lv in enumerate(self.levels):
            if lv.size:
                items.append(lv)
                weights.append(np.full(lv.size, 1 << l, dtype=np.int64))
        allv = np.concatenate(items)
        allw = np.concatenate(weights)
        order = np.argsort(allv, kind="stable")
        allv, allw = allv[order], allw[order]
        cum = np.cumsum(allw)
        target = q * cum[-1]
        i = int(np.searchsorted(cum, target, side="left"))
        return float(allv[min(i, allv.size - 1)])

    # --- serialization: magic u32, k u32, n u64, seed u64, nlevels u32,
    #     then per level: count u32 + float64 payload -------------------
    _MAGIC = 0x4B4C4C31  # "KLL1"

    def to_bytes(self) -> bytes:
        parts = [
            struct.pack(
                "<IIQQI", self._MAGIC, self.k, self.n, self.seed, len(self.levels)
            )
        ]
        for lv in self.levels:
            parts.append(struct.pack("<I", lv.size))
            parts.append(lv.astype("<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLL":
        magic, k, n, seed, nlev = struct.unpack_from("<IIQQI", data, 0)
        assert magic == cls._MAGIC, "corrupt KLL payload"
        obj = cls(k)
        obj.n, obj.seed = n, seed
        off = struct.calcsize("<IIQQI")
        obj.levels = []
        for _ in range(nlev):
            (cnt,) = struct.unpack_from("<I", data, off)
            off += 4
            obj.levels.append(
                np.frombuffer(data, dtype="<f8", count=cnt, offset=off).copy()
            )
            off += 8 * cnt
        return obj


# ---------------------------------------------------------------------------
# t-digest (north-rule sibling; Dunning & Ertl 2019).  Centroid-based
# quantile sketch with a k1 scale function: centroid sizes are bounded so
# the tails stay precise.  Merge = concat centroids + recompress — the
# same zero/update/merge/finalize protocol as the other sketches.
# Deterministic: compression processes centroids in value order.
# ---------------------------------------------------------------------------


class TDigest:
    __slots__ = ("delta", "means", "weights", "n")

    def __init__(self, delta: int = 100):
        self.delta = delta
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.int64)
        self.n = 0

    def add(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return
        self.n += values.size
        self.means = np.concatenate([self.means, values])
        self.weights = np.concatenate(
            [self.weights, np.ones(values.size, dtype=np.int64)]
        )
        if self.means.size > 8 * self.delta:
            self._compress()

    def _compress(self) -> None:
        if self.means.size == 0:
            return
        order = np.argsort(self.means, kind="stable")
        means, weights = self.means[order], self.weights[order]
        total = weights.sum()
        # k1 scale: q -> (delta/2pi) asin(2q-1); centroid may absorb the
        # next point while k(q_right) - k(q_left) <= 1
        out_m, out_w = [], []
        cm, cw = means[0], int(weights[0])
        acc = 0  # weight strictly left of current centroid
        for i in range(1, means.size):
            q0 = acc / total
            q1 = (acc + cw + weights[i]) / total
            k0 = math.asin(2 * q0 - 1)
            k1 = math.asin(2 * min(q1, 1.0) - 1)
            if (k1 - k0) * self.delta / (2 * math.pi) <= 1.0:
                cm = (cm * cw + means[i] * weights[i]) / (cw + weights[i])
                cw += int(weights[i])
            else:
                out_m.append(cm)
                out_w.append(cw)
                acc += cw
                cm, cw = means[i], int(weights[i])
        out_m.append(cm)
        out_w.append(cw)
        self.means = np.array(out_m, dtype=np.float64)
        self.weights = np.array(out_w, dtype=np.int64)

    def merge(self, other: "TDigest") -> "TDigest":
        out = TDigest(self.delta)
        out.n = self.n + other.n
        out.means = np.concatenate([self.means, other.means])
        out.weights = np.concatenate([self.weights, other.weights])
        out._compress()
        return out

    def quantile(self, q: float) -> float:
        if self.n == 0:
            return float("nan")
        self._compress()
        cum = np.cumsum(self.weights) - self.weights / 2.0
        target = q * self.weights.sum()
        return float(np.interp(target, cum, self.means))

    _MAGIC = 0x54444731  # "TDG1"

    def to_bytes(self) -> bytes:
        head = struct.pack(
            "<IIQI", self._MAGIC, self.delta, self.n, self.means.size
        )
        return (
            head
            + self.means.astype("<f8").tobytes()
            + self.weights.astype("<i8").tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        magic, delta, n, size = struct.unpack_from("<IIQI", data, 0)
        assert magic == cls._MAGIC, "corrupt TDigest payload"
        obj = cls(delta)
        obj.n = n
        off = struct.calcsize("<IIQI")
        obj.means = np.frombuffer(data, "<f8", size, off).copy()
        obj.weights = np.frombuffer(data, "<i8", size, off + 8 * size).copy()
        return obj


# ---------------------------------------------------------------------------
# DDSketch (Masson, Rim & Lee, VLDB 2019): logarithmic-bucket quantile
# sketch with a RELATIVE-error guarantee — every quantile estimate is
# within alpha of the true value, at every quantile (KLL/t-digest bound
# rank error instead).  Bucket j holds values in (gamma^(j-1), gamma^j]
# with gamma = (1+alpha)/(1-alpha); the canonical estimate for bucket j
# is 2*gamma^j/(gamma+1), the point with equal relative distance to both
# bucket edges.  State is canonical sorted (bucket, count) arrays, so
# merge is bucketwise counter ADDITION — exactly associative/commutative
# and byte-identical under any merge ordering, the same bitset-equality
# property as Bloom/CMS (and unlike KLL, whose merges are only
# bound-equivalent).  Because the whole sketch is a deterministic pure
# function of the multiset of inputs, its output can be cross-checked
# EXACTLY against a SQL oracle that replays the bucket math.
# Memory is bounded by collapsing the LOWEST buckets when the bucket
# count exceeds max_buckets (upper quantiles keep full accuracy —
# the paper's collapsing variant).
# ---------------------------------------------------------------------------


class DDSketch:
    __slots__ = ("alpha", "gamma", "_lg", "max_buckets", "n", "keys", "counts")

    _MAGIC = 0x44445331  # "DDS1"
    # epsilon guard: values within 1e-9 of a bucket boundary in log space
    # resolve DOWN in both this kernel and the SQL oracle, so a 1-ulp libm
    # difference between engines cannot flip the bucket index.
    _EPS = 1e-9

    def __init__(self, alpha: float = 0.01, max_buckets: int = 2048):
        self.alpha = float(alpha)
        self.gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self._lg = math.log(self.gamma)
        self.max_buckets = int(max_buckets)
        self.n = 0
        self.keys = np.empty(0, dtype=np.int64)
        self.counts = np.empty(0, dtype=np.int64)

    def _index(self, values: np.ndarray) -> np.ndarray:
        """Bucket index: ceil(log_gamma(x) - eps).  Strictly positive input."""
        return np.ceil(np.log(values) / self._lg - self._EPS).astype(np.int64)

    def add(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values) & (values > 0.0)]
        if values.size == 0:
            return
        self.n += int(values.size)
        k, c = np.unique(self._index(values), return_counts=True)
        self._absorb(k, c.astype(np.int64))

    def _absorb(self, keys: np.ndarray, counts: np.ndarray) -> None:
        allk = np.concatenate([self.keys, keys])
        allc = np.concatenate([self.counts, counts])
        uk, inv = np.unique(allk, return_inverse=True)
        uc = np.zeros(uk.size, dtype=np.int64)
        np.add.at(uc, inv, allc)
        self.keys, self.counts = uk, uc
        if self.keys.size > self.max_buckets:
            # collapse lowest buckets into the lowest KEPT bucket
            keep_from = self.keys.size - self.max_buckets
            low = int(self.counts[: keep_from + 1].sum())
            self.keys = self.keys[keep_from:].copy()
            self.counts = np.concatenate(
                [np.array([low], dtype=np.int64), self.counts[keep_from + 1 :]]
            )

    def merge(self, other: "DDSketch") -> "DDSketch":
        assert abs(self.alpha - other.alpha) < 1e-12, "alpha mismatch"
        out = DDSketch(self.alpha, self.max_buckets)
        out.n = self.n + other.n
        out.keys, out.counts = self.keys, self.counts
        out._absorb(other.keys, other.counts)
        return out

    def quantile(self, q: float) -> float:
        """Value estimate at rank floor(q*(n-1))+1 (1-based, ascending)."""
        j = self.quantile_bucket(q)
        if j is None:
            return float("nan")
        return 2.0 * self.gamma**j / (self.gamma + 1.0)

    def quantile_bucket(self, q: float):
        if self.n == 0:
            return None
        rank = int(math.floor(q * (self.n - 1))) + 1
        cum = np.cumsum(self.counts)
        i = int(np.searchsorted(cum, rank, side="left"))
        return int(self.keys[min(i, self.keys.size - 1)])

    # --- serialization: magic u32, max_buckets u32, alpha f64, n u64,
    #     nbuckets u32, keys i64[], counts i64[] ------------------------
    def to_bytes(self) -> bytes:
        head = struct.pack(
            "<IIdQI", self._MAGIC, self.max_buckets, self.alpha, self.n,
            self.keys.size,
        )
        return (
            head
            + self.keys.astype("<i8").tobytes()
            + self.counts.astype("<i8").tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "DDSketch":
        magic, mb, alpha, n, size = struct.unpack_from("<IIdQI", data, 0)
        assert magic == cls._MAGIC, "corrupt DDSketch payload"
        obj = cls(alpha, mb)
        obj.n = n
        off = struct.calcsize("<IIdQI")
        obj.keys = np.frombuffer(data, "<i8", size, off).copy()
        obj.counts = np.frombuffer(data, "<i8", size, off + 8 * size).copy()
        return obj


# ---------------------------------------------------------------------------
# Combination unranking (src/combinations.c:35-69): lexicographic enumeration
# of u-subsets of {0..F-1}; a client's filter subset is table[client_hash %
# C(F,u)] (honas_state.c:280-283).  F,u are tiny -> precompute the table.
# ---------------------------------------------------------------------------


def number_of_combinations(set_size: int, subset_size: int) -> int:
    return math.comb(set_size, subset_size)


def combination_table(set_size: int, subset_size: int) -> np.ndarray:
    from itertools import combinations

    return np.array(
        list(combinations(range(set_size), subset_size)), dtype=np.int64
    ).reshape(math.comb(set_size, subset_size), subset_size)


def filter_indexes_for_clients(
    client_hashes: np.ndarray, num_filters: int, filters_per_user: int
) -> np.ndarray:
    """(N,) uint64 client hashes -> (N, u) filter index subsets."""
    table = combination_table(num_filters, filters_per_user)
    comb = (client_hashes.astype(np.uint64) % U64(table.shape[0])).astype(
        np.int64
    )
    return table[comb]


# ---------------------------------------------------------------------------
# KMV / theta distinct sketch — the set-operation sibling.  The reference
# can only approximate an intersection through the search-time hit-bitmap
# AND (src/bin/honas_search.c:303-314, group "hits_by_all_hostnames"); a
# KMV sketch (k minimum hash values: Beyer et al., "On Synopses for
# Distinct-Value Estimation under Multiset Operations", SIGMOD 2007) under
# the same zero/update/merge/finalize protocol gives union AND
# intersection cardinalities across arbitrary groups/windows.  State: the
# <= k smallest DISTINCT uint64 hashes, sorted.  With fewer than k values
# the sketch is EXACT (it holds every distinct hash); full, the k-th
# minimum U gives the unbiased estimate (k-1) * 2^64 / U.  Set operations
# follow the theta convention: cutoff = min over the inputs' (exclusive)
# thresholds, count survivors below it, scale by 2^64 / cutoff.  The
# cutoff stays an INTEGER end to end — no float round-trip can misplace a
# hash relative to it.
# ---------------------------------------------------------------------------

_KMV_RANGE = 2 ** 64


def kmv_zero() -> np.ndarray:
    return np.empty(0, dtype=np.uint64)


def kmv_update(state: np.ndarray, hashes: np.ndarray, k: int) -> np.ndarray:
    """Fold a batch of uint64 hashes into the sketch (sorted unique,
    truncated to the k smallest) — also the merge: update IS merge on
    value sets, which is what makes the protocol trivially associative
    and commutative."""
    if hashes.size == 0:
        return state
    return np.unique(
        np.concatenate([state, hashes.astype(np.uint64, copy=False)])
    )[:k]


def kmv_merge(a: np.ndarray, b: np.ndarray, k: int) -> np.ndarray:
    return kmv_update(a, b, k)


def kmv_cutoff(state: np.ndarray, k: int) -> int:
    """Exclusive threshold: every hash < cutoff is retained.  2^64 (all
    of hash space) while the sketch is exact; the k-th minimum once
    full."""
    return int(state[k - 1]) if state.size >= k else _KMV_RANGE


def kmv_estimate(state: np.ndarray, k: int) -> float:
    """Distinct-count estimate: exact below k, else (k-1)/theta with
    theta = U/2^64 (relative error ~ 1/sqrt(k-2))."""
    if state.size < k:
        return float(state.size)
    # max(U, 1): a zero k-th minimum (k=1 and the zero hash) must not
    # divide by zero
    return (k - 1) * float(_KMV_RANGE) / float(max(int(state[k - 1]), 1))


def kmv_intersect_estimate(
    a: np.ndarray, b: np.ndarray, k: int
) -> float:
    """|A intersect B| estimate: survivors below the joint cutoff,
    scaled back by the sampled fraction.  Exact when both sketches are
    exact (cutoff = 2^64 keeps everything and the scale is 1)."""
    cut = min(kmv_cutoff(a, k), kmv_cutoff(b, k))
    if cut >= _KMV_RANGE:
        return float(np.intersect1d(a, b).size)
    c = np.uint64(cut)
    n = np.intersect1d(a[a < c], b[b < c]).size
    return n * float(_KMV_RANGE) / float(max(cut, 1))


def kmv_union_estimate(a: np.ndarray, b: np.ndarray, k: int) -> float:
    return kmv_estimate(kmv_merge(a, b, k), k)


def kmv_diff_estimate(a: np.ndarray, b: np.ndarray, k: int) -> float:
    """|A \\ B| estimate (a-not-b): A's survivors below the joint
    cutoff that B does not hold, scaled back by the sampled fraction —
    the same joint-cutoff construction as the intersection, so the
    identity est(A) ~ est(A&B) + est(A\\B) holds within sketch error.
    Exact when both sketches are exact."""
    cut = min(kmv_cutoff(a, k), kmv_cutoff(b, k))
    if cut >= _KMV_RANGE:
        return float(np.setdiff1d(a, b).size)
    c = np.uint64(cut)
    n = np.setdiff1d(a[a < c], b[b < c]).size
    return n * float(_KMV_RANGE) / float(max(cut, 1))


def kmv_pack(state: np.ndarray) -> bytes:
    """Little-endian uint64 array; already tiny (<= 8k bytes), so no
    sparse variant is needed."""
    return state.astype("<u8").tobytes()


def kmv_unpack(buf: bytes) -> np.ndarray:
    if len(buf) % 8:
        raise ValueError(f"corrupt KMV buffer: len={len(buf)}")
    return np.frombuffer(buf, dtype="<u8").astype(np.uint64)
