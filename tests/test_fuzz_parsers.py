"""Parser fuzzing — the reference AFL-fuzzes its input parsers
(fuzz/src/input_fuzz.c:1-70 feeds arbitrary bytes to the dnstap/job
paths).  The hypothesis analog: hundreds of generated malformed inputs
against `parse_search_job` and the `.hs` loaders, asserting the
documented error contract — EITHER a clean parse OR ValueError with a
message; never a hang, another exception type, or a garbage result.

No Spark session needed: these parsers are pure Python/numpy.
"""

import json
import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from honas_spark.search import parse_search_job
from honas_spark.sources.hsfile import import_hs_state, read_hs_header

GOLDEN = "tests/data/reference_golden.hs"

# ---------------------------------------------------------------------------
# parse_search_job
# ---------------------------------------------------------------------------

_json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(), st.floats(allow_nan=False),
    st.text(max_size=80),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(max_size=20), children, max_size=5),
    ),
    max_leaves=25,
)


@settings(max_examples=300, deadline=1000,
          suppress_health_check=[HealthCheck.too_slow])
@given(_json_values)
def test_parse_search_job_arbitrary_json_never_crashes(value):
    """Any JSON value either parses to a list of (gid, key, 32B sha)
    triples or raises ValueError — nothing else escapes."""
    try:
        out = parse_search_job(json.dumps(value))
    except ValueError as e:
        assert str(e)  # documented: always a message
        return
    assert isinstance(out, list)
    for gid, key, sha in out:
        assert gid is None or isinstance(gid, int)
        assert isinstance(sha, bytes) and len(sha) == 32


@settings(max_examples=300, deadline=1000)
@given(st.text(max_size=200))
def test_parse_search_job_garbage_text(text):
    """Non-JSON text must raise ValueError, never JSONDecodeError or a
    hang."""
    try:
        parse_search_job(text)
    except ValueError as e:
        assert str(e)


def test_parse_search_job_reference_contract():
    """The README's documented rules (README.md:296-339)."""
    assert parse_search_job("{}") == []  # minimal valid job
    assert parse_search_job({"groups": []}) == []
    # id optional; hostnames optional per group
    out = parse_search_job({"groups": [{"hostnames": {"a": "0" * 64}}]})
    assert out == [(None, "a", b"\x00" * 32)]
    assert parse_search_job({"groups": [{"id": 3}]}) == []
    # id must be numeric if present
    with pytest.raises(ValueError, match="numeric"):
        parse_search_job({"groups": [{"id": "x", "hostnames": {}}]})
    # sha must be 64 hex chars
    with pytest.raises(ValueError, match="64 hex"):
        parse_search_job({"groups": [{"id": 1, "hostnames": {"a": "ab"}}]})
    with pytest.raises(ValueError, match="not valid hex"):
        parse_search_job(
            {"groups": [{"id": 1, "hostnames": {"a": "zz" * 32}}]}
        )
    # ids keep int() truncation across the whole signed int64 range
    for raw, gid in ((str(-(2**63)), -(2**63)), (str(2**63 - 1), 2**63 - 1),
                     ("7.0", 7), ("2.5", 2)):
        job = '{"groups": [{"id": %s, "hostnames": {"a": "%s"}}]}' % (
            raw, "0" * 64
        )
        assert parse_search_job(job) == [(gid, "a", b"\x00" * 32)]


@pytest.mark.parametrize(
    "raw_id", ["Infinity", "-Infinity", "NaN", "1e30", str(2**63)]
)
def test_parse_search_job_rejects_ids_outside_int64(raw_id):
    """A group id must fit the result's signed 64-bit group_id column:
    non-finite and out-of-range ids raise ValueError at parse time, not
    OverflowError here or an Arrow error inside a Spark task."""
    job = '{"groups": [{"id": %s, "hostnames": {"a": "%s"}}]}' % (
        raw_id, "0" * 64
    )
    with pytest.raises(ValueError, match="group id"):
        parse_search_job(job)


# ---------------------------------------------------------------------------
# .hs loaders
# ---------------------------------------------------------------------------

with open(GOLDEN, "rb") as _f:
    _GOLDEN_BYTES = _f.read()


_FUZZ_DIR = tempfile.mkdtemp(prefix="hs_fuzz_")


def _check_hs(data: bytes):
    """Both loaders must cleanly parse or raise ValueError."""
    try:
        read_hs_header(data)
    except ValueError as e:
        assert str(e)
    p = os.path.join(_FUZZ_DIR, "fuzz.hs")
    with open(p, "wb") as f:
        f.write(data)
    try:
        spec, st_, h = import_hs_state(str(p))
    except ValueError as e:
        assert str(e)
        return
    # a successful parse must yield a structurally sound state
    assert st_.filters.shape == (spec.num_filters, spec.filter_bytes)
    assert st_.hll_clients.shape == (16384,)


@settings(max_examples=150, deadline=2000,
          suppress_health_check=[HealthCheck.too_slow])
@given(n=st.integers(min_value=0, max_value=len(_GOLDEN_BYTES)))
def test_hs_truncations(n):
    """Every truncation point of a valid file parses or ValueErrors."""
    _check_hs(_GOLDEN_BYTES[:n])


@settings(max_examples=300, deadline=2000,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    flips=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=len(_GOLDEN_BYTES) - 1),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1, max_size=16,
    ),
)
def test_hs_byte_flips(flips):
    """Arbitrary byte corruptions (header fields included) parse or
    ValueError — corrupt num_filters/sizes must not trigger absurd
    allocations, struct errors, or reshape crashes."""
    data = bytearray(_GOLDEN_BYTES)
    for pos, val in flips:
        data[pos] = val
    _check_hs(bytes(data))


@settings(max_examples=200, deadline=2000,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.binary(max_size=512))
def test_hs_random_bytes(data):
    """Pure random blobs never parse as a state (wrong magic) and never
    raise anything but ValueError."""
    _check_hs(data)


# --------------------------------------------------------------------- #
# sparse sketch-buffer decoders: arbitrary bytes must either decode     #
# (exact dense length) or raise ValueError — never an IndexError from a #
# scatter, never a wrong-size array (damaged-checkpoint robustness)     #
# --------------------------------------------------------------------- #
@settings(max_examples=300, deadline=1000)
@given(st.binary(max_size=512))
def test_sparse_decoders_never_crash(buf):
    import numpy as np

    from honas_spark import kernels as K

    for fn, shape in (
        (lambda b: K.hll_unpack(b), (K.HLL_REGISTERS,)),
        (lambda b: K.bloom_unpack(b, 2, 64), (2, 64)),
        (lambda b: K.cms_unpack(b, 2, 32), (2, 32)),
    ):
        try:
            out = fn(buf)
        except ValueError:
            continue
        assert isinstance(out, np.ndarray) and out.shape == shape


def test_sparse_decoder_rejects_out_of_range_index():
    import numpy as np
    import pytest

    from honas_spark import kernels as K

    # hand-craft a sparse bloom buffer whose index exceeds the matrix
    bad = (
        bytes([0x01])
        + np.uint32(1).tobytes()
        + np.uint32(10_000).astype("<u4").tobytes()
        + bytes([7])
    )
    with pytest.raises(ValueError, match="index"):
        K.bloom_unpack(bad, 2, 64)
    bad_hll = (
        bytes([0x01])
        + np.uint32(1).tobytes()
        + np.array([60000], dtype="<u2").tobytes()
        + bytes([3])
    )
    with pytest.raises(ValueError, match="index"):
        K.hll_unpack(bad_hll)
