"""Property tests for the posting-block codecs (baguetter_spark/compress.py).

The codecs are the persistence format for every posting block
(io.py save/load, presorted + streaming builds all funnel through them),
so they are otherwise only tested *implicitly* via postings digests.
Here they get direct adversarial coverage: the vectorized LEB128
encoder/decoder is differential-tested against a one-value-at-a-time
scalar reference (the published LEB128 definition), and the delta layer
against numpy cumsum, under hypothesis-generated inputs including the
10-byte tail (values >= 2**63), zeros, and single-element arrays.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from baguetter_spark.compress import (
    decode_doc_ids,
    decode_impacts,
    decode_tfs,
    encode_doc_ids,
    encode_impacts,
    encode_tfs,
    varint_decode,
    varint_encode,
)

# ---------------------------------------------------------------- oracles


def _leb128_encode_scalar(values) -> bytes:
    """Reference LEB128: per-value Python loop, straight from the spec."""
    out = bytearray()
    for v in values:
        v = int(v)
        assert v >= 0
        while True:
            byte = v & 0x7F
            v >>= 7
            if v:
                out.append(byte | 0x80)
            else:
                out.append(byte)
                break
    return bytes(out)


# ------------------------------------------------------------- strategies

uint64s = st.integers(min_value=0, max_value=2**64 - 1)
# weight the interesting boundaries: 7-bit group edges and the 9->10 byte
# transition at 2**63
edge_uint64s = st.sampled_from(
    [0, 1, 127, 128, 2**14 - 1, 2**14, 2**28, 2**56 - 1, 2**56, 2**63 - 1, 2**63, 2**64 - 1]
)
uint64_arrays = st.lists(st.one_of(uint64s, edge_uint64s), min_size=0, max_size=200).map(
    lambda xs: np.array(xs, dtype=np.uint64)
)


@st.composite
def ascending_int64_arrays(draw):
    """Strictly ascending positive int64 doc ids (gaps up to ~2**32)."""
    n = draw(st.integers(min_value=1, max_value=150))
    start = draw(st.integers(min_value=0, max_value=2**40))
    gaps = draw(
        st.lists(
            st.integers(min_value=1, max_value=2**32), min_size=n, max_size=n
        )
    )
    return start + np.cumsum(np.array(gaps, dtype=np.int64))


# ----------------------------------------------------------------- varint


@settings(max_examples=200, deadline=None)
@given(uint64_arrays)
def test_varint_roundtrip_and_matches_scalar_reference(values):
    buf = varint_encode(values)
    # differential: the vectorized encoder produces byte-identical output
    # to the scalar LEB128 spec
    assert buf == _leb128_encode_scalar(values)
    out = varint_decode(buf, len(values))
    assert out.dtype == np.uint64
    np.testing.assert_array_equal(out, values)


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"", 0).size == 0


def test_varint_count_mismatch_raises():
    # ValueError, not assert: python -O strips asserts
    buf = varint_encode(np.array([1, 2, 3], dtype=np.uint64))
    with pytest.raises(ValueError, match="expected 2"):
        varint_decode(buf, 2)
    with pytest.raises(ValueError, match="expected 4"):
        varint_decode(buf, 4)
    # multi-byte values take the general path
    buf = varint_encode(np.array([300, 2, 70000], dtype=np.uint64))
    with pytest.raises(ValueError, match="expected 2"):
        varint_decode(buf, 2)
    with pytest.raises(ValueError, match="expected 0"):
        varint_decode(buf, 0)


def test_varint_truncated_stream_raises():
    buf = varint_encode(np.array([5, 300, 70000], dtype=np.uint64))
    # cut inside the last value: its final byte still has the continuation bit
    with pytest.raises(ValueError, match="truncated"):
        varint_decode(buf[:-1], 3)
    with pytest.raises(ValueError, match="truncated"):
        varint_decode(buf[:-1], 2)
    with pytest.raises(ValueError, match="expected 1"):
        varint_decode(b"", 1)
    # a run of continuation bytes longer than any uint64 needs
    with pytest.raises(ValueError, match="10 bytes"):
        varint_decode(b"\x80" * 11 + b"\x01", 1)


# ---------------------------------------------------------------- doc ids


@settings(max_examples=100, deadline=None)
@given(ascending_int64_arrays())
def test_doc_id_delta_roundtrip(doc_ids):
    buf = encode_doc_ids(doc_ids)
    out = decode_doc_ids(buf, len(doc_ids))
    np.testing.assert_array_equal(out, doc_ids)
    # delta coding of dense ascending ids must be small: <= 5 bytes/id
    # for gaps < 2**28 (the at-scale promise of the format)
    if len(doc_ids) and (np.diff(doc_ids) < 2**28).all() and doc_ids[0] < 2**28:
        assert len(buf) <= 5 * len(doc_ids)


def test_doc_ids_must_ascend():
    with pytest.raises(ValueError, match="ascending"):
        encode_doc_ids(np.array([3, 3], dtype=np.int64))
    with pytest.raises(ValueError, match="ascending"):
        encode_doc_ids(np.array([5, 2], dtype=np.int64))
    assert encode_doc_ids(np.empty(0, dtype=np.int64)) == b""


# ----------------------------------------------------- impacts / tf bytes


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(width=32, allow_nan=False, allow_infinity=True),
        min_size=0,
        max_size=100,
    )
)
def test_impacts_roundtrip_bit_exact_f32(vals):
    arr = np.array(vals, dtype=np.float32)
    out = decode_impacts(encode_impacts(arr, "float32"), "float32")
    # bit-exact, not just value-equal
    np.testing.assert_array_equal(out.view(np.uint32), arr.view(np.uint32))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.floats(allow_nan=False), min_size=0, max_size=50))
def test_impacts_roundtrip_bit_exact_f64(vals):
    arr = np.array(vals, dtype=np.float64)
    out = decode_impacts(encode_impacts(arr, "float64"), "float64")
    np.testing.assert_array_equal(out.view(np.uint64), arr.view(np.uint64))


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31), min_size=0, max_size=100))
def test_tfs_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    out = decode_tfs(encode_tfs(arr), len(arr))
    np.testing.assert_array_equal(out, arr)
