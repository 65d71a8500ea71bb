from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from miru_spark.functions.codecs import (
    delta_decode,
    delta_encode,
    pfor_decode,
    pfor_encode,
    varint_decode,
    varint_encode,
    varint_encode_with_lengths,
)

arrays = st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=400).map(
    lambda xs: np.array(xs, dtype=np.uint64)
)


@given(arrays)
@settings(max_examples=150, deadline=None)
def test_varint_roundtrip(arr):
    buf = varint_encode(arr)
    out, used = varint_decode(buf)
    assert used == len(buf)
    np.testing.assert_array_equal(out, arr)


@given(arrays)
@settings(max_examples=150, deadline=None)
def test_pfor_roundtrip(arr):
    buf = pfor_encode(arr)
    out, used = pfor_decode(buf)
    assert used == len(buf)
    np.testing.assert_array_equal(out, arr)


@given(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=200),
    st.data(),
)
@settings(max_examples=150, deadline=None)
def test_varint_roundtrip_full_range_and_mid_stream(xs, data):
    """Values up to 2**64 - 1 (10 varint bytes) round-trip, and a decode
    starting mid-stream with ``offset``/``count`` equals slicing."""
    arr = np.array(xs, dtype=np.uint64)
    buf, lens = varint_encode_with_lengths(arr)
    out, used = varint_decode(buf)
    assert used == len(buf)
    assert np.array_equal(out, arr)
    i = data.draw(st.integers(0, arr.size))
    j = data.draw(st.integers(i, arr.size))
    offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    part, used = varint_decode(buf + b"\xff\x01", int(offs[i]), count=j - i)
    assert np.array_equal(part, arr[i:j])
    assert used == int(offs[j] - offs[i])


def test_varint_ten_byte_values():
    top = np.array([2**63 - 1, 2**63, 2**64 - 1, 0, 2**64 - 2], dtype=np.uint64)
    buf = varint_encode(top)
    assert varint_encode(top[2:3]) == b"\xff" * 9 + b"\x01"
    out, used = varint_decode(buf)
    assert used == len(buf) and np.array_equal(out, top)


def test_varint_truncated_stream_raises():
    buf = varint_encode(np.array([5, 300, 2**64 - 1], dtype=np.uint64))
    with pytest.raises(ValueError):
        varint_decode(buf[:-1], 0, count=3)
    with pytest.raises(ValueError):
        varint_decode(buf, 0, count=4)
    with pytest.raises(ValueError):
        varint_decode(buf, 1, count=3)  # starts inside the second value


def test_varint_known_values():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


def test_varint_partial_decode():
    arr = np.array([5, 1000, 2, 70000], dtype=np.uint64)
    buf = varint_encode(arr) + b"\x99\x01trailing"
    out, used = varint_decode(buf, 0, count=4)
    np.testing.assert_array_equal(out, arr)
    out2, _ = varint_decode(buf, used, count=1)
    assert out2[0] == 153


def test_pfor_exception_heavy_block():
    # one huge outlier per block should become an exception, not blow the width
    arr = np.arange(300, dtype=np.uint64)
    arr[13] = 2**50
    arr[200] = 2**61
    buf = pfor_encode(arr)
    out, _ = pfor_decode(buf)
    np.testing.assert_array_equal(out, arr)
    # sanity: compressed well below 8 bytes/int despite outliers
    assert len(buf) < arr.size * 4


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(xs):
    ids = np.unique(np.array(xs, dtype=np.uint64))
    gaps = delta_encode(ids)
    np.testing.assert_array_equal(delta_decode(gaps), ids)


def test_delta_with_base():
    ids = np.array([100, 105, 200], dtype=np.uint64)
    gaps = delta_encode(ids, base=90)
    assert gaps.tolist() == [10, 5, 95]
    np.testing.assert_array_equal(delta_decode(gaps, base=90), ids)


def test_empty_arrays():
    e = np.empty(0, dtype=np.uint64)
    assert varint_encode(e) == b""
    out, used = varint_decode(b"")
    assert out.size == 0 and used == 0
    out, used = pfor_decode(pfor_encode(e))
    assert out.size == 0


huge_arrays = st.lists(
    st.integers(min_value=0, max_value=2**64 - 1), max_size=400
).map(lambda xs: np.array(xs, dtype=np.uint64))


@given(huge_arrays)
@settings(max_examples=60, deadline=None)
def test_pfor_roundtrip_huge_values(arr):
    """Values >= 2^63 exercise the width-64 no-mask path (1<<64 is UB)."""
    buf = pfor_encode(arr)
    out, used = pfor_decode(buf)
    assert used == len(buf)
    assert np.array_equal(out, arr)


def test_pos_gaps_roundtrip():
    from miru_spark.index.format import pos_gaps_decode, pos_gaps_encode

    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 9, 200)
    flat = np.concatenate(
        [np.sort(rng.choice(1000, size=int(t), replace=False)) for t in tfs]
    ).astype(np.uint64)
    gaps = pos_gaps_encode(flat, tfs)
    assert np.array_equal(pos_gaps_decode(gaps, tfs), flat)
