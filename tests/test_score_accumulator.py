"""The driver's per-doc score accumulator and top-k cut: the dense
(bincount) and sparse (unique + add.at) branches sum bit-identically, and
cutting to the k-th best score before the sort keeps the full sort's
winners, ties included — after rounding, and with NaN scores."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from miru_spark.plans.search import _sum_by_doc, _sum_dense, _sum_sparse, _top_k


@st.composite
def postings(draw):
    """Random (ids, scores): duplicates likely, empty allowed, and id spans
    on both sides of the dense gate (up to ~2**20 over a few hundred ids)."""
    n = draw(st.integers(0, 300))
    span = draw(st.sampled_from([1, 7, 64, 2 * n + 8192, 2 * n + 8193, 1 << 20]))
    base = draw(st.integers(0, 1 << 40))
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    ids = base + rng.integers(0, span, n, dtype=np.int64)
    # scores of very different magnitudes, so summation order would show
    scores = rng.random(n) * 10.0 ** rng.integers(-8, 8, n)
    return ids, scores


@given(postings())
@settings(max_examples=200, deadline=None)
def test_dense_and_sparse_sums_are_bit_identical(data):
    ids, scores = data
    got = _sum_by_doc(ids, scores)
    sparse = _sum_sparse(ids, scores)
    branches = [got, sparse]
    if ids.size:
        branches.append(_sum_dense(ids, scores))
    for u, agg, cnt in branches:
        assert u.dtype == np.int64 and agg.dtype == np.float64
        assert np.array_equal(u, sparse[0])
        assert np.array_equal(agg, sparse[1])  # exact, not approximate
        assert np.array_equal(cnt, sparse[2])
    assert np.array_equal(sparse[0], np.unique(ids))
    assert int(sparse[2].sum()) == ids.size


def _full_sort(uids, agg, k):
    order = np.lexsort((uids, -agg))[:k]
    return [(int(uids[i]), float(agg[i])) for i in order]


def test_top_k_keeps_every_tie_at_the_kth_score():
    """More than k docs share the k-th score: the cut keeps them all and the
    sort picks the lowest doc ids, exactly as the full lexsort does."""
    rng = np.random.default_rng(3)
    uids = rng.permutation(np.arange(100, 140, dtype=np.int64))
    agg = np.full(uids.size, 1.5)
    agg[:4] = [9.0, 8.0, 7.0, 6.0]  # four clear winners, 36 tied after them
    agg[-5:] = 0.5
    for k in (1, 4, 5, 10, 35, 36, 40, 100):
        got = _top_k(uids, agg, k)
        assert got == _full_sort(uids, agg, k)
    tied = [d for d, s in _top_k(uids, agg, 10) if s == 1.5]
    assert tied == sorted(uids[4:-5].tolist())[:6]


@given(
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 9)), max_size=60),
    st.integers(0, 70),
    st.sampled_from([None, 0, 1, 2, 6]),
)
@settings(max_examples=300, deadline=None)
def test_top_k_equals_full_sort(levels, k, round_digits):
    """Equal to ``np.round`` then the full lexsort. The second level adds
    at most 0.0009, so at 2 digits or fewer many scores tie only after
    rounding. Level 6 is a NaN score, which both rank last."""
    uids = np.arange(len(levels), dtype=np.int64)[::-1].copy()
    agg = np.array(
        [np.nan if a == 6 else a / 4.0 + b / 10_000.0 for a, b in levels],
        dtype=np.float64,
    )
    want = agg if round_digits is None else np.round(agg, round_digits)
    got = _top_k(uids, agg, k, round_digits)
    full = _full_sort(uids, want, k)
    assert [d for d, _ in got] == [d for d, _ in full]
    assert np.array_equal([s for _, s in got], [s for _, s in full], equal_nan=True)
