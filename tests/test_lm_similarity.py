"""Pluggable similarity: LM Dirichlet (Lucene LMDirichletSimilarity)."""

from __future__ import annotations

import numpy as np
import pytest

from miru_spark.plans.relational import lm_dirichlet_oracle_sql
from miru_spark.plans.search import search_lm, search_topk


@pytest.fixture(scope="module")
def lm_reader(spark, tmp_path_factory):
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.schema import read_corpus
    from tests.conftest import SF_DIR

    p = str(tmp_path_factory.mktemp("lmidx") / "idx")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=4,
                target_chunk=64)
    return IndexReader(spark, p)


@pytest.mark.parametrize(
    "terms,mode,mu",
    [
        (["the", "dup"], "disjunctive", 2000.0),
        (["join", "hash"], "conjunctive", 2000.0),
        (["the"], "disjunctive", 500.0),
        (["the", "a", "data"], "conjunctive", 100.0),
        (["zzz_missing", "the"], "disjunctive", 2000.0),
        (["zzz_missing", "the"], "conjunctive", 2000.0),
    ],
    ids=lambda x: str(x),
)
def test_lm_matches_oracle(lm_reader, duck, terms, mode, mu):
    got = search_lm(lm_reader, terms, mode=mode, mu=mu, k=10)
    exp = duck.execute(lm_dirichlet_oracle_sql(terms, mode, mu=mu, k=10)).fetchall()
    assert got == [(int(d), float(s)) for d, s in exp]


def test_lm_candidate_set_is_bm25s(lm_reader):
    """Same index, same candidate plan: the LM doc SET equals BM25's for
    the same boolean query — only the scores (and hence order) differ."""
    terms = ["the", "dup"]
    lm = search_lm(lm_reader, terms, mode="conjunctive", k=10**9)
    bm = search_topk(lm_reader, terms, mode="conjunctive", k=10**9)
    assert {d for d, _ in lm} == {d for d, _ in bm}


def test_lm_clamp_and_mu_limits(lm_reader):
    """Per-(term,doc) contributions are clamped at 0 (Lucene), so every
    score is non-negative; a longer doc with the same tf never outscores a
    shorter one for a single-term query (dl penalty is monotone)."""
    res = search_lm(lm_reader, ["the"], k=10**9)
    assert res and all(s >= 0.0 for _, s in res)
    # monotone-in-mu sanity: scores change smoothly, sets are identical
    a = {d for d, _ in search_lm(lm_reader, ["the"], mu=100.0, k=10**9)}
    b = {d for d, _ in search_lm(lm_reader, ["the"], mu=5000.0, k=10**9)}
    assert a == b


def test_lm_reference_formula(lm_reader):
    """Independent numpy recompute of one doc's score from raw postings."""
    from miru_spark.functions.bm25 import lm_dirichlet_np

    tf = np.array([3]); dl = np.array([25])
    got = lm_dirichlet_np(tf, cf=40.0, doc_len=dl, n_tokens=1000.0, mu=2000.0)
    p = 41.0 / 1001.0
    want = max(0.0, np.log1p(3.0 / (2000.0 * p)) + np.log(2000.0 / 2025.0))
    assert got.shape == (1,) and abs(float(got[0]) - want) < 1e-12


def test_lm_validation(lm_reader):
    with pytest.raises(ValueError):
        search_lm(lm_reader, [], k=5)
    with pytest.raises(ValueError):
        search_lm(lm_reader, ["the"], mu=0.0)
    with pytest.raises(ValueError):
        search_lm(lm_reader, ["the"], mode="nope")


def test_lm_rejects_nan_mu(lm_reader):
    """NaN fails ``mu > 0`` like any non-positive mu; accepted, it made
    every score NaN."""
    with pytest.raises(ValueError):
        search_lm(lm_reader, ["the"], mu=float("nan"), k=3)
