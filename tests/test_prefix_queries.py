"""Prefix queries: sorted term dictionary expansion + scoring-boolean rewrite.

The term dictionary is index/df written term-sorted with range partitioning;
``IndexReader.expand_prefix`` seeks it driver-side via pyarrow statistics
pruning. A prefix query is Lucene's scoring-boolean rewrite: disjunctive BM25
over the expansions, each with its own idf — oracle-checked end to end.
"""

from __future__ import annotations

import pytest

from miru_spark.plans.relational import bm25_prefix_oracle_sql
from miru_spark.plans.search import search, search_distributed, search_prefix


def _vocab(duck):
    return [
        r[0]
        for r in duck.execute(
            "WITH tok AS (SELECT unnest(string_split(text,' ')) AS t FROM documents) "
            "SELECT DISTINCT t FROM tok WHERE t<>'' ORDER BY 1"
        ).fetchall()
    ]


@pytest.mark.parametrize("prefix", ["s", "c", "dup", "q", "zzz"])
def test_expand_prefix_matches_vocab(reader, duck, prefix):
    want = sorted(t for t in _vocab(duck) if t.startswith(prefix))
    assert reader.expand_prefix(prefix) == want


def test_expand_prefix_cap_and_empty(reader):
    with pytest.raises(ValueError):
        reader.expand_prefix("")
    with pytest.raises(ValueError):
        reader.expand_prefix("s", max_terms=2)  # 6 expansions > 2
    assert reader.expand_prefix("zzz_nothing") == []


@pytest.mark.parametrize("prefix", ["s", "c", "dup"])
def test_prefix_search_matches_oracle(reader, duck, prefix):
    got = [(d, round(s, 6)) for d, s in search_prefix(reader, prefix, k=10)]
    want = [
        (d, s) for d, s in duck.execute(bm25_prefix_oracle_sql(prefix)).fetchall()
    ]
    assert got == want


def test_prefix_distributed_matches_oracle(reader, duck):
    terms = reader.expand_prefix("s")
    got = [
        (r.doc_id, r.score)
        for r in search_distributed(reader, terms, mode="disjunctive", k=10).collect()
    ]
    want = [(d, s) for d, s in duck.execute(bm25_prefix_oracle_sql("s")).fetchall()]
    assert got == want


def test_search_wrapper_wildcards(reader):
    assert search(reader, "sp*", k=5) == search_prefix(reader, "sp", k=5)
    # wildcard in OR query merges into the disjunction
    assert search(reader, "dup OR sp*", k=5) == search(reader, "dup OR spark", k=5)
    # wildcard exclusion: NOT cu* drops docs containing any cu-term
    got = search(reader, "dup NOT cu*", k=100)
    cu_docs = {d for d, _ in search_prefix(reader, "cu", k=10_000)}
    assert got and not ({d for d, _ in got} & cu_docs)
    # and the ubiquitous s* exclusion legitimately empties the result
    assert search(reader, "dup NOT s*", k=100) == []
    with pytest.raises(ValueError):
        search(reader, "dup AND sp*")  # OR-group inside conjunction
    assert search(reader, "zzz_nothing*", k=5) == []


def test_wildcard_expansion_overlapping_not_is_allowed(reader):
    """'s* NOT spark': the expansion overlaps the NOT side — overlapping
    EXPANSION terms drop from the positive side instead of raising; an
    explicitly typed contradiction still raises."""
    got = search(reader, "s* NOT spark", k=100)
    spark_docs = {d for d, _ in search(reader, "spark OR spark", k=10_000)}
    assert got and not ({d for d, _ in got} & spark_docs)
    # the whole positive side consumed by NOT -> empty, not an error
    assert search(reader, "sp* NOT spark", k=10) == []
    with pytest.raises(ValueError):
        search(reader, "spark NOT spark", k=10)  # explicit contradiction


# ------------------------------------------------------------ regex terms --

def test_expand_regex_matches_vocab(reader, duck):
    import re

    vocab = _vocab(duck)
    for pat in ["s(ort|low)", "[bd]a[tc].*", "qu.*", "z+", ".*dow"]:
        want = sorted(t for t in vocab if re.fullmatch(pat, t))
        assert reader.expand_regex(pat) == want, pat
    with pytest.raises(ValueError):
        reader.expand_regex("")
    with pytest.raises(ValueError):
        reader.expand_regex(".*", max_terms=3)  # whole vocab > cap


def test_regex_search_matches_oracle(reader, duck):
    from miru_spark.plans.relational import bm25_regex_oracle_sql
    from miru_spark.plans.search import search_regex

    for pat in ["s(ort|low)", "[bd]a[tc].*"]:
        got = [(d, round(s, 6)) for d, s in search_regex(reader, pat, k=10)]
        want = [tuple(r) for r in duck.execute(bm25_regex_oracle_sql(pat)).fetchall()]
        assert got == want, pat
    assert search_regex(reader, "zzz.*") == []


def test_regex_prefix_pruning_soundness(reader, duck):
    """Alternation and optional-quantifier patterns must not be pruned away
    by the literal-prefix range bound (review regression)."""
    import re

    vocab = _vocab(duck)
    for pat in ["sort|slow", "slow?", "scan*", "spar{1,2}k", "s(ort|low)"]:
        want = sorted(t for t in vocab if re.fullmatch(pat, t))
        assert reader.expand_regex(pat) == want, pat


# ------------------------------------------------- spell suggest (A37) --

def test_suggest_spelling_matches_duck(reader, duck):
    """Engine ranking == DuckDB levenshtein ground truth, more-popular-only."""
    from miru_spark.plans.search import suggest_spelling

    got = suggest_spelling(reader, "sow", max_edits=1, k=5)
    want = duck.execute("""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
t AS (SELECT DISTINCT doc_id, term FROM tok WHERE term <> ''),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY term)
SELECT term, 1, df FROM df WHERE levenshtein(term, 'sow') = 1
ORDER BY df DESC, term LIMIT 5
""").fetchall()
    assert [(t, d, f) for t, d, f in got] == [tuple(r) for r in want]


def test_suggest_spelling_excludes_self_and_gates_popularity(reader):
    from miru_spark.plans.search import suggest_spelling

    # a REAL vocab term: itself (distance 0) is never suggested, and with
    # more_popular every suggestion has strictly higher df
    dfs = reader.term_dfs(["slow"])
    got = suggest_spelling(reader, "slow", max_edits=1, k=10)
    assert all(t != "slow" for t, _, _ in got)
    assert all(f > dfs["slow"] for _, _, f in got)
    # without the gate, rarer neighbors may appear
    all_n = suggest_spelling(reader, "slow", max_edits=1, k=10,
                             more_popular=False)
    assert set(t for t, _, _ in got) <= set(t for t, _, _ in all_n)


def test_suggest_spelling_two_edits_ranks_distance_first(reader):
    from miru_spark.plans.search import suggest_spelling

    got = suggest_spelling(reader, "sow", max_edits=2, k=50,
                           more_popular=False)
    dists = [d for _, d, _ in got]
    assert dists == sorted(dists)  # distance ascending
    assert any(d == 2 for d in dists)  # the banded fallback path ran
    # within a distance class, df descends
    for d in set(dists):
        block = [f for _, dd, f in got if dd == d]
        assert block == sorted(block, reverse=True)


def test_suggest_spelling_no_neighbors(reader):
    from miru_spark.plans.search import suggest_spelling

    assert suggest_spelling(reader, "zzzzzzz", max_edits=1, k=5) == []


# ---- A104 match_bool_prefix (ES search-as-you-type, boolean variant) --------


@pytest.mark.parametrize(
    "query,mode",
    [("the d", "conjunctive"), ("the d", "disjunctive"),
     ("dup li", "disjunctive"), ("d", "conjunctive"),
     ("the a d", "conjunctive"), ("the zzzz", "conjunctive"),
     ("the zzzz", "disjunctive"),
     # case is kept (whitespace analyzer) and LIKE metacharacters in the
     # prefix match only themselves, on both sides
     ("THE D", "conjunctive"), ("the D", "disjunctive"),
     ("the d%", "disjunctive"), ("the d_", "disjunctive"),
     ("the %_", "disjunctive")],
    ids=lambda x: str(x).replace(" ", "_"),
)
def test_match_bool_prefix_matches_oracle(reader, duck, query, mode):
    from miru_spark.plans.relational import match_bool_prefix_oracle_sql
    from miru_spark.plans.search import search_match_bool_prefix

    got = [
        (d, round(s, 6))
        for d, s in search_match_bool_prefix(reader, query, mode=mode, k=10)
    ]
    exp = duck.execute(
        match_bool_prefix_oracle_sql(query, mode, k=10)
    ).fetchall()
    assert got == [(int(d), float(s)) for d, s in exp]


def test_match_bool_prefix_semantics(reader):
    """Equals the synonym engine on the hand-expanded groups; the AND
    variant's doc set is exactly (docs with every fixed term) ∩ (docs with
    any expansion) — no adjacency requirement, the contrast with A61; a
    bare prefix query degrades to the blended single group; validation
    errors."""
    from miru_spark.plans.search import (
        search_match_bool_prefix,
        search_synonym,
        search_topk,
    )

    exps = reader.expand_prefix("d")
    assert exps  # non-vacuous on this corpus
    got = search_match_bool_prefix(reader, "the d", mode="conjunctive",
                                   k=10**9)
    via_groups = search_synonym(reader, [["the"], exps],
                                mode="conjunctive", k=10**9)
    assert got == via_groups
    fixed_docs = {d for d, _ in search_topk(reader, ["the"], k=10**9)}
    exp_docs = {d for d, _ in search_topk(reader, exps, mode="disjunctive",
                                          k=10**9)}
    assert {d for d, _ in got} == (fixed_docs & exp_docs)
    bare = search_match_bool_prefix(reader, "d", k=10**9)
    assert bare == search_synonym(reader, [exps], k=10**9)
    with pytest.raises(ValueError, match="empty"):
        search_match_bool_prefix(reader, "   ")
    with pytest.raises(ValueError, match="max_expansions"):
        search_match_bool_prefix(reader, "the d", max_expansions=0)
