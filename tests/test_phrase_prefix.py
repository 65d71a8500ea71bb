"""A61 — match_phrase_prefix (ES autocomplete phrase query)."""

from __future__ import annotations

import math

import pytest

from miru_spark.plans.relational import phrase_prefix_oracle_sql
from miru_spark.plans.search import (
    search_phrase,
    search_phrase_prefix,
    search_synonym,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pos_reader(spark, tmp_path_factory):
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.schema import read_corpus

    p = str(tmp_path_factory.mktemp("mpp") / "idx")
    build_index(
        spark, read_corpus(spark, SF_DIR), p, num_partitions=4,
        positions=True, target_chunk=64,
    )
    return IndexReader(spark, p)


def _ref(spark, phrase, k=10):
    """Pure-Python reference: tokenized corpus, substring-free position
    scan, BM25 with SynonymQuery blending of the completing expansions."""
    rows = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    docs = {int(r["doc_id"]): r["text"].split() for r in rows}
    n = len(docs)
    dl = {d: len(t) for d, t in docs.items()}
    avgdl = sum(dl.values()) / n
    df: dict[str, int] = {}
    for toks in docs.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    toks = phrase.split()
    fixed, prefix = toks[:-1], toks[-1]
    expansions = sorted(t for t in df if t.startswith(prefix))
    if not expansions:
        return []
    gdf = max(df[e] for e in expansions)

    def idf(dfv):
        return math.log(1 + (n - dfv + 0.5) / (dfv + 0.5))

    def bm(tf, dfv, d):
        return idf(dfv) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))

    hits = []
    for d, seq in docs.items():
        comp = set()
        for i in range(len(seq) - len(fixed)):
            if seq[i : i + len(fixed)] == fixed and seq[i + len(fixed)] in expansions:
                comp.add(seq[i + len(fixed)])
        if not comp:
            continue
        gtf = sum(seq.count(e) for e in comp)
        s = idf(gdf) * gtf * 2.2 / (gtf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
        for t in dict.fromkeys(fixed):
            s += bm(seq.count(t), df[t], d)
        hits.append((d, round(s, 6)))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return hits[:k]


@pytest.mark.parametrize("phrase", ["the a", "join h", "the d", "s"])
def test_matches_reference(spark, pos_reader, phrase):
    got = search_phrase_prefix(pos_reader, phrase, k=10)
    assert got == _ref(spark, phrase, k=10)


def test_nonvacuous(spark, pos_reader):
    """At least one pinned case must return rows and involve >1 expansion."""
    got = search_phrase_prefix(pos_reader, "the d", k=10)
    assert got
    exp = pos_reader.expand_prefix("d", max_terms=100)
    assert len(exp) > 1


@pytest.mark.parametrize(
    "phrase", ["the a", "join h", "s", "the A", "join h%", "join h_"]
)
def test_matches_duck_oracle(pos_reader, duck, phrase):
    got = search_phrase_prefix(pos_reader, phrase, k=10)
    exp = duck.execute(phrase_prefix_oracle_sql(phrase, k=10)).fetchall()
    assert got == [(int(d), float(s)) for d, s in exp]


def test_single_token_equals_synonym_group(pos_reader):
    """With no fixed part the query degrades to exactly a SynonymQuery
    over the prefix's expansions (A41) — same blending, same ranking."""
    exp = sorted(pos_reader.expand_prefix("s", max_terms=100))
    got = search_phrase_prefix(pos_reader, "s", k=10)
    syn = [
        (d, round(s, 6))
        for d, s in search_synonym(pos_reader, [exp], mode="conjunctive", k=10)
    ]
    assert got == syn


def test_max_expansions_truncates_in_term_order(pos_reader):
    """cap=1 keeps exactly the FIRST expansion in term order, and a
    single-expansion prefix phrase scores identically to the plain exact
    phrase of that expansion (the SynonymQuery blend of one term is the
    term itself, idf included)."""
    from miru_spark.plans.search import search_phrase

    full = sorted(pos_reader.expand_prefix("s", max_terms=100))
    assert len(full) > 1
    got1 = search_phrase_prefix(pos_reader, "the s", k=10**9, max_expansions=1)
    only = full[0]
    exact = search_phrase(pos_reader, f"the {only}", k=10**9)
    assert got1 == exact
    assert got1  # non-vacuous: the capped phrase still matches something
    gotfull = search_phrase_prefix(pos_reader, "the s", k=10**9)
    assert {d for d, _ in got1} <= {d for d, _ in gotfull}


def test_validation(pos_reader, reader):
    with pytest.raises(ValueError, match="positional"):
        search_phrase_prefix(reader, "the a")
    with pytest.raises(ValueError, match="empty"):
        search_phrase_prefix(pos_reader, "   ")
    with pytest.raises(ValueError, match="max_expansions"):
        search_phrase_prefix(pos_reader, "the a", max_expansions=0)
    assert search_phrase_prefix(pos_reader, "the zzzzz") == []


def test_grammar_quoted_prefix_phrase(pos_reader):
    """'"the d*"' through search() routes to match_phrase_prefix."""
    from miru_spark.plans.search import search

    got = search(pos_reader, '"the d*"', k=10)
    assert got == search_phrase_prefix(pos_reader, "the d", k=10)
    assert got
    # a quoted phrase WITHOUT a trailing star stays an exact phrase
    from miru_spark.plans.search import search_phrase

    assert search(pos_reader, '"the a"', k=10) == search_phrase(
        pos_reader, "the a", k=10
    )


def test_phrase_auto_routes_to_distributed_past_cutoff(pos_reader, monkeypatch):
    """Hot phrases fall through to search_phrase_distributed without the
    caller asking (VERDICT r4 #4), with identical results."""
    from miru_spark.plans import search as S

    drv = search_phrase(pos_reader, "the a", k=10, strategy="driver")
    assert S.LAST_PHRASE_ROUTE == "driver"
    monkeypatch.setattr(S, "PHRASE_DISTRIBUTED_CUTOFF", 0)
    assert search_phrase(pos_reader, "the a", k=10) == drv
    assert S.LAST_PHRASE_ROUTE == "distributed"
    # where= pins the driver path
    search_phrase(pos_reader, "the a", k=10, where={"lang": ["en"]})
    assert S.LAST_PHRASE_ROUTE == "driver"
    with pytest.raises(ValueError):
        search_phrase(
            pos_reader, "the a", strategy="distributed", where={"lang": ["en"]}
        )
    with pytest.raises(ValueError):
        search_phrase(pos_reader, "the a", strategy="bogus")
