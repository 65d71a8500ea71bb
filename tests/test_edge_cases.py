"""Edge-case corpus: empty docs, whitespace-only, unicode, single-token,
very long docs — the build must stay correct end-to-end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from miru_spark.index.reader import IndexReader
from miru_spark.index.writer import build_index
from miru_spark.plans.search import search_topk


@pytest.fixture(scope="module")
def edge_index(spark, tmp_path_factory):
    rows = [
        (0, "srcA", "a.txt", "v0", "en", ""),  # empty
        (1, "srcA", "b.txt", "v0", "en", "   \t  "),  # whitespace only
        (2, "srcA", "c.txt", "v0", "en", "solo"),  # single token
        (3, "srcB", "d.txt", "v0", "zh", "中文 词语 中文"),  # unicode terms
        (4, "srcB", "e.txt", "v0", "en", "dup dup dup dup"),
        (5, "srcB", "f.txt", "v0", "en", ("long " * 10000).strip()),  # 10k tokens
        (6, "srcC", "g.txt", "v0", "en", "solo dup long"),
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, repo string, path string, commit string, lang string, content string"
    )
    p = str(tmp_path_factory.mktemp("edge") / "idx")
    build_index(spark, corpus, p, num_partitions=4, target_chunk=8)
    return IndexReader(spark, p)


def test_docmap_covers_all_docs_including_empty(edge_index):
    dm = {r.doc_id: r.doc_len for r in edge_index.docmap_df().collect()}
    assert dm == {0: 0, 1: 0, 2: 1, 3: 3, 4: 4, 5: 10000, 6: 3}


def test_empty_docs_absent_from_postings(edge_index):
    terms = {r.term for r in edge_index.postings_df().select("term").distinct().collect()}
    assert terms == {"solo", "中文", "词语", "dup", "long"}


def test_unicode_term_search(edge_index):
    hits = search_topk(edge_index, ["中文"], mode="conjunctive", k=5)
    assert [d for d, _ in hits] == [3]


def test_long_doc_scores_match_formula(edge_index):
    # 'long': doc 5 (tf=10000, dl=10000) saturates near idf*(k1+1);
    # doc 6 (tf=1, dl=3) scores idf*2.2/(1+k1*(1-b+b*3/avgdl)).
    import math

    hits = dict(search_topk(edge_index, ["long"], mode="conjunctive", k=5))
    assert set(hits) == {5, 6}
    n, df, avgdl = 7, 2, 10011 / 7
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    s5 = idf * 10000 * 2.2 / (10000 + 1.2 * (0.25 + 0.75 * 10000 / avgdl))
    s6 = idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3 / avgdl))
    assert abs(hits[5] - s5) < 1e-9 and abs(hits[6] - s6) < 1e-9
    assert hits[5] > hits[6]  # tf saturation beats the short doc here


def test_conjunctive_across_edge_docs(edge_index):
    hits = search_topk(edge_index, ["solo", "dup"], mode="conjunctive", k=5)
    assert [d for d, _ in hits] == [6]


def test_stats_count_all_docs(edge_index):
    assert edge_index.n_docs == 7
    assert edge_index.stats["n_tokens"] == 10011


def test_unicode_prefix_and_fuzzy_expansion(edge_index):
    """Dictionary seeks handle non-ASCII prefixes (incl. the successor-char
    range bound) and multi-byte fuzzy candidates."""
    assert edge_index.expand_prefix("中") == ["中文"]
    assert edge_index.expand_prefix("中文") == ["中文"]
    assert edge_index.expand_prefix("英") == []
    assert edge_index.expand_fuzzy("中文") == ["中文"]
    assert edge_index.expand_fuzzy("中") == ["中文"]  # one insertion away
    assert edge_index.expand_prefix("lon") == ["long"]


def test_not_excluding_every_candidate(edge_index):
    got = search_topk(edge_index, ["solo"], mode="conjunctive", k=5, exclude=["dup"])
    assert [d for d, _ in got] == [2]  # doc 6 has dup, doc 2 survives


@pytest.mark.parametrize(
    "terms,mode",
    [
        (["zzzz"], "disjunctive"),  # absent term
        (["zzzz", "yyyy"], "conjunctive"),  # no query term in the index
        (["the", "zzzz"], "conjunctive"),  # a present term AND an absent one
    ],
    ids=["absent", "none_indexed", "one_absent"],
)
def test_empty_candidate_set_matches_twin(reader, duck, terms, mode):
    """A query matching nothing: MAD and string_stats return the twin's
    row exactly — one row, count 0, the same NULL metrics."""
    from miru_spark.plans.relational import mad_oracle_sql, string_stats_oracle_sql
    from miru_spark.plans.search import search_mad, search_string_stats

    for got, sql in (
        (search_mad(reader, terms, mode), mad_oracle_sql(terms, mode)),
        (search_string_stats(reader, terms, mode), string_stats_oracle_sql(terms, mode)),
    ):
        rows = [tuple(r) for r in got.collect()]
        assert rows == duck.execute(sql).fetchall()
        assert len(rows) == 1 and rows[0][0] == 0
