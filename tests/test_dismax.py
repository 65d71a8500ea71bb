"""A51 — dis_max / best_fields multi-field search (ES multi_match
type=best_fields / Lucene DisjunctionMaxQuery).

Pins: per-field BM25 subquery scores combined as max + tie_breaker * rest,
tie_breaker=1 degrading to exactly most_fields, the PER-FIELD conjunctive
rule (one field must contain the whole query — the best_fields/AND
contrast with most_fields), distributed == driver, and the DuckDB oracle.
"""
from __future__ import annotations

import pytest

from miru_spark.plans.dismax import (
    search_fields_dismax,
    search_fields_dismax_distributed,
)
from miru_spark.plans.multifield import (
    build_multifield_index,
    open_field_readers,
    search_fields,
)

from tests.conftest import SF_DIR

WEIGHTS = {"content": 1.0, "path": 3.0}

PATH_TOK = (
    "SELECT doc_id, unnest(string_split(regexp_replace("
    "printf('doc_%05d.txt', doc_id), '[/._-]+', ' ', 'g'), ' ')) AS term "
    "FROM documents"
)


@pytest.fixture(scope="module")
def dm_readers(spark, tmp_path_factory):
    from miru_spark.schema import read_corpus

    base = str(tmp_path_factory.mktemp("dm") / "idx")
    build_multifield_index(
        spark, read_corpus(spark, SF_DIR), base, num_partitions=4,
        target_chunk=64,
    )
    return open_field_readers(spark, base)


def _duck(sql):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    return con.execute(sql).fetchall()


def _oracle(terms, mode, tb, k=10):
    from miru_spark.plans.relational import (
        DEFAULT_TOK_SQL,
        bm25_dismax_oracle_sql,
    )

    return bm25_dismax_oracle_sql(
        terms,
        {
            "content": (DEFAULT_TOK_SQL, WEIGHTS["content"]),
            "path": (PATH_TOK, WEIGHTS["path"]),
        },
        mode,
        tie_breaker=tb,
        k=k,
    )


def _r6(res):
    return [(int(d), round(float(s), 6)) for d, s in res]


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
@pytest.mark.parametrize("tb", [0.0, 0.3])
def test_driver_matches_duck_oracle(dm_readers, mode, tb):
    terms = ["the", "00007"] if mode == "disjunctive" else ["join", "hash"]
    got = _r6(
        search_fields_dismax(
            dm_readers, terms, weights=WEIGHTS, tie_breaker=tb, mode=mode
        )
    )
    exp = [(int(d), float(s)) for d, s in _duck(_oracle(terms, mode, tb))]
    assert got == exp and got


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_tie_breaker_one_is_most_fields(dm_readers, mode):
    """tb=1 makes max + 1*(sum-max) = sum — but the per-field conjunctive
    rule still differs from most_fields, so equality only holds when the
    match sets agree: disjunctive always; conjunctive when query terms are
    content-only (path can never match them all, contributing 0 anyway)."""
    terms = ["join", "dup"]
    dm = _r6(
        search_fields_dismax(
            dm_readers, terms, weights=WEIGHTS, tie_breaker=1.0, mode=mode
        )
    )
    mf = _r6(search_fields(dm_readers, terms, weights=WEIGHTS, mode=mode))
    assert dm == mf and dm


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_distributed_matches_driver(dm_readers, mode):
    terms = ["the", "00007"] if mode == "disjunctive" else ["join", "hash"]
    drv = _r6(
        search_fields_dismax(
            dm_readers, terms, weights=WEIGHTS, tie_breaker=0.3, mode=mode
        )
    )
    dist = search_fields_dismax_distributed(
        dm_readers, terms, weights=WEIGHTS, tie_breaker=0.3, mode=mode
    ).collect()
    assert [(r.doc_id, r.score) for r in dist] == drv


def test_conjunctive_is_per_field(dm_readers):
    """best_fields/AND: some single field must contain the whole query.
    'the 00007' is satisfiable cross-field (body has 'the', path has
    '00007') — most_fields-conjunctive accepts those docs, dis_max must
    reject any doc where neither field alone covers both terms."""
    terms = ["the", "00007"]
    mf = {d for d, _ in search_fields(
        dm_readers, terms, weights=WEIGHTS, mode="conjunctive", k=10**6
    )}
    dm = {d for d, _ in search_fields_dismax(
        dm_readers, terms, weights=WEIGHTS, mode="conjunctive", k=10**6
    )}
    assert dm <= mf
    # and the per-field rule holds doc by doc against the raw postings
    content, path = dm_readers["content"], dm_readers["path"]
    def field_docs(reader, t):
        import numpy as np
        tps = reader.fetch_terms([t])
        return set() if t not in tps else set(
            reader.decode_term(tps[t])[0].astype("int64").tolist()
        )
    per_field_ok = set()
    for reader in (content, path):
        cover = None
        for t in terms:
            ds = field_docs(reader, t)
            cover = ds if cover is None else (cover & ds)
        per_field_ok |= cover
    assert dm == per_field_ok


def test_where_filter_and_zero_weight(dm_readers):
    lang_en = {
        r.doc_id
        for r in dm_readers["content"].docmap_df()
        .filter("lang = 'en'").select("doc_id").collect()
    }
    rows = search_fields_dismax(
        dm_readers, ["join", "hash"], weights=WEIGHTS, tie_breaker=0.3,
        where={"lang": "en"}, k=10**6,
    )
    assert rows and all(d in lang_en for d, _ in rows)
    # zero path weight: pure content dis_max == single-field BM25 ranking
    from miru_spark.plans.search import search_topk

    zero = _r6(search_fields_dismax(
        dm_readers, ["join", "hash"],
        weights={"content": 1.0, "path": 0.0}, mode="disjunctive",
    ))
    single = _r6(search_topk(
        dm_readers["content"], ["join", "hash"], mode="disjunctive"
    ))
    assert zero == single


def test_validation(dm_readers):
    with pytest.raises(ValueError, match="tie_breaker"):
        search_fields_dismax(dm_readers, ["join"], tie_breaker=1.5)
    with pytest.raises(ValueError, match="empty"):
        search_fields_dismax(dm_readers, [])
    with pytest.raises(ValueError, match="unknown mode"):
        search_fields_dismax(dm_readers, ["join"], mode="phrase")


def test_half_applied_delete_never_serves(dm_readers, spark, tmp_path):
    """A doc tombstoned in only the path field index, while it matches
    only in content, is served by neither path (tombstones union across
    fields); every other doc keeps its score."""
    import os
    import shutil

    from miru_spark.index.writer import delete_docs

    base = str(tmp_path / "idx")
    shutil.copytree(os.path.dirname(dm_readers["path"].index_path), base)
    kw = {"weights": WEIGHTS, "tie_breaker": 0.3, "k": 10**9}
    full = search_fields_dismax(dm_readers, ["the"], **kw)
    victim = full[0][0]
    delete_docs(f"{base}/field=path", [victim])
    readers = open_field_readers(spark, base)
    got = search_fields_dismax(readers, ["the"], **kw)
    assert got == [(d, s) for d, s in full if d != victim]
    rows = search_fields_dismax_distributed(
        readers, ["the"], weights=WEIGHTS, tie_breaker=0.3, k=None
    ).collect()
    assert {r.doc_id for r in rows} == {d for d, _ in got}
