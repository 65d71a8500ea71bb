"""A38 search_after pagination, A39 sort-by-field, A40 histogram facets,
A41 SynonymQuery, and general mid-string wildcards."""

from __future__ import annotations

import re

import numpy as np
import pytest

from miru_spark.functions import bm25
from miru_spark.plans.search import (
    search,
    search_exhaustive,
    search_facets_histogram,
    search_sorted,
    search_synonym,
    search_topk,
)

# ------------------------------------------------------------- search_after


@pytest.mark.parametrize("strategy", ["exhaustive", "wand"])
@pytest.mark.parametrize("mode", ["conjunctive", "disjunctive"])
def test_search_after_pages_tile_the_full_ranking(reader, mode, strategy):
    terms = ["the", "a"]
    full = search_topk(reader, terms, mode=mode, k=30, strategy=strategy)
    pages, cursor = [], None
    for _ in range(3):
        page = search_topk(
            reader, terms, mode=mode, k=10, strategy=strategy, after=cursor
        )
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1][1], page[-1][0])
    assert pages == full


def test_search_after_cross_strategy_page2(reader):
    """Cursor from the WAND page drives the exhaustive page to the same
    result (and vice versa) — the epsilon tie band makes the boundary
    path-independent."""
    terms = ["the", "dup"]
    p1 = search_topk(reader, terms, mode="disjunctive", k=7, strategy="wand")
    cur = (p1[-1][1], p1[-1][0])
    a = search_topk(
        reader, terms, mode="disjunctive", k=7, strategy="wand", after=cur
    )
    b = search_topk(
        reader, terms, mode="disjunctive", k=7, strategy="exhaustive", after=cur
    )
    assert a == b
    assert not (set(d for d, _ in p1) & set(d for d, _ in a))


def test_search_after_distributed_pages_tile(reader):
    """Round-4: keyset pagination on the DISTRIBUTED scorer — three pages
    driven by real cursors tile the driver path's full ranking."""
    from miru_spark.plans.search import search_distributed

    terms = ["the", "a"]
    full = [
        (d, round(s, 6))
        for d, s in search_topk(reader, terms, mode="disjunctive", k=30)
    ]
    pages, cursor = [], None
    for _ in range(3):
        rows = search_distributed(
            reader, terms, mode="disjunctive", k=10, after=cursor
        ).collect()
        if not rows:
            break
        pages.extend((int(r["doc_id"]), float(r["score"])) for r in rows)
        cursor = (float(rows[-1]["score"]), int(rows[-1]["doc_id"]))
    assert pages == full


def test_search_after_distributed_rejects_unranked(reader):
    from miru_spark.plans.search import search_distributed

    with pytest.raises(ValueError, match="after"):
        search_distributed(
            reader, ["the"], mode="disjunctive", k=None, after=(1.0, 0)
        )


def test_search_after_past_the_end_is_empty(reader):
    hits = search_topk(reader, ["dup"], mode="conjunctive", k=10_000)
    last = hits[-1]
    assert (
        search_topk(reader, ["dup"], mode="conjunctive", after=(last[1], last[0]))
        == []
    )


def test_search_after_composes_with_not_and_where(reader):
    full = search_topk(
        reader, ["the", "a"], mode="conjunctive", k=20, exclude=["dup"],
        where={"lang": "en"},
    )
    if len(full) < 4:
        pytest.skip("fixture too small for a 2-page filtered ranking")
    mid = len(full) // 2
    cur = (full[mid - 1][1], full[mid - 1][0])
    page2 = search_topk(
        reader, ["the", "a"], mode="conjunctive", k=len(full) - mid,
        exclude=["dup"], where={"lang": "en"}, after=cur,
    )
    assert page2 == full[mid:]


def test_search_exhaustive_after_matches_topk(reader):
    p1 = search_exhaustive(reader, ["the"], mode="conjunctive", k=5)
    cur = (p1[-1][1], p1[-1][0])
    assert search_exhaustive(
        reader, ["the"], mode="conjunctive", k=5, after=cur
    ) == search_topk(reader, ["the"], mode="conjunctive", k=5, after=cur)


# ------------------------------------------------------------ sort-by-field


def _candidate_ids(reader, terms, mode):
    hits = search_topk(reader, terms, mode=mode, k=10_000_000)
    return sorted(d for d, _ in hits)


@pytest.mark.parametrize("ascending", [True, False])
def test_search_sorted_matches_bruteforce(reader, ascending):
    got = [
        (r["doc_id"], r["doc_len"])
        for r in search_sorted(
            reader, ["the", "dup"], mode="disjunctive",
            sort_field="doc_len", k=10, ascending=ascending,
        ).collect()
    ]
    cand = set(_candidate_ids(reader, ["the", "dup"], "disjunctive"))
    dm = {
        r["doc_id"]: r["doc_len"]
        for r in reader.docmap_df().select("doc_id", "doc_len").collect()
        if r["doc_id"] in cand
    }
    exp = sorted(
        dm.items(),
        key=lambda kv: ((kv[1], kv[0]) if ascending else (-kv[1], kv[0])),
    )[:10]
    assert got == [(d, v) for d, v in exp]


def test_search_sorted_rejects_doc_id(reader):
    with pytest.raises(ValueError):
        search_sorted(reader, ["the"], sort_field="doc_id")


def test_search_sorted_plan_is_take_ordered(reader):
    plan = search_sorted(
        reader, ["the"], sort_field="doc_len", k=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------- histogram


def test_histogram_matches_bruteforce(reader):
    got = {
        r["bin_lo"]: r["n_docs"]
        for r in search_facets_histogram(
            reader, ["the", "a"], mode="conjunctive", col="doc_len", width=10
        ).collect()
    }
    cand = set(_candidate_ids(reader, ["the", "a"], "conjunctive"))
    exp: dict[int, int] = {}
    for r in reader.docmap_df().select("doc_id", "doc_len").collect():
        if r["doc_id"] in cand:
            b = (r["doc_len"] // 10) * 10
            exp[b] = exp.get(b, 0) + 1
    assert got == exp
    assert sum(got.values()) == len(cand)  # bins partition the candidates


def test_histogram_pipeline_matches_bruteforce(reader, duck):
    """A90 pipeline aggs: derivative/cumulative/moving-avg windows over
    the histogram buckets equal hand-computed values AND the DuckDB twin;
    bucket_selector drops rows WITHOUT changing surviving metrics."""
    from miru_spark.plans.relational import histogram_pipeline_oracle_sql
    from miru_spark.plans.search import (
        search_facets_histogram,
        search_histogram_pipeline,
    )

    terms, mode, width, win, lag = ["the", "a"], "conjunctive", 10, 3, 2
    base = search_facets_histogram(reader, terms, mode=mode, width=width).collect()
    ns = [(r.bin_lo, r.n_docs) for r in base]
    total = sum(n for _, n in ns)
    want = []
    for i, (b, n) in enumerate(ns):
        deriv = None if i == 0 else n - ns[i - 1][1]
        cum = sum(x[1] for x in ns[: i + 1])
        wvals = [x[1] for x in ns[max(0, i - win + 1) : i + 1]]
        sdiff = None if i < lag else n - ns[i - lag][1]
        want.append((b, n, deriv, cum, round(sum(wvals) / len(wvals), 6),
                     sdiff, round(n * 100.0 / total, 6)))
    got = [
        (r.bin_lo, r.n_docs, r.deriv, r.cum_n, r.mov_avg, r.sdiff,
         r.pct_of_sum)
        for r in search_histogram_pipeline(
            reader, terms, mode=mode, width=width, moving_window=win,
            serial_lag=lag,
        ).collect()
    ]
    assert got == want and len(got) >= 3
    exp = duck.execute(
        histogram_pipeline_oracle_sql(terms, mode, width=width,
                                      moving_window=win, serial_lag=lag)
    ).fetchall()
    assert got == [tuple(r) for r in exp]
    # normalize: percentages partition 100 over the FULL bucket list
    assert round(sum(t[6] for t in want), 4) == 100.0
    # unrounded, pct_of_sum is the twin's float expression bit for bit
    raw = search_histogram_pipeline(
        reader, terms, mode=mode, width=width, round_digits=None
    ).collect()
    assert [r.pct_of_sum for r in raw] == [n * 100.0 / total for _, n in ns]
    # selector: subset rows, identical surviving metrics
    floor = sorted(n for _, n in ns)[len(ns) // 2]
    sel = [
        (r.bin_lo, r.n_docs, r.deriv, r.cum_n, r.mov_avg, r.sdiff,
         r.pct_of_sum)
        for r in search_histogram_pipeline(
            reader, terms, mode=mode, width=width, moving_window=win,
            serial_lag=lag, selector_min=floor,
        ).collect()
    ]
    assert sel == [t for t in want if t[1] >= floor]
    assert 0 < len(sel) < len(want)


def test_histogram_pipeline_validation(reader):
    from miru_spark.plans.search import search_histogram_pipeline

    with pytest.raises(ValueError, match="moving_window"):
        search_histogram_pipeline(reader, ["the"], moving_window=0)
    with pytest.raises(ValueError, match="serial_lag"):
        search_histogram_pipeline(reader, ["the"], serial_lag=0)


def test_histogram_rejects_bad_width(reader):
    with pytest.raises(ValueError):
        search_facets_histogram(reader, ["the"], width=0)


# ----------------------------------------------------- mid-string wildcards


def _vocab(duck):
    return [
        t
        for (t,) in duck.execute(
            "SELECT DISTINCT unnest(string_split(text,' ')) FROM documents"
        ).fetchall()
        if t
    ]


def test_mid_wildcard_expands_like_regex(reader, duck):
    vocab = _vocab(duck)
    for pat in ["t*e", "*up", "d*"]:
        rx = re.compile(".*".join(re.escape(p) for p in pat.split("*")))
        exp = sorted(t for t in vocab if rx.fullmatch(t))
        got = search(reader, pat, k=10)
        want = search_topk(reader, exp, mode="disjunctive", k=10) if exp else []
        assert got == want, pat


def test_mid_wildcard_in_not_clause(reader, duck):
    vocab = _vocab(duck)
    rx = re.compile("d.*p")
    excl = [t for t in vocab if rx.fullmatch(t)]
    assert excl  # 'dup' at least
    assert search(reader, "the NOT d*p", k=10) == search_topk(
        reader, ["the"], mode="conjunctive", k=10, exclude=excl
    )


# ------------------------------------------------------------- SynonymQuery


def _brute_synonym(duck, reader, groups, mode, k):
    """Ground truth from the raw corpus: per-group tf = sum over members,
    df = max member df, scored with the repo's own BM25 reference."""
    rows = duck.execute(
        "SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents"
    ).fetchall()
    tf: dict[tuple[int, str], int] = {}
    docs: set[int] = set()
    dl: dict[int, int] = {}
    for d, t in rows:
        docs.add(d)
        if t:
            tf[(d, t)] = tf.get((d, t), 0) + 1
            dl[d] = dl.get(d, 0) + 1
    df = {}
    for (d, t) in tf:
        df[t] = df.get(t, 0) + 1
    n_docs = len(docs)
    avgdl = sum(dl.values()) / n_docs
    scores: dict[int, float] = {}
    matched: dict[int, int] = {}
    for g in groups:
        df_g = max(df.get(t, 0) for t in g)
        if df_g == 0:
            continue
        idf = float(bm25.idf_np(float(df_g), float(n_docs)))
        for d in docs:
            tf_g = sum(tf.get((d, t), 0) for t in g)
            if tf_g:
                s = float(bm25.score_np(
                    np.array([float(tf_g)]), idf,
                    np.array([float(dl[d])]), avgdl,
                )[0])
                scores[d] = scores.get(d, 0.0) + s
                matched[d] = matched.get(d, 0) + 1
    if mode == "conjunctive":
        scores = {d: s for d, s in scores.items() if matched[d] == len(groups)}
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, s) for d, s in ranked]


@pytest.mark.parametrize("mode", ["conjunctive", "disjunctive"])
def test_synonym_matches_bruteforce(reader, duck, mode):
    groups = [["the", "a"], ["dup"]]
    got = search_synonym(reader, groups, mode=mode, k=10)
    exp = _brute_synonym(duck, reader, groups, mode, 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert np.allclose([s for _, s in got], [s for _, s in exp])


def test_synonym_single_singleton_group_is_plain_term(reader):
    assert search_synonym(reader, [["dup"]], mode="conjunctive", k=10) == (
        search_topk(reader, ["dup"], mode="conjunctive", k=10)
    )


def test_synonym_differs_from_plain_or(reader):
    """The whole point: a synonym group is NOT an OR of the members —
    tf-sum + max-df scoring changes the ranking function."""
    syn = dict(search_synonym(reader, [["the", "dup"]], k=10))
    plain = dict(search_topk(reader, ["the", "dup"], mode="disjunctive", k=10))
    overlap = set(syn) & set(plain)
    assert overlap
    assert any(abs(syn[d] - plain[d]) > 1e-9 for d in overlap)


def test_synonym_unknown_member_group_conjunctive_empty(reader):
    assert search_synonym(reader, [["zzz_nope"]], mode="conjunctive") == []
    got = search_synonym(
        reader, [["zzz_nope"], ["dup"]], mode="disjunctive", k=5
    )
    assert got == search_topk(reader, ["dup"], mode="conjunctive", k=5)


# ------------------------------------------------- grammar + explain (A45)


def test_synonym_grammar_routes_to_synonym_query(reader):
    assert search(reader, "the|a AND dup", k=10) == search_synonym(
        reader, [["the", "a"], ["dup"]], mode="conjunctive", k=10
    )
    assert search(reader, "the|a OR dup", k=10) == search_synonym(
        reader, [["the", "a"], ["dup"]], mode="disjunctive", k=10
    )
    # NOT-side groups flatten to a plain exclusion union
    assert search(reader, "the NOT join|hash", k=10) == search_topk(
        reader, ["the"], mode="conjunctive", k=10, exclude=["join", "hash"]
    )


def test_synonym_grammar_rejects_bad_combos(reader):
    with pytest.raises(ValueError, match="boosts"):
        search(reader, "the|a dup^2", k=5)
    with pytest.raises(ValueError, match="wildcards"):
        search(reader, "the|d* dup", k=5)
    with pytest.raises(ValueError, match="empty synonym"):
        search(reader, "| dup", k=5)
    # a trailing '|' merely collapses to the plain term
    assert search(reader, "the| dup", k=5) == search(reader, "the dup", k=5)


def test_explain_reconstructs_scores(reader):
    from miru_spark.plans.search import explain

    for mode in ("conjunctive", "disjunctive"):
        hits = search_topk(reader, ["the", "dup"], mode=mode, k=5)
        for d, s in hits:
            ex = explain(reader, ["the", "dup"], d, mode=mode)
            assert ex["matches"] and not ex["deleted"]
            assert abs(ex["score"] - s) < 1e-9
            assert abs(
                sum(t["contribution"] for t in ex["details"] if t["matched"])
                - s
            ) < 1e-9


def test_explain_boost_and_nonmatch(reader):
    from miru_spark.plans.search import explain

    hits = search_topk(
        reader, ["the", "dup"], mode="conjunctive", k=3, boosts={"dup": 2.0}
    )
    d, s = hits[0]
    ex = explain(reader, ["the", "dup"], d, boosts={"dup": 2.0})
    assert abs(ex["score"] - s) < 1e-9
    dup = next(t for t in ex["details"] if t["term"] == "dup")
    assert dup["boost"] == 2.0
    # boosted contribution = boost * idf * tf-part; idf reported unboosted
    assert abs(
        dup["contribution"]
        - dup["boost"] * dup["idf"] * dup["tf"] * (1.2 + 1) / dup["norm"]
    ) < 1e-9
    # conjunctive non-match: doc matching only 'the'
    only_the = set(
        d for d, _ in search_topk(reader, ["the"], k=10_000)
    ) - set(d for d, _ in search_topk(reader, ["dup"], k=10_000))
    if only_the:
        ex = explain(reader, ["the", "dup"], min(only_the), mode="conjunctive")
        assert not ex["matches"] and ex["score"] == 0.0
        reasons = {t["term"]: t for t in ex["details"]}
        assert reasons["dup"]["reason"] == "no posting for doc"
    ex = explain(reader, ["zzz_nope"], 0)
    assert not ex["matches"]
    assert ex["details"][0]["reason"] == "term not in index"


# ------------------------------------------------ field stats + term vector


def test_field_stats_matches_bruteforce(reader):
    from miru_spark.plans.search import search_field_stats

    row = search_field_stats(
        reader, ["the", "a"], mode="conjunctive", col="doc_len"
    ).collect()[0]
    cand = set(_candidate_ids(reader, ["the", "a"], "conjunctive"))
    lens = [
        r["doc_len"]
        for r in reader.docmap_df().select("doc_id", "doc_len").collect()
        if r["doc_id"] in cand
    ]
    assert row["n_docs"] == len(lens)
    assert row["min_v"] == min(lens) and row["max_v"] == max(lens)
    assert row["sum_v"] == sum(lens)
    assert abs(row["avg_v"] - round(sum(lens) / len(lens), 6)) < 1e-9


def test_term_vector_matches_corpus(spark, duck):
    from miru_spark.plans.search import term_vector
    from miru_spark.schema import read_corpus

    corpus = read_corpus(spark, "/root/testdata/sf0.001")
    got = [
        (r["term"], r["tf"], r["first_pos"])
        for r in term_vector(corpus, 42).collect()
    ]
    (text,) = duck.execute(
        "SELECT text FROM documents WHERE doc_id = 42"
    ).fetchone()
    toks = [t for t in text.split(" ") if t]
    exp = sorted(
        (t, toks.count(t), toks.index(t)) for t in set(toks)
    )
    assert got == exp
    # tf sums to doc_len
    assert sum(tf for _, tf, _ in got) == len(toks)


def test_highlight_wraps_terms(spark):
    from miru_spark.plans.search import snippets_for_hits
    from miru_spark.schema import read_corpus

    corpus = read_corpus(spark, "/root/testdata/sf0.001")
    plain = {
        r["doc_id"]: r["snippet"]
        for r in snippets_for_hits(corpus, [1, 2, 3], ["the", "dup"]).collect()
    }
    marked = {
        r["doc_id"]: r["snippet"]
        for r in snippets_for_hits(
            corpus, [1, 2, 3], ["the", "dup"], mark=("<em>", "</em>")
        ).collect()
    }
    for d, snip in plain.items():
        exp = " ".join(
            f"<em>{t}</em>" if t in ("the", "dup") else t
            for t in snip.split(" ")
        ) if snip else ""
        assert marked[d] == exp


# ---- A66 composite aggregation (ES composite: paginated buckets) -----------


def test_composite_pages_tile_full_buckets(reader):
    from miru_spark.plans.search import search_facets_composite

    full = [
        (r["lang"], r["repo"], int(r["n_docs"]))
        for r in search_facets_composite(
            reader, ["the"], "disjunctive", sources=("lang", "repo"),
            size=10**6,
        ).collect()
    ]
    assert full == sorted(full)
    pages, cursor = [], None
    while True:
        page = [
            (r["lang"], r["repo"], int(r["n_docs"]))
            for r in search_facets_composite(
                reader, ["the"], "disjunctive", sources=("lang", "repo"),
                size=3, after=cursor,
            ).collect()
        ]
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1][0], page[-1][1])
    assert pages == full
    assert len(full) > 3  # multiple pages genuinely exercised


def test_composite_matches_duck(reader, duck):
    from miru_spark.plans.relational import facet_composite_oracle_sql
    from miru_spark.plans.search import search_facets_composite

    p1 = search_facets_composite(
        reader, ["the", "a"], "conjunctive", sources=("lang", "repo"), size=4
    ).collect()
    cursor = (p1[-1]["lang"], p1[-1]["repo"])
    got = [
        (r["lang"], r["repo"], int(r["n_docs"]))
        for r in search_facets_composite(
            reader, ["the", "a"], "conjunctive", sources=("lang", "repo"),
            size=4, after=cursor,
        ).collect()
    ]
    exp = duck.execute(
        facet_composite_oracle_sql(
            ["the", "a"], "conjunctive", sources=("lang", "repo"), size=4,
            after=cursor,
        )
    ).fetchall()
    assert got == [(l, r, int(n)) for l, r, n in exp]
    assert got


def test_composite_validation(reader):
    import pytest as _pytest

    from miru_spark.plans.search import search_facets_composite

    with _pytest.raises(ValueError):
        search_facets_composite(reader, ["the"], sources=())
    with _pytest.raises(ValueError):
        search_facets_composite(
            reader, ["the"], sources=("lang", "repo"), after=("en",)
        )


# ---- A78 pinned query (ES pinned / promoted results) -----------------------


def test_pinned_matches_oracle(reader, duck):
    from miru_spark.plans.relational import bm25_pinned_oracle_sql
    from miru_spark.plans.search import search_pinned

    for terms, pins, mode in [(["join", "hash"], [400, 7], "conjunctive"),
                              (["the"], [3], "disjunctive"),
                              (["zzz_missing"], [1, 2], "disjunctive")]:
        got = search_pinned(reader, terms, pins, mode=mode, k=10)
        exp = duck.execute(
            bm25_pinned_oracle_sql(terms, pins, mode, k=10)
        ).fetchall()
        assert got == [(int(d), float(s)) for d, s in exp]


def test_pinned_semantics(reader):
    from miru_spark.plans.search import search_pinned, search_topk

    pins = [42, 7]
    res = search_pinned(reader, ["the", "a"], pins, mode="conjunctive", k=10)
    # pins first, in the given order, above every organic score
    assert [d for d, _ in res[:2]] == pins
    assert res[0][1] > res[1][1] > res[2][1]
    # organic tail == standard ranking minus the pinned ids
    organic = [d for d, _ in search_topk(
        reader, ["the", "a"], mode="conjunctive", k=12) if d not in set(pins)]
    assert [d for d, _ in res[2:]] == organic[:8]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        search_pinned(reader, ["the"], [], k=5)


def test_pinned_tombstoned_pin_never_resurrects(spark, duck, tmp_path_factory):
    """delete_docs on a pinned id: the engine skips it and renumbers pin
    positions; the oracle twin carries the same deleted_ids semantics."""
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index, delete_docs
    from miru_spark.plans.relational import bm25_pinned_oracle_sql
    from miru_spark.plans.search import search_pinned
    from miru_spark.schema import read_corpus
    from tests.conftest import SF_DIR

    p = str(tmp_path_factory.mktemp("pintomb") / "idx")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=4)
    delete_docs(p, [400])
    reader = IndexReader(spark, p)
    got = search_pinned(reader, ["join", "hash"], [400, 7],
                        mode="conjunctive", k=10)
    exp = duck.execute(
        bm25_pinned_oracle_sql(["join", "hash"], [400, 7], "conjunctive",
                               k=10, deleted_ids=[400])
    ).fetchall()
    assert got == [(int(d), float(s)) for d, s in exp]
    # 400 is gone, 7 was renumbered to position 0 (the full 1e9 score)
    assert got[0] == (7, 1e9)
    assert all(d != 400 for d, _ in got)


# ---- A107 variable_width_histogram (deterministic largest-gaps pinning) -----


def test_vw_histogram_matches_duck_and_bruteforce(reader, duck):
    from miru_spark.plans.relational import (
        variable_width_histogram_oracle_sql,
    )
    from miru_spark.plans.search import (
        search_sorted,
        search_variable_width_histogram,
    )

    terms, mode = ["the", "a"], "conjunctive"
    vals = sorted(
        r.doc_len
        for r in search_sorted(reader, terms, mode=mode, k=1 << 30,
                               ascending=True).collect()
    )
    for buckets in (1, 3, 5):
        got = [
            (r.min_v, r.max_v, r.n_docs)
            for r in search_variable_width_histogram(
                reader, terms, mode=mode, buckets=buckets
            ).collect()
        ]
        exp = duck.execute(
            variable_width_histogram_oracle_sql(terms, mode, buckets)
        ).fetchall()
        assert got == [tuple(r) for r in exp]
        # bruteforce: split sorted distinct values at the buckets-1 widest
        # gaps (gap desc, value asc)
        dv = sorted(set(vals))
        gaps = sorted(
            ((dv[i] - dv[i - 1], dv[i]) for i in range(1, len(dv))),
            key=lambda t: (-t[0], t[1]),
        )[: buckets - 1]
        bounds = sorted(v for _, v in gaps)
        import bisect

        by_bucket = {}
        for v in vals:
            by_bucket.setdefault(bisect.bisect_right(bounds, v), []).append(v)
        want = sorted(
            (min(vs), max(vs), len(vs)) for vs in by_bucket.values()
        )
        assert got == want
        assert len(got) == min(buckets, len(dv))
        # buckets tile the candidate set and never overlap
        assert sum(n for _, _, n in got) == len(vals)
        for (a_min, a_max, _), (b_min, b_max, _) in zip(got, got[1:]):
            assert a_max < b_min


def test_vw_histogram_validation(reader):
    from miru_spark.plans.search import search_variable_width_histogram

    with pytest.raises(ValueError, match="buckets"):
        search_variable_width_histogram(reader, ["the"], buckets=0)


# ---- A109 bucket_sort (metric-ordered from/size bucket pages) ----------------


def test_bucket_sort_matches_duck_and_bruteforce(reader, duck):
    from miru_spark.plans.relational import bucket_sort_oracle_sql
    from miru_spark.plans.search import search_bucket_sort

    terms, mode, width = ["the", "a"], "conjunctive", 10
    base = sorted(
        (r.bin_lo, r.n_docs)
        for r in search_facets_histogram(
            reader, terms, mode=mode, width=width
        ).collect()
    )
    for desc, frm, size in [(True, 0, 3), (True, 1, 3), (False, 0, 2),
                            (True, 0, 100)]:
        got = [
            (r.bin_lo, r.n_docs)
            for r in search_bucket_sort(
                reader, terms, mode=mode, width=width,
                descending=desc, frm=frm, size=size,
            ).collect()
        ]
        exp = duck.execute(
            bucket_sort_oracle_sql(terms, mode, width=width,
                                   descending=desc, frm=frm, size=size)
        ).fetchall()
        assert sorted(got) == sorted(tuple(r) for r in exp), (desc, frm, size)
        want = sorted(
            base, key=lambda t: ((-t[1], t[0]) if desc else (t[1], t[0]))
        )[frm:frm + size]
        assert got == want, (desc, frm, size)


def test_bucket_sort_validation(reader):
    from miru_spark.plans.search import search_bucket_sort

    with pytest.raises(ValueError, match="by"):
        search_bucket_sort(reader, ["the"], by="mov_avg")
    with pytest.raises(ValueError, match="frm"):
        search_bucket_sort(reader, ["the"], frm=-1)
