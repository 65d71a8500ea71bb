"""A36 — multi-field scored search (Elasticsearch ``most_fields``
multi-match / Lucene multi-field query over per-field indexes).

Each field is its own index over the same corpus and doc_id space
(content tokens, path tokens, ...), with its OWN corpus statistics
(df_f, avgdl_f) — exactly Lucene's per-field inverted index. A query
scores ``score(d) = sum_f w_f * BM25_f(q, d)``:

* ``disjunctive`` — a doc matches if any query term occurs in any field
  (``most_fields`` with ``operator OR``).
* ``conjunctive`` — every query term must occur in at least ONE of the
  fields (``most_fields`` with ``operator AND``); the score still sums
  every field's contribution.

This is the code-search shape: filename/path tokens get a higher weight
than body tokens (``weights={"path": 3.0, "content": 1.0}``), so a doc
whose NAME matches the query outranks a doc that merely mentions it.

Scale notes: per-field indexes are independent builds over the same
corpus (one extra content shuffle each, embarrassingly parallel across
fields); the driver serving path touches only the query terms' pruned
chunk rows per field (same bounded cost as single-field serving times
n_fields); the distributed plan unions per-field scored contributions
and keeps one hash aggregation — conjunctive match counting uses
count(DISTINCT term) so a term matching in BOTH fields counts once.
"""

from __future__ import annotations

import json
import os
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.functions import bm25
from miru_spark.index.reader import IndexReader
from miru_spark.plans.search import (
    _contribs,
    _drop_tombstones,
    _field_contribs,
    _ranked,
    _sum_by_doc,
    _top_k,
    _where_ids,
    _with_tombstones,
)
from miru_spark.session import local_frame


def default_field_exprs() -> dict:
    """The code-search default: body tokens + path tokens (path segments
    split on /._- so ``doc_00007.txt`` serves ``doc``, ``00007``, ``txt``)."""
    return {
        "content": F.col("content"),
        "path": F.regexp_replace(F.col("path"), r"[/._\-]+", " "),
    }


def build_multifield_index(
    spark: SparkSession,
    corpus: DataFrame,
    base_path: str,
    fields: dict | None = None,
    num_partitions: int = 8,
    **build_kw,
) -> dict:
    """Build one index per field under ``base_path/field=NAME``. Every
    field index shares the corpus's doc_id space (the corpus must carry
    doc_ids; each per-field build only swaps the text expression)."""
    from miru_spark.index.writer import build_index

    fields = fields or default_field_exprs()
    stats = {}
    for fname, expr in fields.items():
        stats[fname] = build_index(
            spark,
            corpus.withColumn("content", expr),
            f"{base_path}/field={fname}",
            num_partitions=num_partitions,
            **build_kw,
        )
    with open(f"{base_path}/fields.json", "w") as f:
        json.dump({"fields": sorted(fields)}, f)
    return stats


def open_field_readers(
    spark: SparkSession, base_path: str
) -> dict[str, IndexReader]:
    with open(f"{base_path}/fields.json") as f:
        names = json.load(f)["fields"]
    return {
        n: IndexReader(spark, os.path.join(base_path, f"field={n}"))
        for n in names
    }


def _norm_weights(readers: dict, weights: dict | None) -> dict[str, float]:
    weights = dict(weights or {})
    unknown = set(weights) - set(readers)
    if unknown:
        raise ValueError(f"weights for unknown fields {sorted(unknown)}")
    out = {n: float(weights.get(n, 1.0)) for n in readers}
    if any(w < 0 for w in out.values()):
        raise ValueError("field weights must be >= 0")
    return out


def search_fields(
    readers: dict[str, IndexReader],
    terms: list[str],
    weights: dict | None = None,
    mode: str = "disjunctive",
    k: int = 10,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Driver fast path: per-field pruned chunk fetch + vectorized decode,
    weighted-sum combine, top-k by (-score, doc_id).

    ``where`` filters on the docmap (identical across fields — same
    corpus); tombstones are the union across field indexes (deletes are
    expected to be applied to every field, but a half-applied delete must
    still never serve the doc).
    """
    if mode not in ("disjunctive", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    w = _norm_weights(readers, weights)

    acc_ids: list[np.ndarray] = []
    acc_scores: list[np.ndarray] = []
    per_term: dict[str, list[np.ndarray]] = {}
    excl: np.ndarray | None = None
    for fname, reader in readers.items():
        excl = _with_tombstones(reader, excl)
        if w[fname] == 0.0:
            continue
        tps = reader.fetch_terms(terms)
        for t in terms:
            if t not in tps:
                continue
            ids, tfs, dls = reader.decode_term(tps[t])
            acc_ids.append(ids)
            acc_scores.append(
                bm25.score_np(tfs, tps[t].idf, dls, reader.avgdl) * w[fname]
            )
            per_term.setdefault(t, []).append(ids)
    if mode == "conjunctive" and len(per_term) < len(terms):
        return []  # some term occurs in no field
    if not acc_ids:
        return []
    uids, agg, _ = _sum_by_doc(np.concatenate(acc_ids), np.concatenate(acc_scores))
    keep = np.ones(uids.size, dtype=bool)
    if mode == "conjunctive":
        for t in terms:
            tids = np.unique(np.concatenate(per_term[t]))
            keep &= np.isin(uids, tids, assume_unique=True)
    if excl is not None and excl.size:
        keep &= ~np.isin(uids, excl, assume_unique=True)
    if where:
        incl = next(iter(readers.values())).filter_doc_ids(where)
        keep &= np.isin(uids, incl, assume_unique=True)
    return _top_k(uids[keep], agg[keep], k)


def search_fields_cross(
    readers: dict[str, IndexReader],
    terms: list[str],
    weights: dict | None = None,
    mode: str = "disjunctive",
    k: int = 10,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """A74 — multi_match ``type=cross_fields`` (ES BlendedTermQuery):
    TERM-centric field blending, the third multi_match type beside
    most_fields (A36, field sums) and best_fields (A51, field dis-max).

    Per term t: the document frequency is BLENDED across fields —
    df_blend(t) = max_f df_f(t) — so every field's subquery shares ONE idf
    (computed against n_blend = max_f n_docs_f), killing the per-field idf
    skew that makes rare-in-one-field terms dominate; the term's
    contribution for a doc is the MAX weighted per-field BM25 (the
    BlendedTermQuery dis-max rewrite), and the doc's score sums term
    contributions. Matching is term-centric: conjunctive requires every
    term in SOME field — 'john smith' over (first, last) name fields
    matches john in one field + smith in the other, the document both
    most_fields/AND and best_fields/AND reject."""
    if mode not in ("disjunctive", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    w = _norm_weights(readers, weights)
    n_blend = float(max(r.n_docs for r in readers.values()))
    excl: np.ndarray | None = None
    fetched = {}
    for fname, reader in readers.items():
        excl = _with_tombstones(reader, excl)
        if w[fname] != 0.0:
            fetched[fname] = reader.fetch_terms(terms)
    term_ids: list[np.ndarray] = []
    term_scores: list[np.ndarray] = []
    per_term_sets: dict[str, np.ndarray] = {}
    for t in terms:
        dfs = [
            fetched[f][t].df for f in fetched if t in fetched[f]
        ]
        if not dfs:
            if mode == "conjunctive":
                return []
            continue
        idf = float(bm25.idf_np(max(dfs), n_blend))
        ids_l, s_l = [], []
        for fname, tps in fetched.items():
            if t not in tps:
                continue
            reader = readers[fname]
            ids, tfs, dls = reader.decode_term(tps[t])
            ids_l.append(ids)
            s_l.append(
                bm25.score_np(tfs, idf, dls, reader.avgdl) * w[fname]
            )
        uids_t, inv = np.unique(np.concatenate(ids_l), return_inverse=True)
        mx = np.zeros(uids_t.size)
        np.maximum.at(mx, inv, np.concatenate(s_l))  # scores are >= 0
        term_ids.append(uids_t)
        term_scores.append(mx)
        per_term_sets[t] = uids_t
    if not term_ids:
        return []
    uids, agg, _ = _sum_by_doc(
        np.concatenate(term_ids), np.concatenate(term_scores)
    )
    keep = np.ones(uids.size, dtype=bool)
    if mode == "conjunctive":
        for t in terms:
            keep &= np.isin(uids, per_term_sets[t], assume_unique=True)
    if excl is not None and excl.size:
        keep &= ~np.isin(uids, excl, assume_unique=True)
    if where:
        incl = next(iter(readers.values())).filter_doc_ids(where)
        keep &= np.isin(uids, incl, assume_unique=True)
    return _top_k(uids[keep], agg[keep], k)


def search_fields_combined(
    readers: dict[str, IndexReader],
    terms: list[str],
    weights: dict | None = None,
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> DataFrame:
    """A91 — multi_match ``type=combined_fields`` (ES combined_fields /
    Lucene CombinedFieldQuery): the principled BM25F-style completion of
    the multi_match family. The fields merge into ONE synthetic field —

        tf_c(d,t)  = sum_f w_f * tf_f(d,t)
        dl_c(d)    = sum_f w_f * dl_f(d)
        avgdl_c    = sum_f w_f * avgdl_f     (linearity: every field
                                              indexes the full corpus)
        df_c(t)    = max_f df_f(t)           (blended, as BlendedTerm)

    — then plain BM25 over the combined statistics. The semantic
    difference vs cross_fields (A74): ONE tf saturation over the summed
    occurrences, so a term hit in two weak fields can outscore one strong
    field hit, where cross_fields' per-field dis-max cannot.

    Plan (cluster path, the natural shape for per-doc cross-field sums):
    per-field pruned chunk scans -> mapInArrow decode to (doc_id, term,
    w_f*tf) -> one hash agg to tf_c -> join the candidates' combined
    doc_len (per-field docmap projections, weighted union-sum, semi-joined
    to candidates before the agg) -> per-(doc,term) BM25 as a codegen
    expression with the blended idf broadcast as a literal map -> one
    hash agg per doc (+ distinct-term count for conjunctive) ->
    TakeOrderedAndProject. df/idf come from the per-field term
    dictionaries driver-side (pyarrow seeks, no Spark job)."""
    if mode not in ("disjunctive", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    w = _norm_weights(readers, weights)
    first = next(iter(readers.values()))
    spark = first.spark
    n_docs = float(first.n_docs)
    empty = local_frame(spark, "doc_id long, score double")

    # blended df + combined avgdl, driver-side (dictionary seeks + stats)
    dfc: dict[str, float] = {}
    for fname, reader in readers.items():
        if w[fname] == 0.0:
            continue
        for t, d in reader.term_dfs(terms).items():
            dfc[t] = max(dfc.get(t, 0.0), float(d))
    if mode == "conjunctive" and len(dfc) < len(terms):
        return empty
    if not dfc:
        return empty
    avgdl_c = sum(
        w[f] * float(r.avgdl) for f, r in readers.items() if w[f] != 0.0
    )

    parts = [
        _contribs(
            reader.postings_df(terms), n_docs, float(reader.avgdl),
            weight=w[fname], emit_term=True, raw_tf=True, value_name="wtf",
        )
        for fname, reader in readers.items()
        if w[fname] != 0.0
    ]
    tfc = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("doc_id", "term")
        .agg(F.sum("wtf").alias("tfc"))
    )

    # combined doc_len of the candidate docs: weighted union-sum of the
    # per-field docmap projections, semi-joined to candidates first so the
    # agg carries candidates only (each projection is a narrow two-column
    # docmap scan — the same cost family as a metadata-filtered search)
    cand = tfc.select("doc_id").distinct()
    dl_parts = []
    for fname, reader in readers.items():
        if w[fname] == 0.0:
            continue
        dl_parts.append(
            reader.docmap_df()
            .select("doc_id", (F.col("doc_len") * w[fname]).alias("wdl"))
            .join(cand, "doc_id", "left_semi")
        )
    dlc = (
        reduce(lambda a, b: a.unionByName(b), dl_parts)
        .groupBy("doc_id")
        .agg(F.sum("wdl").alias("dlc"))
    )

    idf_pairs = []
    for t, d in dfc.items():
        idf_pairs.extend(
            [F.lit(t), F.lit(float(bm25.idf_np(d, n_docs)))]
        )
    idf_col = F.create_map(*idf_pairs)[F.col("term")]
    tfcol = F.col("tfc")
    contrib = (
        idf_col
        * tfcol
        * F.lit(bm25.K1 + 1.0)
        / (
            tfcol
            + F.lit(bm25.K1)
            * (
                F.lit(1.0 - bm25.B)
                + F.lit(bm25.B) * F.col("dlc") / F.lit(avgdl_c)
            )
        )
    )
    scored = tfc.join(dlc, "doc_id").select(
        "doc_id", "term", contrib.alias("s")
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("s").alias("score"), F.count("*").alias("nmatch")
    )
    if mode == "conjunctive":
        agg = agg.filter(F.col("nmatch") == len(terms))
    if where:
        agg = agg.join(_where_ids(first, where), "doc_id", "left_semi")
    # tombstones union across fields (a delete applied to any field index
    # kills the doc, matching search_fields_distributed)
    for reader in readers.values():
        agg = _drop_tombstones(reader, agg)
    return _ranked(agg, k, round_digits)


def search_fields_distributed(
    readers: dict[str, IndexReader],
    terms: list[str],
    weights: dict | None = None,
    mode: str = "disjunctive",
    k: int | None = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> DataFrame:
    """Cluster path: per-field pruned postings scans -> mapInArrow
    decode+score (weighted) -> UNION -> one hash agg by doc_id.
    Conjunctive counts DISTINCT matched terms across fields, so a term
    present in several fields satisfies the requirement once. Tombstones
    are the union across field indexes."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    w = _norm_weights(readers, weights)

    first = next(iter(readers.values()))
    scored = _field_contribs(readers, terms, w, tag_fields=False)
    if scored is None:
        return local_frame(first.spark, "doc_id long, score double")
    if where:
        scored = scored.join(_where_ids(first, where), "doc_id", "left_semi")
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"),
        F.countDistinct("term").alias("nterm"),
    )
    if mode == "conjunctive":
        agg = agg.filter(F.col("nterm") == len(terms))
    for reader in readers.values():
        agg = _drop_tombstones(reader, agg)
    return _ranked(agg, k, round_digits)
