"""A51 — dis_max / ``best_fields`` multi-field search (Elasticsearch
``multi_match type=best_fields`` / Lucene ``DisjunctionMaxQuery``).

Where ``most_fields`` (plans.multifield, A36) SUMS every field's BM25
contribution, ``best_fields`` takes the single BEST field's score and adds
only ``tie_breaker`` times the rest::

    score(d) = max_f S_f(d) + tie_breaker * (sum_f S_f(d) - max_f S_f(d))

with ``S_f(d) = w_f * BM25_f(q, d)`` over field f's own statistics
(df_f, avgdl_f). ``tie_breaker = 0`` is pure dis_max (Lucene's default),
``tie_breaker = 1`` degrades to exactly ``most_fields``.

Matching is PER FIELD (the ES semantics for best_fields): each field runs
the whole boolean query on its own index, and only fields whose subquery
MATCHES contribute to the max / tie-breaker sum:

* ``disjunctive`` — a field matches a doc if any query term occurs in
  that field; the doc matches if any field does.
* ``conjunctive`` (``operator AND``) — a field matches only if EVERY
  query term occurs in that field; a doc whose terms are scattered
  across fields (path has one, body has the other) does NOT match —
  unlike most_fields-conjunctive, which accepts cross-field coverage.
  This is the exact ES best_fields/AND contrast and the reason
  best_fields is the "one field should contain the whole query" mode.

Scale notes: identical plan skeleton to most_fields — per-field pruned
chunk fetch on the driver path; on the cluster path per-field pruned
postings scans -> mapInArrow decode+score -> union tagged with the field
name -> ONE hash agg by (doc_id, field) for the per-field subquery scores
-> one more (map-side-combinable) agg by doc_id for the max/sum combine.
Both aggs are partial-aggregated before the shuffle and the second runs on
at most n_fields rows per doc, so the extra combine step is noise at any
corpus size.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.functions import bm25
from miru_spark.index.reader import IndexReader
from miru_spark.plans.multifield import _norm_weights
from miru_spark.plans.search import (
    _drop_tombstones,
    _field_contribs,
    _ranked,
    _sum_by_doc,
    _top_k,
    _where_ids,
    _with_tombstones,
)
from miru_spark.session import local_frame


def _check_tb(tie_breaker: float) -> float:
    tb = float(tie_breaker)
    if not 0.0 <= tb <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1]")
    return tb


def search_fields_dismax(
    readers: dict[str, IndexReader],
    terms: list[str],
    weights: dict | None = None,
    tie_breaker: float = 0.0,
    mode: str = "disjunctive",
    k: int = 10,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Driver fast path: per-field pruned fetch + vectorized decode, one
    per-field score array, then a vectorized max/sum combine. Top-k by
    (-score, doc_id)."""
    if mode not in ("disjunctive", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    w = _norm_weights(readers, weights)
    tb = _check_tb(tie_breaker)

    field_ids: list[np.ndarray] = []
    field_scores: list[np.ndarray] = []
    excl: np.ndarray | None = None
    for fname, reader in readers.items():
        excl = _with_tombstones(reader, excl)
        if w[fname] == 0.0:
            continue
        tps = reader.fetch_terms(terms)
        if mode == "conjunctive" and len(tps) < len(terms):
            continue  # this field's AND subquery cannot match any doc
        ids_parts, sc_parts, per_term = [], [], []
        for t in terms:
            if t not in tps:
                continue
            ids, tfs, dls = reader.decode_term(tps[t])
            ids_parts.append(ids)
            per_term.append(ids)
            sc_parts.append(
                bm25.score_np(tfs, tps[t].idf, dls, reader.avgdl) * w[fname]
            )
        if not ids_parts:
            continue
        uids, agg, _ = _sum_by_doc(
            np.concatenate(ids_parts), np.concatenate(sc_parts)
        )
        if mode == "conjunctive":
            keep = np.ones(uids.size, dtype=bool)
            for tids in per_term:
                keep &= np.isin(uids, tids, assume_unique=True)
            uids, agg = uids[keep], agg[keep]
        if uids.size:
            field_ids.append(uids)
            field_scores.append(agg)

    if not field_ids:
        return []
    all_ids = np.concatenate(field_ids)
    all_scores = np.concatenate(field_scores)
    uids, inv = np.unique(all_ids, return_inverse=True)
    ssum = np.zeros(uids.size)
    np.add.at(ssum, inv, all_scores)
    smax = np.zeros(uids.size)
    np.maximum.at(smax, inv, all_scores)
    score = smax + tb * (ssum - smax)

    keep = np.ones(uids.size, dtype=bool)
    if excl is not None and excl.size:
        keep &= ~np.isin(uids, excl, assume_unique=True)
    if where:
        incl = next(iter(readers.values())).filter_doc_ids(where)
        keep &= np.isin(uids, incl, assume_unique=True)
    return _top_k(uids[keep], score[keep], k)


def search_fields_dismax_distributed(
    readers: dict[str, IndexReader],
    terms: list[str],
    weights: dict | None = None,
    tie_breaker: float = 0.0,
    mode: str = "disjunctive",
    k: int | None = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> DataFrame:
    """Cluster path: per-field pruned postings scans -> mapInArrow
    decode+score tagged with the field name -> union -> hash agg by
    (doc_id, field) = per-field subquery score + distinct-term match count
    -> per-field AND filter (conjunctive) -> hash agg by doc_id for the
    max + tie_breaker * rest combine. Both aggs partial-combine map-side.
    Tombstones are the union across field indexes."""
    if mode not in ("disjunctive", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    w = _norm_weights(readers, weights)
    tb = _check_tb(tie_breaker)

    first = next(iter(readers.values()))
    scored = _field_contribs(readers, terms, w, tag_fields=True)
    if scored is None:
        return local_frame(first.spark, "doc_id long, score double")
    if where:
        scored = scored.join(_where_ids(first, where), "doc_id", "left_semi")
    per_field = scored.groupBy("doc_id", "field").agg(
        F.sum("contrib").alias("s_f"),
        F.countDistinct("term").alias("nterm"),
    )
    if mode == "conjunctive":
        per_field = per_field.filter(F.col("nterm") == len(terms))
    combined = per_field.groupBy("doc_id").agg(
        F.max("s_f").alias("mx"), F.sum("s_f").alias("sm")
    )
    score = F.col("mx") + F.lit(tb) * (F.col("sm") - F.col("mx"))
    out = _ranked(combined, None, round_digits, score=score)
    # tombstones after the combine: applied to ``combined``, Catalyst would
    # push the hinted anti-joins below both aggregates into every field's
    # branch of the union, multiplying the joins by the field count
    for reader in readers.values():
        out = _drop_tombstones(reader, out)
    return _ranked(out, k, None)
