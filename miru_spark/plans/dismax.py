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

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miru_spark.functions import bm25
from miru_spark.index.reader import IndexReader
from miru_spark.plans.multifield import _norm_weights


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
    from miru_spark.plans.search import _with_tombstones

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
            ids = ids.astype(np.int64)
            ids_parts.append(ids)
            per_term.append(ids)
            sc_parts.append(
                bm25.score_np(tfs, tps[t].idf, dls, reader.avgdl) * w[fname]
            )
        if not ids_parts:
            continue
        uids, inv = np.unique(np.concatenate(ids_parts), return_inverse=True)
        agg = np.zeros(uids.size)
        np.add.at(agg, inv, np.concatenate(sc_parts))
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
    uids, score = uids[keep], score[keep]
    order = np.lexsort((uids, -score))[:k]
    return [(int(uids[i]), float(score[i])) for i in order]


_DM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("contrib", T.DoubleType()),
    ]
)


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
    max + tie_breaker * rest combine. Both aggs partial-combine map-side."""
    from miru_spark.plans.search import (
        _postings_with_df,
        _where_ids,
        bm25_contrib_gen,
    )

    if mode not in ("disjunctive", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    w = _norm_weights(readers, weights)
    tb = _check_tb(tie_breaker)

    scored_parts = []
    tomb_parts = []
    spark = next(iter(readers.values())).spark
    for fname, reader in readers.items():
        if reader.tombstones_df() is not None:
            tomb_parts.append(reader.tombstones_df())
        if w[fname] == 0.0:
            continue
        n_docs = float(reader.n_docs)
        avgdl = float(reader.avgdl)
        weight = w[fname]
        chunks, _ = _postings_with_df(reader, terms)
        score_chunks = bm25_contrib_gen(
            n_docs, avgdl, weight=weight, emit_term=True, field_tag=fname
        )

        scored_parts.append(chunks.mapInArrow(score_chunks, _DM_SCHEMA))

    if not scored_parts:
        return spark.createDataFrame([], "doc_id long, score double")
    scored = scored_parts[0]
    for p in scored_parts[1:]:
        scored = scored.unionByName(p)
    if where:
        allow = _where_ids(next(iter(readers.values())), where)
        scored = scored.join(allow, "doc_id", "left_semi")
    per_field = scored.groupBy("doc_id", "field").agg(
        F.sum("contrib").alias("s_f"),
        F.countDistinct("term").alias("nterm"),
    )
    if mode == "conjunctive":
        per_field = per_field.filter(F.col("nterm") == len(terms))
    combined = per_field.groupBy("doc_id").agg(
        F.max("s_f").alias("mx"), F.sum("s_f").alias("sm")
    )
    score_col = F.col("mx") + F.lit(tb) * (F.col("sm") - F.col("mx"))
    if round_digits is not None:
        score_col = F.round(score_col, round_digits)
    out = combined.select("doc_id", score_col.alias("score"))
    for tomb in tomb_parts:
        out = out.join(tomb, "doc_id", "left_anti")
    if k is None:
        return out
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
