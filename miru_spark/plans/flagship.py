"""The flagship end-to-end query used by ``entry()``.

Builds the binary inverted index on the given corpus (varint-compressed
blocked posting lists, salted merge) and serves one block-max WAND BM25
search, joining the top-k back to the docmap: the complete SURVEY.md
section 3.1 + 3.2 lifecycle in one call.

Indexes are built into a per-process temp dir and cached per (sf_dir,
session) so repeated driver calls don't rebuild.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.index.reader import IndexReader
from miru_spark.index.writer import build_index, read_manifest
from miru_spark.schema import read_corpus
from miru_spark.session import local_frame

FLAGSHIP_TERMS = ["join", "hash"]

_CACHE: dict[str, IndexReader] = {}


def ensure_index(
    spark: SparkSession, sf_dir: str, num_partitions: int = 8, positions: bool = True
) -> IndexReader:
    """Driver-shared index; positional by default so phrase entries are
    served from the same build as every other index entry."""
    key = f"{sf_dir}|{num_partitions}|{positions}"
    if key in _CACHE:
        return _CACHE[key]
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"miru_idx_{os.getpid()}_{digest}")
    if read_manifest(path) is None:
        build_index(
            spark,
            read_corpus(spark, sf_dir),
            path,
            num_partitions=num_partitions,
            positions=positions,
        )
    reader = IndexReader(spark, path)
    _CACHE[key] = reader
    return reader


def flagship_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from miru_spark.plans.search import search_topk

    reader = ensure_index(spark, sf_dir)
    topk = search_topk(reader, FLAGSHIP_TERMS, mode="conjunctive", k=10)
    hits = local_frame(
        spark,
        "doc_id long, score double",
        [[int(d) for d, _ in topk], [round(float(s), 6) for _, s in topk]],
    )
    docmeta = reader.docmap_df().select("doc_id", "repo", "path", "commit")
    return (
        F.broadcast(hits)
        .join(docmeta, "doc_id")
        .select("doc_id", "repo", "path", "commit", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
