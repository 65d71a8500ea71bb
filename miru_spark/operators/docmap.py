"""A2 — document normalization: doc_id, content_sha256, doc_len.

All JVM built-ins (whole-stage codegen): ``sha2`` for the per-row invariant
pinned by BASELINE.json's input_hint ("content sha256 equality"), token count
via the shared tokenizer column. No Python worker in this stage.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miru_spark.functions.tokenize import tokens_col
from miru_spark.schema import assign_doc_ids


@F.pandas_udf(T.StringType())
def sha256_udf(content: pd.Series) -> pd.Series:
    """Arrow-vectorized sha256 (OpenSSL via hashlib).

    Deliberately NOT Spark's JVM ``sha2``: java.security's synchronized
    provider lookups serialize badly at high task parallelism (measured in
    this sandbox: 50M hashes 2.4s at local[8] -> 14.5s at local[32]), while
    hashlib in Arrow-batched Python workers scales linearly across worker
    processes. Output is identical lowercase hex (cross-checked against
    ``F.sha2`` in tests).
    """
    return content.map(lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest())


def normalize_corpus(corpus: DataFrame, tokenizer: str = "whitespace") -> DataFrame:
    """corpus(+doc_id?) -> (doc_id, repo, path, commit, lang, content,
    content_sha256, tokens, doc_len)."""
    out = assign_doc_ids(corpus)
    toks = tokens_col("content", tokenizer)
    return out.withColumn("content_sha256", sha256_udf(F.col("content"))).withColumn(
        "tokens", toks
    ).withColumn("doc_len", F.size("tokens").cast("long"))


def docmap_direct(corpus_with_ids: DataFrame, tokenizer: str = "whitespace") -> DataFrame:
    """Docmap straight from the corpus — sha256 in Arrow workers, token count
    via a single regexp_count (no token-array materialization). The cheap
    second pass of the build (SURVEY.md section 3.1)."""
    from miru_spark.functions.tokenize import doc_len_col

    return corpus_with_ids.select(
        "doc_id",
        "repo",
        "path",
        "commit",
        "lang",
        sha256_udf(F.col("content")).alias("content_sha256"),
        doc_len_col("content", tokenizer).alias("doc_len"),
    )
