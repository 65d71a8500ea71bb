"""A55 — significant terms aggregation (Elasticsearch
``significant_terms``): which terms are OVERREPRESENTED in the query's
result set relative to the whole corpus — "what is this result set
about" (error-log clustering, topic drill-down, query expansion seeds).

Scoring is ES's default JLH heuristic::

    fg_rate = fg_count / fg_size      (candidate docs containing t)
    bg_rate = bg_count / bg_size      (global df(t) / n_docs)
    jlh     = (fg_rate - bg_rate) * (fg_rate / bg_rate)

— the product of the absolute lift and the relative lift, 0 when the
term is not overrepresented. Query terms themselves are excluded (they
are trivially significant — ES behavior with the default background).

Plan shape: the candidate set comes from the standard distributed scan;
the foreground counts come from ONE distinct-(doc_id, term) projection
of the corpus semi-joined against the candidates (the semi-join prunes
the explode output before the term aggregation); the background counts
are a broadcast-sized read of the index's term dictionary (term, df) —
no second corpus pass. Two shuffles total (semi-join + term agg), both
map-side combined; fg_size is one scalar count off the (reused)
candidate plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.index.reader import IndexReader
from miru_spark.session import local_frame


def significant_terms(
    reader: IndexReader,
    corpus: DataFrame,
    terms: list[str],
    mode: str = "disjunctive",
    top_n: int = 10,
    min_doc_count: int = 3,
    tokenizer: str = "whitespace",
    round_digits: int = 6,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """(term, fg_count, bg_count, score) — top_n by (jlh desc, term)."""
    from miru_spark.functions.tokenize import tokens_col
    from miru_spark.plans.search import _candidates

    if top_n <= 0 or min_doc_count < 1:
        raise ValueError("top_n must be positive and min_doc_count >= 1")
    cand = _candidates(reader, terms, mode, exclude, where)
    fg_size = cand.count()
    if fg_size == 0:
        return local_frame(
            reader.spark, "term string, fg_count long, bg_count long, score double"
        )
    doc_terms = (
        corpus.select(
            "doc_id", F.explode(tokens_col("content", tokenizer)).alias("term")
        )
        .distinct()
        .join(cand, "doc_id", "left_semi")
    )
    fg = doc_terms.groupBy("term").agg(F.count("*").alias("fg_count"))
    bg = reader.df_df().select(
        "term", F.col("df").cast("long").alias("bg_count")
    )
    n_docs = float(reader.n_docs)
    j = fg.join(F.broadcast(bg), "term")
    fg_rate = F.col("fg_count") / float(fg_size)
    bg_rate = F.col("bg_count") / n_docs
    jlh = F.when(
        fg_rate > bg_rate, (fg_rate - bg_rate) * (fg_rate / bg_rate)
    ).otherwise(F.lit(0.0))
    return (
        j.filter(F.col("fg_count") >= int(min_doc_count))
        .filter(~F.col("term").isin(list(terms)))
        .select(
            "term",
            F.col("fg_count").cast("long").alias("fg_count"),
            "bg_count",
            F.round(jlh, round_digits).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(top_n)
    )


def significant_terms_oracle_sql(
    terms: list[str],
    mode: str = "disjunctive",
    top_n: int = 10,
    min_doc_count: int = 3,
    round_digits: int = 6,
    exclude: list[str] | None = None,
) -> str:
    """DuckDB twin: candidate CTE from the standard BM25 oracle, distinct
    (doc_id, term) tokenization, fg/bg counts, JLH."""
    from miru_spark.plans.relational import bm25_oracle_sql

    inner = bm25_oracle_sql(
        terms, mode, k=1 << 30, round_digits=round_digits, exclude=exclude
    )
    not_in = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH scored AS ({inner}),
cand AS (SELECT doc_id FROM scored),
fg_size AS (SELECT count(*)::DOUBLE c FROM cand),
tok2 AS (SELECT DISTINCT doc_id, term
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents)
         WHERE term <> ''),
fgc AS (SELECT term, count(*)::BIGINT fg_count
        FROM tok2 JOIN cand USING (doc_id) GROUP BY 1),
bgc AS (SELECT term, count(*)::BIGINT bg_count FROM tok2 GROUP BY 1),
nd AS (SELECT count(*)::DOUBLE n FROM documents)
SELECT term, fg_count, bg_count,
       round(CASE WHEN fg_count / fg_size.c > bg_count / nd.n
             THEN (fg_count / fg_size.c - bg_count / nd.n)
                  * ((fg_count / fg_size.c) / (bg_count / nd.n))
             ELSE 0.0 END, {round_digits}) AS score
FROM fgc JOIN bgc USING (term), fg_size, nd
WHERE fg_count >= {int(min_doc_count)} AND term NOT IN ({not_in})
ORDER BY score DESC, term LIMIT {top_n}
""".strip()


def rare_terms(
    reader: IndexReader,
    corpus: DataFrame,
    terms: list[str],
    mode: str = "disjunctive",
    max_doc_count: int = 1,
    tokenizer: str = "whitespace",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A83 — rare terms aggregation (Elasticsearch ``rare_terms``): the
    LONG-TAIL bucketer — terms appearing in at most ``max_doc_count`` of
    the candidate docs, ordered count-ascending then term (ES's rare-first
    order). The dual of a size-N terms agg (which can never surface the
    tail: doc-count-descending truncation drops exactly the rare buckets).

    Plan shape is sigterms' foreground half verbatim: candidate scan ->
    ONE distinct-(doc_id, term) corpus projection semi-joined to the
    candidates -> term hash agg -> count filter; both shuffles map-side
    combined, no second corpus pass. ES bounds memory with a CuckooFilter
    and accepts false-negative drops; here the agg is exact — the filtered
    output is at most max_doc_count * |candidates| rows and the agg state
    is the (pruned) vocabulary, both bounded far below the corpus."""
    from miru_spark.functions.tokenize import tokens_col
    from miru_spark.plans.search import _candidates

    if max_doc_count < 1:
        raise ValueError("max_doc_count must be >= 1")
    cand = _candidates(reader, terms, mode, exclude, where)
    doc_terms = (
        corpus.select(
            "doc_id", F.explode(tokens_col("content", tokenizer)).alias("term")
        )
        .distinct()
        .join(cand, "doc_id", "left_semi")
    )
    return (
        doc_terms.groupBy("term")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") <= int(max_doc_count))
        .orderBy(F.asc("n_docs"), F.asc("term"))
    )


def rare_terms_oracle_sql(
    terms: list[str],
    mode: str = "disjunctive",
    max_doc_count: int = 1,
    exclude: list[str] | None = None,
) -> str:
    """DuckDB twin: candidate CTE, distinct (doc_id, term) tokenization,
    count filter at max_doc_count."""
    from miru_spark.plans.relational import bm25_oracle_sql

    inner = bm25_oracle_sql(terms, mode, k=1 << 30, exclude=exclude)
    return f"""
WITH scored AS ({inner}),
cand AS (SELECT doc_id FROM scored),
tok2 AS (SELECT DISTINCT doc_id, term
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents)
         WHERE term <> '')
SELECT term, count(*)::BIGINT AS n_docs
FROM tok2 JOIN cand USING (doc_id)
GROUP BY 1 HAVING count(*) <= {int(max_doc_count)}
ORDER BY n_docs, term
""".strip()
