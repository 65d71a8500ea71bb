"""M0 — exhaustive relational BM25, pure DataFrame ops (SURVEY.md section 7).

This is the engine's permanent self-check twin of the binary-index fast path:
explode -> tf -> df/stats -> BM25 join -> top-k, expressible 1:1 in ANSI SQL
(the DuckDB oracle). Zero custom code paths; every stage is whole-stage
codegen + hash aggregates + one broadcast join of the tiny stats.

Scale notes: the tf aggregation shuffles on (doc_id, term) and df on term —
both partial-aggregated map-side by Spark. ``stats``/``df`` for the handful of
query terms are broadcast. At query time only the q-terms' tf rows survive the
first filter, so the join inputs are small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.functions import bm25
from miru_spark.operators.docmap import normalize_corpus


def check_exclude(terms: list[str], exclude) -> list[str]:
    """Shared NOT-clause validation (used by the relational twin and every
    plans.search serving path): dedupe, reject required∩excluded."""
    exclude = list(dict.fromkeys(exclude or []))
    if set(exclude) & set(terms):
        raise ValueError("a term cannot be both required and excluded")
    return exclude


def term_frequencies(normalized: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — explode tokens, count per (doc, term)."""
    return (
        normalized.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )


def doc_lengths(normalized: DataFrame) -> DataFrame:
    return normalized.select("doc_id", F.col("doc_len").cast("double").alias("dl"))


def corpus_stats(dl: DataFrame) -> DataFrame:
    """Single-row (n_docs, avgdl)."""
    return dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def doc_freq(tf: DataFrame) -> DataFrame:
    return tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))


class CorpusModel:
    """The derived tf/dl/stats/df tables of one corpus — the expensive part
    of every relational BM25 query, computed once and reusable.

    ``persist()`` caches tf and dl (the only corpus-sized tables; stats and
    df are term-cardinality aggregates over them) so a batch of queries pays
    the explode/groupBy shuffle once instead of per query."""

    def __init__(self, corpus: DataFrame, tokenizer: str = "whitespace"):
        norm = normalize_corpus(corpus, tokenizer)
        self.tf = term_frequencies(norm)
        self.dl = doc_lengths(norm)
        self.stats = corpus_stats(self.dl)
        self.df = doc_freq(self.tf)
        self._persisted = False

    def persist(self) -> "CorpusModel":
        if not self._persisted:
            self.tf = self.tf.persist()
            self.dl = self.dl.persist()
            self.tf.count()  # materialize now; dl shares the scan lineage
            self.dl.count()
            self._persisted = True
        return self


def bm25_from_model(
    model: CorpusModel,
    terms: list[str],
    mode: str = "conjunctive",
    k: int | None = 10,
    round_digits: int | None = 6,
    exclude: list[str] | None = None,
) -> DataFrame:
    """Top-k BM25 over a prepared :class:`CorpusModel`.

    Returns (doc_id, score) ordered by score desc, doc_id asc, limit k.
    ``round_digits`` rounds the score BEFORE ordering so that mathematically
    tied docs tie-break identically across engines (oracle parity).
    ``exclude`` drops every doc containing ANY excluded term (boolean NOT):
    an anti-join of the scored docs against the excluded terms' doc sets —
    excluded terms never contribute to scores.
    """
    terms = list(dict.fromkeys(terms))  # dedupe, keep order
    if not terms:
        raise ValueError("empty term list")
    exclude = check_exclude(terms, exclude)
    tf, dl, stats, df = model.tf, model.dl, model.stats, model.df

    qtf = tf.filter(F.col("term").isin(terms))
    scored = (
        qtf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            bm25.score_col(
                F.col("tf"), F.col("df"), F.col("dl"), F.col("n_docs"), F.col("avgdl")
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("nmatch"))
    )
    if mode == "conjunctive":
        scored = scored.filter(F.col("nmatch") == len(terms))
    elif mode != "disjunctive":
        raise ValueError(f"unknown mode {mode!r}")
    if exclude:
        excl_docs = tf.filter(F.col("term").isin(exclude)).select("doc_id")
        scored = scored.join(excl_docs, "doc_id", "left_anti")
    score = (
        F.round(F.col("score"), round_digits)
        if round_digits is not None
        else F.col("score")
    )
    out = scored.select("doc_id", score.alias("score"))
    if k is None:  # unsorted candidate set (internal callers sort once later)
        return out
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_search_relational(
    corpus: DataFrame,
    terms: list[str],
    mode: str = "conjunctive",
    k: int | None = 10,
    tokenizer: str = "whitespace",
    round_digits: int | None = 6,
    exclude: list[str] | None = None,
) -> DataFrame:
    """One-shot form of :func:`bm25_from_model` (model built inline)."""
    return bm25_from_model(
        CorpusModel(corpus, tokenizer), terms, mode=mode, k=k,
        round_digits=round_digits, exclude=exclude,
    )


def bm25_phrase_search(
    corpus: DataFrame,
    phrase: str,
    k: int = 10,
    tokenizer: str = "whitespace",
    round_digits: int = 6,
    model: CorpusModel | None = None,
) -> DataFrame:
    """Exact-phrase search: BM25-rank (by the phrase's terms, conjunctive)
    only the docs that contain the exact token sequence.

    Candidate generation is the conjunctive BM25 path (cheap, index-able);
    the phrase containment check is a token-boundary-safe substring filter
    on the candidates' content — the verify step a positional index would
    replace at scale. SQL-expressible, so oracle-checked.
    """
    from miru_spark.functions.tokenize import tokenize_py, tokens_col

    # run the phrase through the SAME tokenizer as the content: with
    # tokenizer='code' a raw .split() would keep case/punctuation the content
    # tokens never carry, silently matching nothing
    terms = tokenize_py(phrase, tokenizer)
    if not terms:
        raise ValueError("empty phrase")
    needle = " " + " ".join(terms) + " "
    if model is None:
        model = CorpusModel(corpus, tokenizer)
    scored = bm25_from_model(
        model, terms, mode="conjunctive", k=None, round_digits=round_digits
    )
    # verify on the TOKENIZED sequence (not raw text) so the check follows
    # the tokenizer's boundary semantics exactly — '\t'/multi-space/cased
    # content matches iff its token sequence contains the phrase's tokens
    norm_text = F.concat(
        F.lit(" "), F.array_join(tokens_col("content", tokenizer), " "), F.lit(" ")
    )
    matches = corpus.filter(norm_text.contains(needle)).select("doc_id")
    return (
        scored.join(matches, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


def _like_prefix(prefix: str) -> str:
    """A quoted ``LIKE`` pattern matching strings that start with
    ``prefix``: its ``%``/``_`` (and the escape char) match only
    themselves. Use as ``term LIKE {_like_prefix(p)}``."""
    esc = "".join("\\" + c if c in "\\%_" else c for c in prefix)
    return f"'{_sql_quote(esc)}%' ESCAPE '\\'"


# the shared oracle skeleton: tokenize -> tf -> dl -> corpus stats -> df.
# Every BM25 oracle in the repo derives from this block so the tokenization
# convention and the BM25 constants live in ONE place.
def bm25_base_ctes(tok_sql: str) -> str:
    return f"""tok AS ({tok_sql}),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1)"""


# one term-occurrence's BM25 contribution (k1=1.2, b=0.75), in terms of the
# base CTEs' column names
BM25_CONTRIB_EXPR = (
    "ln(1+(stats.n-df.df+0.5)/(df.df+0.5))\n"
    "        * tf.tf*(1.2+1)/(tf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl))"
)


def bm25_phrase_oracle_sql(phrase: str, k: int = 10, round_digits: int = 6) -> str:
    terms = phrase.split()
    if not terms:
        raise ValueError("empty phrase")
    needle = _sql_quote(" " + " ".join(terms) + " ")
    inner = bm25_oracle_sql(terms, "conjunctive", k=1 << 30, round_digits=round_digits)
    return f"""
WITH ranked AS ({inner})
SELECT doc_id, score FROM ranked
WHERE doc_id IN (
  SELECT doc_id FROM documents
  WHERE contains(' ' || array_to_string(list_filter(string_split(text, ' '),
                                                    t -> t <> ''), ' ') || ' ',
                 '{needle}'))
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def phrase_prefix_oracle_sql(
    phrase: str, k: int = 10, round_digits: int = 6, max_expansions: int = 50
) -> str:
    """Twin of plans.search.search_phrase_prefix (A61 — ES
    match_phrase_prefix): fixed tokens consecutive, followed by any term
    extending the last token. Match = substring on the space-normalized
    text; rank = BM25 over the distinct fixed terms + ONE SynonymQuery-
    blended pseudo-term for the expansion slot (tf = summed doc-level tfs
    of the expansions completing the phrase in that doc, idf from the max
    df across all expansions). The phrase is tokenized by the engine's own
    ``tokenize_py`` (whitespace analyzer: split, case kept) and the
    prefix's LIKE metacharacters are escaped."""
    from miru_spark.functions.tokenize import tokenize_py

    toks = tokenize_py(phrase)
    if not toks:
        raise ValueError("empty phrase")
    fixed, prefix = toks[:-1], toks[-1]
    fixed_pad = (" " + " ".join(fixed) + " ") if fixed else " "
    needle = f"'{_sql_quote(fixed_pad)}' || term || ' '"
    fixed_cte = fixed_join = ""
    fixed_score = "0"
    if fixed:
        values = ",".join(f"('{_sql_quote(t)}')" for t in dict.fromkeys(fixed))
        fixed_cte = f""",
fixedq(term) AS (VALUES {values}),
fs AS (SELECT tf.doc_id,
         sum( ln(1+(stats.n-df.df+0.5)/(df.df+0.5))
              * tf.tf*(1.2+1)/(tf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl)) ) s
       FROM tf JOIN fixedq USING(term) JOIN df USING(term)
            JOIN dl USING(doc_id), stats
       GROUP BY 1)"""
        fixed_join = "JOIN fs USING(doc_id)"
        fixed_score = "fs.s"
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
ex    AS (SELECT term FROM (
             SELECT DISTINCT term FROM tf
             WHERE term LIKE {_like_prefix(prefix)}
             ORDER BY term LIMIT {int(max_expansions)})),
gdf   AS (SELECT max(df.df) AS df FROM ex JOIN df USING(term)),
padded AS (SELECT doc_id,
             ' ' || array_to_string(list_filter(string_split(text,' '),
                                                t -> t <> ''), ' ') || ' ' AS ptext
           FROM documents),
comp AS (SELECT tf.doc_id, tf.tf
         FROM tf JOIN ex USING(term) JOIN padded USING(doc_id)
         WHERE contains(ptext, {needle})),
gtf AS (SELECT doc_id, sum(tf) AS tf FROM comp GROUP BY 1){fixed_cte},
s AS (SELECT gtf.doc_id,
        {fixed_score}
        + ln(1+(stats.n-gdf.df+0.5)/(gdf.df+0.5))
          * gtf.tf*(1.2+1)/(gtf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl)) AS raw
      FROM gtf JOIN dl USING(doc_id) {fixed_join}, stats, gdf)
SELECT doc_id, round(raw, {round_digits}) AS score FROM s
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def _expansion_oracle_sql(q_where: str, k: int, round_digits: int) -> str:
    """Shared skeleton for term-set-expansion queries (prefix/fuzzy):
    disjunctive BM25 over every vocabulary term satisfying ``q_where``,
    each scored with its own idf (the scoring-boolean rewrite the engine
    performs via its term dictionary)."""
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
q     AS (SELECT DISTINCT term FROM tf WHERE {q_where}),
s AS (SELECT tf.doc_id,
        sum( ln(1+(stats.n-df.df+0.5)/(df.df+0.5))
             * tf.tf*(1.2+1)/(tf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl)) ) raw_score
      FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc_id), stats
      GROUP BY 1)
SELECT doc_id, round(raw_score, {round_digits}) AS score FROM s
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_prefix_oracle_sql(prefix: str, k: int = 10, round_digits: int = 6) -> str:
    if not prefix:
        raise ValueError("empty prefix")
    return _expansion_oracle_sql(
        f"term LIKE '{_sql_quote(prefix)}%'", k, round_digits
    )


def bm25_term_range_oracle_sql(
    lo: str,
    hi: str,
    include_lo: bool = True,
    include_hi: bool = True,
    k: int = 10,
    round_digits: int = 6,
) -> str:
    """Oracle for a term range query (A72 — Lucene TermRangeQuery):
    disjunctive BM25 over every vocabulary term in [lo, hi]."""
    if not lo or not hi or lo > hi:
        raise ValueError("need lo <= hi, both non-empty")
    lo_op = ">=" if include_lo else ">"
    hi_op = "<=" if include_hi else "<"
    return _expansion_oracle_sql(
        f"term {lo_op} '{_sql_quote(lo)}' AND term {hi_op} '{_sql_quote(hi)}'",
        k,
        round_digits,
    )


def bm25_regex_oracle_sql(pattern: str, k: int = 10, round_digits: int = 6) -> str:
    """Oracle for a regex term query: disjunctive BM25 over every
    vocabulary term fully matching the pattern (RE2 full-match; use
    patterns from the re/RE2 common subset)."""
    if not pattern:
        raise ValueError("empty pattern")
    return _expansion_oracle_sql(
        f"regexp_full_match(term, '{_sql_quote(pattern)}')", k, round_digits
    )


def bm25_fuzzy_oracle_sql(
    term: str,
    max_edits: int = 1,
    k: int = 10,
    round_digits: int = 6,
    transpositions: bool = False,
) -> str:
    """``transpositions`` switches the twin's distance to DuckDB's
    damerau_levenshtein — identical to the engine's OSA at max_edits=1,
    the only width the engine accepts with transpositions on (the two
    diverge at 2)."""
    if not term:
        raise ValueError("empty term")
    if transpositions and max_edits > 1:
        raise ValueError("transpositions oracle pinned to max_edits<=1")
    fn = "damerau_levenshtein" if transpositions else "levenshtein"
    return _expansion_oracle_sql(
        f"{fn}(term, '{_sql_quote(term)}') <= {int(max_edits)}",
        k,
        round_digits,
    )


def bm25_delete_oracle_sql(
    terms: list[str],
    mode: str,
    deleted: list[int],
    k: int = 10,
    purged: bool = False,
) -> str:
    """Oracle for deletes. Tombstone phase (purged=False): corpus stats
    still count deleted docs (Lucene pre-merge semantics) — filter results
    only. Purge phase: stats recomputed — the deleted docs leave the
    corpus entirely (filter inside the tokenization CTE)."""
    ids = ", ".join(str(int(i)) for i in deleted)
    if purged:
        inner = bm25_oracle_sql(terms, mode, k=k)
        return inner.replace(
            "FROM documents",
            f"FROM (SELECT * FROM documents WHERE doc_id NOT IN ({ids}))",
            1,
        )
    inner = bm25_oracle_sql(terms, mode, k=1 << 30)
    return f"""
WITH ranked AS ({inner})
SELECT doc_id, score FROM ranked WHERE doc_id NOT IN ({ids})
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def facet_oracle_sql(
    terms: list[str], mode: str = "conjunctive", facet_col: str = "lang"
) -> str:
    """Per-facet count of ALL matching docs (conjunctive: every term;
    disjunctive: any term)."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + _sql_quote(t) + "')" for t in terms)
    need = "= (SELECT count(*) FROM q)" if mode == "conjunctive" else ">= 1"
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf  AS (SELECT DISTINCT doc_id, term FROM tok WHERE term<>''),
q(term) AS (VALUES {values}),
m AS (SELECT doc_id FROM tf JOIN q USING(term) GROUP BY doc_id
      HAVING count(*) {need})
SELECT {facet_col}, count(*) AS n_docs
FROM documents JOIN m USING(doc_id) GROUP BY {facet_col} ORDER BY {facet_col}
""".strip()


def variable_width_histogram_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    buckets: int = 5,
    tok_sql: str | None = None,
) -> str:
    """Twin of plans.search.search_variable_width_histogram (A107):
    boundaries = the buckets-1 largest gaps between sorted distinct
    doc_len values (gap desc, value asc tiebreak); each doc's bucket =
    count of boundaries at or below its value."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    return f"""
{_candidate_ctes(terms, mode, tok_sql or DEFAULT_TOK_SQL)},
vals AS (SELECT doc_len AS v FROM cand JOIN dl USING(doc_id)),
dv AS (SELECT DISTINCT v FROM vals),
gaps AS (SELECT v, v - lag(v) OVER (ORDER BY v) AS gap FROM dv),
bounds AS (SELECT v FROM gaps WHERE gap IS NOT NULL
           ORDER BY gap DESC, v LIMIT {int(buckets) - 1}),
assigned AS (SELECT vals.v,
                    (SELECT count(*) FROM bounds WHERE bounds.v <= vals.v)
                      AS bucket
             FROM vals)
SELECT CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v,
       CAST(count(*) AS BIGINT) AS n_docs
FROM assigned GROUP BY bucket ORDER BY min_v
""".strip()


def filters_agg_oracle_sql(
    filters: dict[str, list[str]], other_bucket: bool = True
) -> str:
    """Twin of plans.search.search_filters_agg (A106 — ES filters agg):
    per named conjunctive filter a doc count (zero-count buckets emitted),
    plus the '_other_' bucket of docs matching no filter."""
    names = sorted(filters)
    fvals = ",".join(
        f"('{_sql_quote(n)}', '{_sql_quote(t)}')"
        for n in names
        for t in dict.fromkeys(filters[n])
    )
    svals = ",".join(
        f"('{_sql_quote(n)}', {len(dict.fromkeys(filters[n]))})" for n in names
    )
    other = (
        """
UNION ALL
SELECT '_other_' AS bucket,
       (SELECT count(*) FROM documents)
       - (SELECT count(DISTINCT doc_id) FROM m) AS n_docs"""
        if other_bucket
        else ""
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf  AS (SELECT DISTINCT doc_id, term FROM tok WHERE term<>''),
f(fname, term) AS (VALUES {fvals}),
fs(fname, n_terms) AS (VALUES {svals}),
m AS (SELECT doc_id, fname
      FROM tf JOIN f USING(term) JOIN fs USING(fname)
      GROUP BY doc_id, fname, n_terms
      HAVING count(DISTINCT term) = n_terms)
SELECT bucket, n_docs FROM (
  SELECT fs.fname AS bucket,
         CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_docs
  FROM fs LEFT JOIN (SELECT fname, count(*) n FROM m GROUP BY 1) cnt
       USING(fname){other})
ORDER BY bucket
""".strip()


def facets_by_metric_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    facet_col: str = "lang",
    metric: str = "avg",
    size: int = 10,
    round_digits: int = 6,
) -> str:
    """Twin of plans.search.search_facets_by_metric (A111 — terms agg
    ordered by a sub-agg metric): buckets of the candidate set ranked by
    the doc_len metric desc, facet asc tiebreak, top-size. doc_len is
    recomputed from text with the engine's whitespace tokenization."""
    if metric not in ("avg", "sum", "min", "max"):
        raise ValueError(f"unknown metric {metric!r}")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + _sql_quote(t) + "')" for t in terms)
    need = "= (SELECT count(*) FROM q)" if mode == "conjunctive" else ">= 1"
    mexpr = {
        "avg": f"round(sum(doc_len)::DOUBLE / count(*), {round_digits})",
        "sum": "sum(doc_len)::DOUBLE",
        "min": "min(doc_len)::DOUBLE",
        "max": "max(doc_len)::DOUBLE",
    }[metric]
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tfd AS (SELECT DISTINCT doc_id, term FROM tok WHERE term<>''),
q(term) AS (VALUES {values}),
m AS (SELECT doc_id FROM tfd JOIN q USING(term) GROUP BY doc_id
      HAVING count(*) {need}),
dl AS (SELECT doc_id,
              len(list_filter(string_split(text,' '), t -> t <> '')) AS doc_len
       FROM documents)
SELECT {facet_col}, CAST(count(*) AS BIGINT) AS n_docs, {mexpr} AS metric
FROM documents JOIN m USING(doc_id) JOIN dl USING(doc_id)
GROUP BY {facet_col}
ORDER BY metric DESC, {facet_col} LIMIT {int(size)}
""".strip()


def multi_terms_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    fields: tuple[str, str] = ("lang", "repo"),
    size: int = 10,
) -> str:
    """Twin of plans.search.search_multi_terms (A103 — ES multi_terms):
    top-``size`` (field tuple) buckets of the candidate set by doc count
    descending, tuple ascending tiebreak; documents.source stands in for
    the docmap's repo column."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + _sql_quote(t) + "')" for t in terms)
    need = "= (SELECT count(*) FROM q)" if mode == "conjunctive" else ">= 1"
    src = {"lang": "lang", "repo": "source"}
    sel = ", ".join(f"{src[f]} AS {f}" for f in fields)
    keys = ", ".join(fields)
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf  AS (SELECT DISTINCT doc_id, term FROM tok WHERE term<>''),
q(term) AS (VALUES {values}),
m AS (SELECT doc_id FROM tf JOIN q USING(term) GROUP BY doc_id
      HAVING count(*) {need})
SELECT {keys}, n_docs FROM (
  SELECT {sel}, count(*) AS n_docs
  FROM documents JOIN m USING(doc_id) GROUP BY 1, 2)
ORDER BY n_docs DESC, {keys} LIMIT {int(size)}
""".strip()


def snippet_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    k: int = 10,
    width: int = 3,
    mark: tuple[str, str] | None = None,
) -> str:
    """Oracle for top-k + snippet: rank with the standard BM25 CTE, then the
    +-width token window around the first occurrence of any query term.
    ``mark`` wraps query-term tokens inside the window (the highlighter
    twin) via list_transform."""
    terms = list(dict.fromkeys(terms))
    inner = bm25_oracle_sql(terms, mode, k=k)
    firsts = ", ".join(
        f"nullif(list_position(l, '{_sql_quote(t)}'), 0)" for t in terms
    )
    first = f"least({firsts})" if len(terms) > 1 else firsts
    window = (
        f"l[greatest(1, f - {width}) : greatest(1, f - {width}) + {2 * width}]"
    )
    if mark is not None:
        pre, post = _sql_quote(mark[0]), _sql_quote(mark[1])
        in_list = ", ".join(f"'{_sql_quote(t)}'" for t in terms)
        window = (
            f"list_transform({window}, x -> CASE WHEN x IN ({in_list}) "
            f"THEN '{pre}' || x || '{post}' ELSE x END)"
        )
    return f"""
WITH ranked AS ({inner}),
t AS (SELECT d.doc_id, list_filter(string_split(d.text, ' '), x -> x <> '') AS l
      FROM documents d JOIN ranked USING(doc_id)),
p AS (SELECT doc_id, l, {first} AS f FROM t)
SELECT doc_id,
       CASE WHEN f IS NULL THEN ''
            ELSE array_to_string({window}, ' ')
       END AS snippet
FROM p ORDER BY doc_id
""".strip()


def count_oracle_sql(
    terms: list[str], mode: str = "conjunctive", exclude: list[str] | None = None
) -> str:
    """Oracle for the matching-document count, same semantics as
    :func:`bm25_from_model` candidates (conjunctive/disjunctive + NOT)."""
    terms = list(dict.fromkeys(terms))
    exclude = list(dict.fromkeys(exclude or []))
    values = ",".join("('" + _sql_quote(t) + "')" for t in terms)
    need = "= (SELECT count(*) FROM q)" if mode == "conjunctive" else ">= 1"
    excl = ""
    xq = ""
    if exclude:
        xvalues = ",".join("('" + _sql_quote(t) + "')" for t in exclude)
        xq = f",\nxq(term) AS (VALUES {xvalues})"
        excl = "WHERE doc_id NOT IN (SELECT doc_id FROM tf JOIN xq USING(term))"
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf  AS (SELECT DISTINCT doc_id, term FROM tok WHERE term<>''),
q(term) AS (VALUES {values}){xq},
m AS (SELECT doc_id FROM tf JOIN q USING(term) GROUP BY doc_id
      HAVING count(*) {need})
SELECT COUNT(*) AS n_hits FROM m {excl}
""".strip()


def mlt_oracle_sql(
    doc_id: int, n_terms: int = 5, k: int = 10, round_digits: int = 6
) -> str:
    """Oracle for more-like-this: the source doc's top-n terms by tf*idf
    (ties: term asc), run disjunctively, source doc excluded."""
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
qsc AS (SELECT s.term, s.tf * ln(1+(stats.n-df.df+0.5)/(df.df+0.5)) AS w
        FROM (SELECT term, tf FROM tf WHERE doc_id = {int(doc_id)}) s
        JOIN df USING(term), stats),
q AS (SELECT term FROM qsc ORDER BY w DESC, term LIMIT {int(n_terms)}),
s AS (SELECT tf.doc_id,
        sum( ln(1+(stats.n-df.df+0.5)/(df.df+0.5))
             * tf.tf*(1.2+1)/(tf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl)) ) raw_score
      FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc_id), stats
      GROUP BY 1)
SELECT doc_id, round(raw_score, {round_digits}) AS score FROM s
WHERE doc_id <> {int(doc_id)}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def lm_dirichlet_oracle_sql(
    terms: list[str],
    mode: str = "disjunctive",
    mu: float = 2000.0,
    k: int = 10,
    round_digits: int = 6,
    tok_sql: str | None = None,
) -> str:
    """Twin of plans.search.search_lm (A69 — Lucene LMDirichletSimilarity):
    per matched term max(0, ln(1 + tf/(mu*p)) + ln(mu/(dl+mu))) with
    p = (cf+1)/(n_tokens+1), cf/n_tokens recomputed from the corpus."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + t.replace("'", "''") + "')" for t in terms)
    conj = (
        "WHERE nmatch = (SELECT count(*) FROM q)"
        if mode == "conjunctive"
        else ""
    )
    m = float(mu)
    return f"""
WITH tok AS ({tok_sql or DEFAULT_TOK_SQL}),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
tot   AS (SELECT sum(dl)::DOUBLE t FROM dl),
cf    AS (SELECT term, sum(tf)::DOUBLE cf FROM tf GROUP BY 1),
q(term) AS (VALUES {values}),
s AS (SELECT tf.doc_id,
        sum(greatest(ln(1 + tf.tf/({m!r}*((cf.cf+1)/(tot.t+1))))
                     + ln({m!r}/(dl.dl+{m!r})), 0)) raw,
        count(*) nmatch
      FROM tf JOIN q USING(term) JOIN cf USING(term) JOIN dl USING(doc_id), tot
      GROUP BY 1)
SELECT doc_id, round(raw, {round_digits}) AS score FROM s {conj}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def terms_set_oracle_sql(
    terms: list[str],
    divisor: int = 30,
    k: int = 10,
    round_digits: int = 6,
) -> str:
    """Twin of plans.search.search_terms_set (A85 — ES terms_set): the
    disjunctive BM25 ranking filtered by the per-doc floor
    nmatch >= least(n_terms, greatest(1, 1 + floor(doc_len/divisor)))."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    if divisor <= 0:
        raise ValueError("divisor must be positive")
    values = ",".join("('" + _sql_quote(t) + "')" for t in terms)
    n = len(terms)
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
q(term) AS (VALUES {values}),
s AS (SELECT tf.doc_id,
        sum( ln(1+(stats.n-df.df+0.5)/(df.df+0.5))
             * tf.tf*(1.2+1)/(tf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl)) ) raw,
        count(DISTINCT tf.term) nmatch
      FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc_id), stats
      GROUP BY 1)
SELECT doc_id, round(raw, {round_digits}) AS score
FROM s JOIN dl USING(doc_id)
WHERE nmatch >= least({n}, greatest(1, 1 + CAST(floor(dl.dl/{int(divisor)}) AS BIGINT)))
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def classic_oracle_sql(
    terms: list[str],
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int = 6,
    tok_sql: str | None = None,
) -> str:
    """Twin of plans.search.search_classic (Lucene ClassicSimilarity):
    per matched term sqrt(tf) * (1 + ln((n_docs+1)/(df+1)))^2 / sqrt(dl),
    df/n_docs recomputed from the corpus."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + t.replace("'", "''") + "')" for t in terms)
    conj = (
        "WHERE nmatch = (SELECT count(*) FROM q)"
        if mode == "conjunctive"
        else ""
    )
    return f"""
WITH tok AS ({tok_sql or DEFAULT_TOK_SQL}),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
nd    AS (SELECT count(*)::DOUBLE n FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
q(term) AS (VALUES {values}),
s AS (SELECT tf.doc_id,
        sum(sqrt(tf.tf) * pow(1 + ln((nd.n+1)/(df.df+1)), 2) / sqrt(dl.dl)) raw,
        count(*) nmatch
      FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc_id), nd
      GROUP BY 1)
SELECT doc_id, round(raw, {round_digits}) AS score FROM s {conj}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_pinned_oracle_sql(
    terms: list[str],
    pinned_ids: list[int],
    mode: str = "conjunctive",
    k: int = 10,
    round_digits: int = 6,
    deleted_ids: list[int] | None = None,
) -> str:
    """Twin of plans.search.search_pinned (A78 — ES pinned query): pinned
    ids first with the artificial 1e9-position score, then the organic
    BM25 ranking excluding them. ``deleted_ids`` mirrors tombstones:
    deleted pins are dropped BEFORE position numbering (exactly the
    engine's renumber-after-filter) and deleted docs leave the organic
    ranking too."""
    dead = set(int(d) for d in (deleted_ids or []))
    pins = [
        p for p in dict.fromkeys(int(p) for p in pinned_ids) if p not in dead
    ]
    if not pins:
        raise ValueError("pinned_ids must be non-empty")
    pvals = ",".join(
        f"({p}, {float(1e9 - i)!r}, {i})" for i, p in enumerate(pins)
    )
    raw_where = (
        f"doc_id NOT IN ({', '.join(str(d) for d in sorted(dead))})"
        if dead
        else None
    )
    inner = bm25_oracle_sql(
        terms, mode, k=1 << 30, round_digits=round_digits, raw_where=raw_where
    )
    plist = ", ".join(str(p) for p in pins)
    return f"""
WITH organic AS ({inner}),
pinned(doc_id, score, pos) AS (VALUES {pvals}),
united AS (
  SELECT doc_id, score, 0 AS grp, pos AS ord FROM pinned
  UNION ALL
  SELECT doc_id, score, 1 AS grp,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS ord
  FROM organic WHERE doc_id NOT IN ({plist}))
SELECT doc_id, score FROM united
ORDER BY grp, ord LIMIT {int(k)}
""".strip()


SORTED_REMAP_TOK_SQL = """
SELECT doc_id, unnest(string_split(text,' ')) AS term FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY doc_len, doc_id) - 1 AS doc_id, text
  FROM (SELECT doc_id, text,
               len(list_filter(string_split(text,' '), t -> t <> '')) AS doc_len
        FROM documents))
""".strip()


def bm25_sorted_early_oracle_sql(
    terms: list[str], mode: str = "conjunctive", k: int = 10,
    round_digits: int = 6,
) -> str:
    """Twin of plans.search.search_sorted_topk over an index sorted by
    doc_len (A76): doc_ids remapped to the (doc_len, old id) rank exactly
    as schema.reassign_ids_sorted does, candidates taken in ascending
    remapped-id order (== the field sort), BM25 scores unchanged."""
    inner = bm25_oracle_sql(
        terms, mode, k=1 << 30, round_digits=round_digits,
        tok_sql=SORTED_REMAP_TOK_SQL,
    )
    return f"""
SELECT doc_id, score FROM ({inner})
ORDER BY doc_id LIMIT {int(k)}
""".strip()


def bm25_sloppy_phrase_oracle_sql(
    phrase_terms: list[str], slop: int, k: int = 10, round_digits: int = 6
) -> str:
    """Twin of plans.search.search_phrase_sloppy (A71 — sloppy n-term
    phrase, alignment-window semantics): one position row per phrase
    offset, n-way self-join per doc, window condition
    max(p_j - j) - min(p_j - j) <= slop; rank = conjunctive BM25 over the
    DISTINCT phrase terms."""
    n = len(phrase_terms)
    if n < 2:
        raise ValueError("sloppy phrase needs >= 2 tokens")
    uterms = list(dict.fromkeys(phrase_terms))
    inner = bm25_oracle_sql(
        uterms, "conjunctive", k=1 << 30, round_digits=round_digits
    )
    joins = "\n              ".join(
        f"JOIN pos p{j} ON p{j}.doc_id = p0.doc_id" for j in range(1, n)
    )
    terms_cond = " AND ".join(
        f"p{j}.term = '{_sql_quote(t)}'" for j, t in enumerate(phrase_terms)
    )
    qexprs = ", ".join(f"(p{j}.i - {j})" for j in range(n))
    return f"""
WITH ranked AS ({inner}),
toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         FROM documents),
pos AS (SELECT doc_id, i, l[i] AS term
        FROM toks, UNNEST(range(1, len(l)+1)) AS u(i)),
hit AS (SELECT DISTINCT p0.doc_id
        FROM pos p0 {joins}
        WHERE {terms_cond}
          AND greatest({qexprs}) - least({qexprs}) <= {int(slop)})
SELECT doc_id, score FROM ranked JOIN hit USING(doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_span_first_oracle_sql(
    term: str, end: int, k: int = 10, round_digits: int = 6
) -> str:
    """Twin of plans.search.search_span_first (A68 — Lucene
    SpanFirstQuery): docs whose first ``end`` tokens contain ``term``
    (1-based DuckDB position i <= end == 0-based pos < end), ranked by the
    term's plain BM25."""
    inner = bm25_oracle_sql(
        [term], "conjunctive", k=1 << 30, round_digits=round_digits
    )
    qt = _sql_quote(term)
    return f"""
WITH ranked AS ({inner}),
toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         FROM documents),
pos AS (SELECT doc_id, i, l[i] AS term
        FROM toks, UNNEST(range(1, len(l)+1)) AS u(i)),
hit AS (SELECT DISTINCT doc_id FROM pos
        WHERE term = '{qt}' AND i <= {end})
SELECT doc_id, score FROM ranked JOIN hit USING(doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_span_not_oracle_sql(
    term: str,
    excl_term: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    round_digits: int = 6,
) -> str:
    """Twin of plans.search.search_span_not (Lucene SpanNotQuery): docs
    with >= 1 occurrence of ``term`` having no ``excl_term`` within
    [pos-pre, pos+post], ranked by the include term's plain BM25."""
    inner = bm25_oracle_sql(
        [term], "conjunctive", k=1 << 30, round_digits=round_digits
    )
    qa, qb = _sql_quote(term), _sql_quote(excl_term)
    return f"""
WITH ranked AS ({inner}),
toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         FROM documents),
pos AS (SELECT doc_id, i, l[i] AS term
        FROM toks, UNNEST(range(1, len(l)+1)) AS u(i)),
hit AS (SELECT DISTINCT a.doc_id FROM pos a
        WHERE a.term = '{qa}' AND NOT EXISTS (
          SELECT 1 FROM pos b
          WHERE b.doc_id = a.doc_id AND b.term = '{qb}'
            AND b.i BETWEEN a.i - {int(pre)} AND a.i + {int(post)}))
SELECT doc_id, score FROM ranked JOIN hit USING(doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_span_enclosure_oracle_sql(
    term_a: str,
    term_b: str,
    little: str,
    slop: int,
    scored: str,
    k: int = 10,
    round_digits: int = 6,
) -> str:
    """Twin of plans.search.search_span_within / search_span_containing
    (Lucene SpanWithinQuery / SpanContainingQuery): docs where some
    ``little`` occurrence lies inside an ordered ``term_a``..``term_b``
    window of width <= ``slop``. ``scored`` picks the Lucene weight
    convention: ``"little"`` ranks by the little clause's BM25 (within),
    ``"big"`` by the big pair's conjunctive BM25 (containing)."""
    if scored == "little":
        score_terms = [little]
    elif scored == "big":
        score_terms = list(dict.fromkeys([term_a, term_b]))
    else:
        raise ValueError("scored must be 'little' or 'big'")
    inner = bm25_oracle_sql(
        score_terms, "conjunctive", k=1 << 30, round_digits=round_digits
    )
    qa, qb, qt = _sql_quote(term_a), _sql_quote(term_b), _sql_quote(little)
    return f"""
WITH ranked AS ({inner}),
toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         FROM documents),
pos AS (SELECT doc_id, i, l[i] AS term
        FROM toks, UNNEST(range(1, len(l)+1)) AS u(i)),
hit AS (SELECT DISTINCT t.doc_id
        FROM pos t
        JOIN pos a ON a.doc_id = t.doc_id
        JOIN pos b ON b.doc_id = t.doc_id
        WHERE t.term = '{qt}' AND a.term = '{qa}' AND b.term = '{qb}'
          AND a.i <= t.i AND t.i <= b.i
          AND b.i - a.i BETWEEN 1 AND {int(slop)})
SELECT doc_id, score FROM ranked JOIN hit USING(doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_near_oracle_sql(
    term_a: str,
    term_b: str,
    slop: int = 3,
    k: int = 10,
    round_digits: int = 6,
    in_order: bool = False,
) -> str:
    """Oracle for proximity search: docs with the two terms within ``slop``
    positions (either order, or ``in_order`` = b strictly after a — Lucene
    span_near(inOrder=true)), ranked by their conjunctive BM25."""
    inner = bm25_oracle_sql(
        [term_a, term_b], "conjunctive", k=1 << 30, round_digits=round_digits
    )
    qa, qb = _sql_quote(term_a), _sql_quote(term_b)
    prox = (
        f"b.i - a.i BETWEEN 1 AND {slop}"
        if in_order
        else f"abs(a.i - b.i) <= {slop}"
    )
    return f"""
WITH ranked AS ({inner}),
toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         FROM documents),
pos AS (SELECT doc_id, i, l[i] AS term
        FROM toks, UNNEST(range(1, len(l)+1)) AS u(i)),
near AS (SELECT DISTINCT a.doc_id
         FROM pos a JOIN pos b ON a.doc_id = b.doc_id
         WHERE a.term = '{qa}' AND b.term = '{qb}' AND {prox})
SELECT doc_id, score FROM ranked JOIN near USING(doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def adjacency_matrix_oracle_sql(filters: dict[str, list[str]]) -> str:
    """Twin of plans.search.search_adjacency_matrix (A67 — ES
    adjacency_matrix agg): per-filter and pairwise-intersection doc counts,
    buckets named 'a' / 'a&b' in sorted-name order."""
    names = sorted(filters)
    fvals = ",".join(
        f"('{_sql_quote(n)}', '{_sql_quote(t)}')"
        for n in names
        for t in dict.fromkeys(filters[n])
    )
    svals = ",".join(
        f"('{_sql_quote(n)}', {len(dict.fromkeys(filters[n]))})" for n in names
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf  AS (SELECT DISTINCT doc_id, term FROM tok WHERE term<>''),
f(fname, term) AS (VALUES {fvals}),
fs(fname, n_terms) AS (VALUES {svals}),
m AS (SELECT doc_id, fname
      FROM tf JOIN f USING(term) JOIN fs USING(fname)
      GROUP BY doc_id, fname, n_terms
      HAVING count(DISTINCT term) = n_terms)
SELECT CASE WHEN a.fname = b.fname THEN a.fname
            ELSE a.fname || '&' || b.fname END AS bucket,
       count(*) AS n_docs
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.fname <= b.fname
GROUP BY 1 ORDER BY 1
""".strip()


def facet_composite_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    sources: tuple[str, ...] = ("lang", "repo"),
    size: int = 5,
    after: tuple | None = None,
) -> str:
    """Twin of plans.search.search_facets_composite (A66 — ES composite
    agg): key-ordered multi-source buckets with an after-key cursor.
    ``sources`` use the ENGINE's docmap column names; the documents-view
    stand-ins are mapped here (repo -> source) and aliased back so the
    driver's column-name compare lines up."""
    src = {"lang": "lang", "repo": "source"}
    terms = list(dict.fromkeys(terms))
    values = ",".join("('" + _sql_quote(t) + "')" for t in terms)
    need = "= (SELECT count(*) FROM q)" if mode == "conjunctive" else ">= 1"
    raw = [src[c] for c in sources]
    sel = ", ".join(f"{r} AS {c}" for r, c in zip(raw, sources))
    grp = ", ".join(raw)
    wh = ""
    if after is not None:
        clauses = []
        for i in range(len(sources)):
            parts = [
                f"{raw[j]} = '{_sql_quote(str(after[j]))}'" for j in range(i)
            ] + [f"{raw[i]} > '{_sql_quote(str(after[i]))}'"]
            clauses.append("(" + " AND ".join(parts) + ")")
        wh = "HAVING " + " OR ".join(clauses)
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf  AS (SELECT DISTINCT doc_id, term FROM tok WHERE term<>''),
q(term) AS (VALUES {values}),
m AS (SELECT doc_id FROM tf JOIN q USING(term) GROUP BY doc_id
      HAVING count(*) {need})
SELECT {sel}, count(*) AS n_docs
FROM documents JOIN m USING(doc_id)
GROUP BY {grp} {wh}
ORDER BY {grp} LIMIT {size}
""".strip()


def facet_rollup_oracle_sql(
    terms: list[str], mode: str = "conjunctive",
    facet_cols: tuple[str, str] = ("lang", "repo"),
) -> str:
    """Oracle for hierarchical facet counts; documents.source stands in for
    the docmap's repo column."""
    terms = list(dict.fromkeys(terms))
    values = ",".join("('" + _sql_quote(t) + "')" for t in terms)
    need = "= (SELECT count(*) FROM q)" if mode == "conjunctive" else ">= 1"
    a, b = facet_cols
    src = {"lang": "lang", "repo": "source"}
    sa, sb = src[a], src[b]
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf  AS (SELECT DISTINCT doc_id, term FROM tok WHERE term<>''),
q(term) AS (VALUES {values}),
m AS (SELECT doc_id FROM tf JOIN q USING(term) GROUP BY doc_id
      HAVING count(*) {need})
SELECT COALESCE({sa}, '__ALL__') AS {a}, COALESCE({sb}, '__ALL__') AS {b},
       COUNT(*) AS n_docs
FROM documents JOIN m USING(doc_id)
GROUP BY ROLLUP ({sa}, {sb}) ORDER BY {a}, {b}
""".strip()


def facet_topk_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    facet_col: str = "lang",
    k: int = 3,
    round_digits: int = 6,
) -> str:
    """Oracle for per-facet top-k: rank rounded BM25 scores within each
    facet value of the matching docs."""
    inner = bm25_oracle_sql(terms, mode, k=1 << 30, round_digits=round_digits)
    return f"""
WITH ranked AS ({inner}),
j AS (SELECT d.{facet_col}, r.doc_id, r.score
      FROM ranked r JOIN documents d USING(doc_id))
SELECT {facet_col}, rk, doc_id, score FROM (
  SELECT {facet_col}, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY {facet_col}
                            ORDER BY score DESC, doc_id) AS rk
  FROM j)
WHERE rk <= {k} ORDER BY {facet_col}, rk
""".strip()


def collapse_oracle_sql(
    terms: list[str],
    mode: str = "disjunctive",
    grp_expr: str = "source",
    k_groups: int = 5,
    per_group: int = 2,
    round_digits: int = 6,
) -> str:
    """Oracle for field collapsing (A50): rank hits within each group value,
    rank groups by their best hit (score desc, doc_id asc), keep the top
    k_groups groups x per_group inner hits. ``grp_expr`` is the documents
    column backing the engine's collapse field (engine repo == documents
    source under the corpus adapter)."""
    inner = bm25_oracle_sql(terms, mode, k=1 << 30, round_digits=round_digits)
    return f"""
WITH scored AS ({inner}),
j AS (SELECT s.doc_id, s.score, d.{grp_expr} AS grp
      FROM scored s JOIN documents d USING (doc_id)),
i AS (SELECT grp, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY grp
                                ORDER BY score DESC, doc_id) AS rk
      FROM j),
heads AS (SELECT grp, score AS best, doc_id AS bd FROM i WHERE rk = 1),
g AS (SELECT grp, ROW_NUMBER() OVER (ORDER BY best DESC, bd) AS grk
      FROM heads)
SELECT i.grp, g.grk, i.rk, i.doc_id, i.score
FROM i JOIN g USING (grp)
WHERE g.grk <= {k_groups} AND i.rk <= {per_group}
ORDER BY g.grk, i.rk
""".strip()


def bm25_cross_fields_oracle_sql(
    terms: list[str],
    field_toks: dict[str, tuple[str, float]],
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int = 6,
) -> str:
    """Twin of plans.multifield.search_fields_cross (A74 — ES
    ``cross_fields`` / BlendedTermQuery): per term, df is blended as the
    MAX across fields (one idf vs n_blend = max field doc count), the
    term-doc contribution is the max weighted per-field BM25, docs sum
    term contributions; conjunctive = every term in SOME field."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + t.replace("'", "''") + "')" for t in terms)
    names = sorted(field_toks)
    ctes, unions, ncounts, dfu = [], [], [], []
    for i, fname in enumerate(names):
        tok_sql, weight = field_toks[fname]
        ctes.append(
            f"tok{i} AS ({tok_sql}),\n"
            f"tf{i} AS (SELECT doc_id, term, count(*)::DOUBLE tf "
            f"FROM tok{i} WHERE term<>'' GROUP BY 1,2),\n"
            f"dl{i} AS (SELECT doc_id, sum(tf) dl FROM tf{i} GROUP BY 1),\n"
            f"st{i} AS (SELECT avg(dl) avgdl FROM dl{i}),\n"
            f"df{i} AS (SELECT term, count(*)::DOUBLE df FROM tf{i} GROUP BY 1)"
        )
        ncounts.append(f"(SELECT count(*) FROM dl{i})")
        dfu.append(f"SELECT term, df FROM df{i}")
        unions.append(
            f"SELECT tf{i}.doc_id, tf{i}.term,\n"
            f"    {float(weight)!r} * ln(1+(nb.n-dfb.dfb+0.5)/(dfb.dfb+0.5))\n"
            f"      * tf{i}.tf*(1.2+1)/(tf{i}.tf+1.2*(1-0.75+0.75*dl{i}.dl/st{i}.avgdl)) AS s\n"
            f"  FROM tf{i} JOIN q USING(term) JOIN dfb USING(term) "
            f"JOIN dl{i} USING(doc_id), st{i}, nb"
        )
    conj = (
        "WHERE nmatch = (SELECT count(*) FROM q)"
        if mode == "conjunctive"
        else ""
    )
    return f"""
WITH q(term) AS (VALUES {values}),
{",".join(ctes)},
nb AS (SELECT greatest({", ".join(ncounts)})::DOUBLE n),
dfb AS (SELECT term, max(df) dfb FROM ({" UNION ALL ".join(dfu)}) GROUP BY 1),
u AS ({" UNION ALL ".join(unions)}),
tb AS (SELECT doc_id, term, max(s) s FROM u GROUP BY 1, 2),
agg AS (SELECT doc_id, sum(s) raw, count(*) nmatch FROM tb GROUP BY 1)
SELECT doc_id, round(raw, {round_digits}) AS score FROM agg {conj}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_combined_fields_oracle_sql(
    terms: list[str],
    field_toks: dict[str, tuple[str, float]],
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int = 6,
) -> str:
    """Twin of plans.multifield.search_fields_combined (A91 — ES
    ``combined_fields`` / Lucene CombinedFieldQuery): fields merge into
    one synthetic field — tf_c = sum_f w_f*tf_f, dl_c = sum_f w_f*dl_f,
    avgdl_c = sum of weighted per-field token mass over the corpus doc
    count, df blended as max_f df_f — then plain BM25 on combined stats."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + t.replace("'", "''") + "')" for t in terms)
    names = sorted(field_toks)
    ctes, tf_unions, dl_unions, dfu = [], [], [], []
    for i, fname in enumerate(names):
        tok_sql, weight = field_toks[fname]
        ctes.append(
            f"tok{i} AS ({tok_sql}),\n"
            f"tf{i} AS (SELECT doc_id, term, count(*)::DOUBLE tf "
            f"FROM tok{i} WHERE term<>'' GROUP BY 1,2),\n"
            f"dl{i} AS (SELECT doc_id, sum(tf) dl FROM tf{i} GROUP BY 1),\n"
            f"df{i} AS (SELECT term, count(*)::DOUBLE df FROM tf{i} GROUP BY 1)"
        )
        dfu.append(f"SELECT term, df FROM df{i}")
        tf_unions.append(
            f"SELECT doc_id, term, {float(weight)!r} * tf AS wtf "
            f"FROM tf{i} JOIN q USING(term)"
        )
        dl_unions.append(
            f"SELECT doc_id, {float(weight)!r} * dl AS wdl FROM dl{i}"
        )
    conj = (
        "WHERE nmatch = (SELECT count(*) FROM q)"
        if mode == "conjunctive"
        else ""
    )
    return f"""
WITH q(term) AS (VALUES {values}),
{",".join(ctes)},
nb AS (SELECT count(*)::DOUBLE n FROM documents),
dfb AS (SELECT term, max(df) dfb FROM ({" UNION ALL ".join(dfu)}) GROUP BY 1),
du AS ({" UNION ALL ".join(dl_unions)}),
dlc AS (SELECT doc_id, sum(wdl) dlc FROM du GROUP BY 1),
av AS (SELECT (SELECT sum(wdl) FROM du) / (SELECT n FROM nb) AS avgdlc),
ctf AS (SELECT doc_id, term, sum(wtf) tfc
        FROM ({" UNION ALL ".join(tf_unions)}) GROUP BY 1, 2),
c AS (SELECT ctf.doc_id, ctf.term,
        ln(1+(nb.n-dfb.dfb+0.5)/(dfb.dfb+0.5))
          * ctf.tfc*(1.2+1)/(ctf.tfc+1.2*(1-0.75+0.75*dlc.dlc/av.avgdlc)) AS s
      FROM ctf JOIN dfb USING(term) JOIN dlc USING(doc_id), nb, av),
agg AS (SELECT doc_id, sum(s) raw, count(*) nmatch FROM c GROUP BY 1)
SELECT doc_id, round(raw, {round_digits}) AS score FROM agg {conj}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_dismax_oracle_sql(
    terms: list[str],
    field_toks: dict[str, tuple[str, float]],
    mode: str = "disjunctive",
    tie_breaker: float = 0.0,
    k: int = 10,
    round_digits: int = 6,
) -> str:
    """DuckDB twin of plans.dismax (A51 — ES ``best_fields`` /
    DisjunctionMaxQuery): one BM25 pipeline per field (own tf/dl/stats/df),
    per-field subquery score ``raw * weight``, combined per doc as
    ``max + tie_breaker * (sum - max)``. Conjunctive keeps only (doc,
    field) pairs where THAT field matched every query term — the
    per-field AND that distinguishes best_fields from most_fields."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    tb = float(tie_breaker)
    if not 0.0 <= tb <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1]")
    values = ",".join("('" + t.replace("'", "''") + "')" for t in terms)
    names = sorted(field_toks)
    ctes, unions = [], []
    conj = " WHERE nmatch = (SELECT count(*) FROM q)" if mode == "conjunctive" else ""
    for i, fname in enumerate(names):
        tok_sql, weight = field_toks[fname]
        ctes.append(
            f"tok{i} AS ({tok_sql}),\n"
            f"tf{i} AS (SELECT doc_id, term, count(*)::DOUBLE tf "
            f"FROM tok{i} WHERE term<>'' GROUP BY 1,2),\n"
            f"dl{i} AS (SELECT doc_id, sum(tf) dl FROM tf{i} GROUP BY 1),\n"
            f"st{i} AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl{i}),\n"
            f"df{i} AS (SELECT term, count(*)::DOUBLE df FROM tf{i} GROUP BY 1),\n"
            f"s{i} AS (SELECT tf{i}.doc_id,\n"
            f"    sum( ln(1+(st{i}.n-df{i}.df+0.5)/(df{i}.df+0.5))\n"
            f"      * tf{i}.tf*(1.2+1)/(tf{i}.tf+1.2*(1-0.75+0.75*dl{i}.dl/st{i}.avgdl)) ) raw,\n"
            f"    count(*) nmatch\n"
            f"  FROM tf{i} JOIN q USING(term) JOIN df{i} USING(term) "
            f"JOIN dl{i} USING(doc_id), st{i} GROUP BY 1)"
        )
        unions.append(
            f"SELECT doc_id, raw * {float(weight)!r} AS s FROM s{i}{conj}"
        )
    cte_block = ",\n".join(ctes)
    union_block = " UNION ALL ".join(unions)
    return f"""
WITH q(term) AS (VALUES {values}),
{cte_block},
u AS ({union_block})
SELECT doc_id, round(max(s) + {tb!r} * (sum(s) - max(s)), {round_digits}) AS score
FROM u GROUP BY 1
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


DEFAULT_TOK_SQL = (
    "SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents"
)

# twin of tokenize.tokens_col(..., 'shingle') — A86 shingle filter (Lucene
# ShingleFilter / ES shingle, defaults min=max=2, output_unigrams=true,
# separator ' '): lowercase -> whitespace split -> unigrams + adjacent
# space-joined bigrams
SHINGLE_TOK_SQL = """
SELECT doc_id,
       unnest(list_concat(l, list_transform(range(1, len(l)),
                                            i -> l[i] || ' ' || l[i+1]))) AS term
FROM (SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS l
      FROM documents) s
""".strip()

# twin of tokenize.tokens_col(..., 'edge') — A70 edge n-gram autocomplete:
# prefixes of length EDGE_MIN..min(len, EDGE_MAX) per token, plus the full
# token past EDGE_MAX (preserveOriginal); sub-EDGE_MIN tokens emit nothing
EDGE_TOK_SQL = """
SELECT doc_id, substr(tok, 1, n) AS term
FROM (SELECT doc_id, unnest(string_split(lower(text),' ')) AS tok
      FROM documents) s,
     UNNEST(range(2, least(length(tok), 8) + 1)) AS u(n)
WHERE length(tok) >= 2
UNION ALL
SELECT doc_id, tok AS term
FROM (SELECT doc_id, unnest(string_split(lower(text),' ')) AS tok
      FROM documents) s2
WHERE length(tok) > 8
""".strip()


def _candidate_ctes(terms: list[str], mode: str, tok_sql: str) -> str:
    """Shared CTE block: tokenize -> tf -> BIGINT doc_len -> the query's
    candidate doc set (conjunctive = every term, disjunctive = any)."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + t.replace("'", "''") + "')" for t in terms)
    having = (
        "HAVING count(DISTINCT term) = (SELECT count(*) FROM q)"
        if mode == "conjunctive"
        else ""
    )
    return f"""
WITH tok AS ({tok_sql}),
tf   AS (SELECT doc_id, term, count(*) tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl   AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf GROUP BY 1),
q(term) AS (VALUES {values}),
cand AS (SELECT doc_id FROM tf JOIN q USING(term) GROUP BY doc_id {having})
""".strip()


def sorted_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    k: int = 10,
    ascending: bool = False,
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_sorted (A39): candidate docs ordered by
    doc_len (the engine sorts by any docmap column; doc_len is the one the
    oracle can recompute from text alone), doc_id tiebreak, top-k."""
    direction = "ASC" if ascending else "DESC"
    return f"""
{_candidate_ctes(terms, mode, tok_sql)}
SELECT doc_id, doc_len FROM cand JOIN dl USING(doc_id)
ORDER BY doc_len {direction}, doc_id LIMIT {k}
""".strip()


def histogram_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    width: int = 10,
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_facets_histogram (A40): fixed-width
    doc_len bins over the candidate set, keyed by inclusive lower bound."""
    if width <= 0:
        raise ValueError("width must be positive")
    return f"""
{_candidate_ctes(terms, mode, tok_sql)}
SELECT CAST(floor(doc_len/{width})*{width} AS BIGINT) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n_docs
FROM cand JOIN dl USING(doc_id) GROUP BY 1 ORDER BY 1
""".strip()


def bucket_sort_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    width: int = 10,
    by: str = "n_docs",
    descending: bool = True,
    frm: int = 0,
    size: int = 3,
    tok_sql: str | None = None,
) -> str:
    """Twin of plans.search.search_bucket_sort (A109 — ES bucket_sort):
    the A40 histogram's buckets ordered by the bucket metric with a
    bin_lo tiebreak, OFFSET/LIMIT page."""
    if by not in ("n_docs", "bin_lo"):
        raise ValueError("by must be 'n_docs' or 'bin_lo'")
    if width <= 0 or frm < 0 or size < 1:
        raise ValueError("bad width/frm/size")
    direction = "DESC" if descending else "ASC"
    return f"""
{_candidate_ctes(terms, mode, tok_sql or DEFAULT_TOK_SQL)},
buckets AS (
  SELECT CAST(floor(doc_len/{width})*{width} AS BIGINT) AS bin_lo,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM cand JOIN dl USING(doc_id) GROUP BY 1)
SELECT bin_lo, n_docs FROM buckets
ORDER BY {by} {direction}, bin_lo
LIMIT {int(size)} OFFSET {int(frm)}
""".strip()


def histogram_pipeline_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    width: int = 10,
    moving_window: int = 3,
    selector_min: int | None = None,
    round_digits: int = 6,
    tok_sql: str = DEFAULT_TOK_SQL,
    serial_lag: int = 2,
) -> str:
    """Twin of plans.search.search_histogram_pipeline (A90 — ES pipeline
    aggs): the A40 histogram CTE with derivative / cumulative_sum /
    trailing moving average / serial_diff / normalize percent_of_sum as
    window functions, bucket_selector last."""
    if width <= 0 or moving_window <= 0 or serial_lag <= 0:
        raise ValueError("width, moving_window and serial_lag must be positive")
    sel = f"WHERE n_docs >= {int(selector_min)}" if selector_min is not None else ""
    return f"""
{_candidate_ctes(terms, mode, tok_sql)},
buckets AS (
  SELECT CAST(floor(doc_len/{width})*{width} AS BIGINT) AS bin_lo,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM cand JOIN dl USING(doc_id) GROUP BY 1),
pipe AS (
  SELECT bin_lo, n_docs,
         n_docs - lag(n_docs) OVER (ORDER BY bin_lo) AS deriv,
         CAST(SUM(n_docs) OVER (ORDER BY bin_lo) AS BIGINT) AS cum_n,
         ROUND(AVG(n_docs) OVER (ORDER BY bin_lo
               ROWS BETWEEN {int(moving_window) - 1} PRECEDING AND CURRENT ROW),
               {round_digits}) AS mov_avg,
         n_docs - lag(n_docs, {int(serial_lag)}) OVER (ORDER BY bin_lo) AS sdiff,
         ROUND(n_docs * 100.0 / SUM(n_docs) OVER (), {round_digits})
           AS pct_of_sum
  FROM buckets)
SELECT * FROM pipe {sel} ORDER BY bin_lo
""".strip()


def range_agg_oracle_sql(
    terms: list[str],
    ranges: list[tuple[int | None, int | None]],
    mode: str = "conjunctive",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_facets_ranges (A82 — ES range agg):
    each requested [from, to) bucket is an independent conditional count
    over the candidate set; empty buckets emit n_docs=0."""
    if not ranges:
        raise ValueError("ranges must be non-empty")
    branches = []
    for lo, hi in ranges:
        conds = ["TRUE"]
        if lo is not None:
            conds.append(f"doc_len >= {int(lo)}")
        if hi is not None:
            conds.append(f"doc_len < {int(hi)}")
        label = f"{'*' if lo is None else int(lo)}-{'*' if hi is None else int(hi)}"
        branches.append(
            f"SELECT '{label}' AS bucket, CAST(coalesce(sum(CASE WHEN "
            f"{' AND '.join(conds)} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs "
            "FROM cand JOIN dl USING(doc_id)"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""
{_candidate_ctes(terms, mode, tok_sql)}
{union}
""".strip()


def sampled_facets_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    facet_col_sql: str = "lang",
    probability: float = 0.5,
    seed: str = "s0",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_facets_sampled (A89 — ES random_sampler,
    deterministic variant): the same md5(seed:doc_id) threshold draw as
    hash_sample_oracle_sql, then the facet count over the sampled
    candidates."""
    from miru_spark.pipeline.sampling import _NIBBLES, _threshold_hex

    thr = _threshold_hex(probability)
    return f"""
{_candidate_ctes(terms, mode, tok_sql)}
SELECT {facet_col_sql} AS facet, CAST(count(*) AS BIGINT) AS n_docs
FROM cand JOIN documents USING(doc_id)
WHERE substring(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, {_NIBBLES}) < '{thr}'
GROUP BY 1 ORDER BY n_docs DESC, facet
""".strip()


def field_stats_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_field_stats (A46 — ES stats agg):
    count/min/max/sum/avg of doc_len over the candidate set, one row."""
    return f"""
{_candidate_ctes(terms, mode, tok_sql)}
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_len) AS BIGINT) AS min_v,
       CAST(max(doc_len) AS BIGINT) AS max_v,
       CAST(sum(doc_len) AS BIGINT) AS sum_v,
       round(avg(doc_len), 6) AS avg_v
FROM cand JOIN dl USING(doc_id)
""".strip()


def extended_stats_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_extended_stats (ES extended_stats):
    A46's stats row plus sum_of_squares / population variance / population
    std deviation, derived from the same exact-integer moment sums."""
    return f"""
{_candidate_ctes(terms, mode, tok_sql)},
s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(doc_len) AS BIGINT) AS min_v,
             CAST(max(doc_len) AS BIGINT) AS max_v,
             CAST(sum(doc_len) AS BIGINT) AS sum_v,
             CAST(sum(doc_len*doc_len) AS BIGINT) AS sum_sq
      FROM cand JOIN dl USING(doc_id)),
d AS (SELECT *,
             -- clamp before sqrt: float derivation of a ~0 variance can
             -- round to -epsilon past 2^53, and DuckDB's sqrt(<0) is a
             -- hard error (Spark twin clamps identically)
             greatest(CAST(sum_sq AS DOUBLE) / n_docs
               - (CAST(sum_v AS DOUBLE) / n_docs) * (CAST(sum_v AS DOUBLE) / n_docs),
               0.0) AS var_raw
      FROM s)
SELECT n_docs, min_v, max_v, sum_v, sum_sq,
       round(CAST(sum_v AS DOUBLE) / n_docs, 6) AS avg_v,
       round(var_raw, 6) AS variance,
       round(sqrt(var_raw), 6) AS std_dev
FROM d
""".strip()


def matrix_stats_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_matrix_stats (A73 — ES matrix_stats) for
    the (doc_len, doc_id) pair: the SAME exact-integer moment sums, the
    SAME float derivations — both engines divide identical longs, so the
    rounded statistics cannot drift with partition merge order."""
    return f"""
{_candidate_ctes(terms, mode, tok_sql)},
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(doc_len) AS BIGINT) AS sx,
             CAST(sum(doc_id) AS BIGINT) AS sy,
             CAST(sum(doc_len*doc_len) AS BIGINT) AS sxx,
             CAST(sum(doc_id*doc_id) AS BIGINT) AS syy,
             CAST(sum(doc_len*doc_id) AS BIGINT) AS sxy
      FROM cand JOIN dl USING(doc_id)),
d AS (SELECT n,
             CAST(sx AS DOUBLE) sx, CAST(sy AS DOUBLE) sy,
             CAST(sxx AS DOUBLE) sxx, CAST(syy AS DOUBLE) syy,
             CAST(sxy AS DOUBLE) sxy,
             CAST(n AS DOUBLE) nd
      FROM s),
v AS (SELECT n, nd, sx, sy,
             (sxx - sx*sx / nd) / (nd - 1) AS vx,
             (syy - sy*sy / nd) / (nd - 1) AS vy,
             (sxy - sx*sy / nd) / (nd - 1) AS cv
      FROM d)
SELECT n AS n_docs,
       round(sx / nd, 6) AS mean_x,
       round(sy / nd, 6) AS mean_y,
       round(CASE WHEN n > 1 THEN vx END, 6) AS var_x,
       round(CASE WHEN n > 1 THEN vy END, 6) AS var_y,
       round(CASE WHEN n > 1 THEN cv END, 6) AS covariance,
       round(CASE WHEN n > 1 AND vx > 0 AND vy > 0
                  THEN cv / sqrt(vx * vy) END, 6) AS correlation
FROM v
""".strip()


def string_stats_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "lang",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_string_stats (ES ``string_stats``):
    length stats + base-2 Shannon entropy of the character distribution
    over the candidate set's values of a documents column. Characters come
    from the same position-explode (``range`` is exclusive-stop, so empty
    values emit nothing — the Spark side filters them explicitly because
    ``sequence(1, 0)`` would descend); the entropy uses the identical
    ``log2(T) - sum(c*log2 c)/T`` derivation over exact integer counts."""
    return f"""
{_candidate_ctes(terms, mode, tok_sql)},
v AS (SELECT CAST({col} AS VARCHAR) AS v
      FROM cand JOIN documents USING(doc_id)),
lens AS (SELECT CAST(count(*) AS BIGINT) AS n_vals,
                CAST(min(length(v)) AS BIGINT) AS min_len,
                CAST(max(length(v)) AS BIGINT) AS max_len,
                CAST(sum(length(v)) AS BIGINT) AS sum_len
         FROM v),
ch AS (SELECT substr(v, CAST(i AS INTEGER), 1) AS ch
       FROM v, UNNEST(range(1, length(v) + 1)) AS u(i)),
cc AS (SELECT ch, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY 1),
e AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
             sum(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE))) AS sum_clog
      FROM cc)
SELECT n_vals, min_len, max_len,
       round(CAST(sum_len AS DOUBLE) / n_vals, 6) AS avg_len,
       round(CASE WHEN total > 0
                  THEN log2(CAST(total AS DOUBLE)) - sum_clog / total
                  ELSE 0.0 END, 6) AS entropy
FROM lens, e
""".strip()


def mad_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_mad (ES ``median_absolute_deviation``,
    exact variant): median(|x - median|) of doc_len over the candidate
    set, both medians via ``quantile_cont`` (== Spark's exact interpolated
    ``percentile``, the A60 identity)."""
    return f"""
{_candidate_ctes(terms, mode, tok_sql)},
v AS (SELECT CAST(doc_len AS DOUBLE) AS x FROM cand JOIN dl USING(doc_id)),
m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             quantile_cont(x, 0.5) AS med
      FROM v),
d AS (SELECT quantile_cont(abs(v.x - m.med), 0.5) AS mad_raw FROM v, m)
SELECT m.n_docs, round(m.med, 6) AS median_v, round(d.mad_raw, 6) AS mad
FROM m, d
""".strip()


def boxplot_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_boxplot (ES ``boxplot``, exact
    variant): min/q1/q2/q3/max/IQR of doc_len over the candidate set;
    quartiles via ``quantile_cont``, IQR derived from the UNROUNDED
    quartiles exactly as the Spark side does."""
    return f"""
{_candidate_ctes(terms, mode, tok_sql)},
s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(doc_len) AS BIGINT) AS min_v,
             CAST(max(doc_len) AS BIGINT) AS max_v,
             quantile_cont(doc_len, 0.25) AS q1r,
             quantile_cont(doc_len, 0.50) AS q2r,
             quantile_cont(doc_len, 0.75) AS q3r
      FROM cand JOIN dl USING(doc_id))
SELECT n_docs, min_v, max_v,
       round(q1r, 6) AS q1, round(q2r, 6) AS q2, round(q3r, 6) AS q3,
       round(q3r - q1r, 6) AS iqr
FROM s
""".strip()


def t_test_oracle_sql(
    terms_a: list[str],
    terms_b: list[str],
    mode: str = "conjunctive",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_t_test (ES ``t_test``, Welch variant,
    pinned to (t_stat, welch_df) — see the engine docstring for why the
    p-value step is out of scope for both engines): two candidate sets
    reduce to exact integer moment sums, the float derivation divides
    identical longs on both sides."""
    def _q(terms: list[str], qn: str, cn: str) -> tuple[str, str]:
        ts = list(dict.fromkeys(terms))
        if not ts:
            raise ValueError("empty term list")
        values = ",".join("('" + t.replace("'", "''") + "')" for t in ts)
        having = (
            f"HAVING count(DISTINCT term) = (SELECT count(*) FROM {qn})"
            if mode == "conjunctive"
            else ""
        )
        return (
            f"{qn}(term) AS (VALUES {values})",
            f"{cn} AS (SELECT doc_id FROM tf JOIN {qn} USING(term) "
            f"GROUP BY doc_id {having})",
        )

    qa, ca = _q(terms_a, "qa", "ca")
    qb, cb = _q(terms_b, "qb", "cb")
    return f"""
WITH tok AS ({tok_sql}),
tf   AS (SELECT doc_id, term, count(*) tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl   AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf GROUP BY 1),
{qa}, {ca},
{qb}, {cb},
sa AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
              CAST(sum(doc_len) AS BIGINT) AS sx_a,
              CAST(sum(doc_len*doc_len) AS BIGINT) AS sq_a
       FROM ca JOIN dl USING(doc_id)),
sb AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
              CAST(sum(doc_len) AS BIGINT) AS sx_b,
              CAST(sum(doc_len*doc_len) AS BIGINT) AS sq_b
       FROM cb JOIN dl USING(doc_id)),
v AS (SELECT n_a, n_b,
             CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
             CAST(sx_a AS DOUBLE) AS sxa, CAST(sx_b AS DOUBLE) AS sxb,
             (CAST(sq_a AS DOUBLE) - CAST(sx_a AS DOUBLE)*CAST(sx_a AS DOUBLE)/n_a) / (n_a - 1) AS va,
             (CAST(sq_b AS DOUBLE) - CAST(sx_b AS DOUBLE)*CAST(sx_b AS DOUBLE)/n_b) / (n_b - 1) AS vb
      FROM sa, sb),
w AS (SELECT *, va/nad + vb/nbd AS se2,
             (n_a > 1 AND n_b > 1) AS nok
      FROM v)
SELECT n_a, n_b,
       round(sxa / nad, 6) AS mean_a,
       round(sxb / nbd, 6) AS mean_b,
       round(CASE WHEN nok AND se2 > 0
                  THEN (sxa/nad - sxb/nbd) / sqrt(se2) END, 6) AS t_stat,
       round(CASE WHEN nok AND se2 > 0
                  THEN se2*se2 / ((va/nad)*(va/nad)/(nad-1)
                                  + (vb/nbd)*(vb/nbd)/(nbd-1)) END,
             6) AS welch_df
FROM w
""".strip()


def cardinality_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "lang",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_cardinality(exact=True) (A59 — ES
    cardinality agg): distinct values of a documents column over the
    candidate set."""
    return f"""
{_candidate_ctes(terms, mode, tok_sql)}
SELECT CAST(count(DISTINCT {col}) AS BIGINT) AS cardinality
FROM cand JOIN documents USING(doc_id)
""".strip()


def percentile_ranks_oracle_sql(
    terms: list[str],
    values: list[float],
    mode: str = "conjunctive",
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_percentile_ranks (ES percentile_ranks,
    exact inverse-interpolation variant): the SAME bracket statistics
    (count <=, neighbor order stats) and the SAME arithmetic, branch for
    branch, so the rounded percents cannot drift between engines."""
    if not values:
        raise ValueError("values must be non-empty")
    branches = []
    for v in values:
        fv = float(v)
        branches.append(f"""
SELECT CAST({fv} AS DOUBLE) AS value,
       ROUND(100.0 * CASE
         WHEN SUM(CASE WHEN doc_len <= {fv} THEN 1 ELSE 0 END) = 0 THEN 0.0
         WHEN SUM(CASE WHEN doc_len <= {fv} THEN 1 ELSE 0 END) = COUNT(*) THEN 1.0
         ELSE ((SUM(CASE WHEN doc_len <= {fv} THEN 1 ELSE 0 END) - 1.0)
               + ({fv} - MAX(CASE WHEN doc_len <= {fv} THEN CAST(doc_len AS DOUBLE) END))
               / (MIN(CASE WHEN doc_len > {fv} THEN CAST(doc_len AS DOUBLE) END)
                  - MAX(CASE WHEN doc_len <= {fv} THEN CAST(doc_len AS DOUBLE) END)))
              / (COUNT(*) - 1.0)
       END, 6) AS pct_rank
FROM cand JOIN dl USING(doc_id)""".strip())
    body = "\nUNION ALL\n".join(branches)
    return f"""
{_candidate_ctes(terms, mode, tok_sql)}
{body}
""".strip()


def percentiles_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    percentiles: tuple[float, ...] = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99),
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_percentiles (A60 — ES percentiles agg)
    over doc_len: DuckDB quantile_cont interpolates at rank p*(n-1),
    identical to Spark's exact percentile aggregate."""
    plist = ",".join(repr(float(p)) for p in percentiles)
    return f"""
{_candidate_ctes(terms, mode, tok_sql)},
v AS (SELECT quantile_cont(doc_len, [{plist}]) AS q
      FROM cand JOIN dl USING(doc_id))
SELECT CAST(unnest([{plist}]) AS DOUBLE) AS pct,
       round(unnest(q), 6) AS value FROM v
""".strip()


def term_vector_oracle_sql(doc_id: int) -> str:
    """Twin of plans.search.term_vector (A47 — ES _termvectors): (term,
    tf, 0-based first position) for one stored document."""
    return f"""
WITH arr AS (SELECT list_filter(string_split(text,' '), x -> x <> '') AS a
             FROM documents WHERE doc_id = {int(doc_id)}),
tok AS (SELECT unnest(a) AS term FROM arr)
SELECT term, CAST(count(*) AS BIGINT) AS tf,
       CAST(list_position((SELECT a FROM arr), term) - 1 AS BIGINT)
           AS first_pos
FROM tok GROUP BY term ORDER BY term
""".strip()


def synonym_oracle_sql(
    groups: list[list[str]],
    mode: str = "conjunctive",
    k: int = 10,
    round_digits: int = 6,
    tok_sql: str = DEFAULT_TOK_SQL,
) -> str:
    """Twin of plans.search.search_synonym (A41 — Lucene SynonymQuery):
    each group scores as one pseudo-term with tf = SUM of member tfs and
    df = MAX of member dfs; groups combine conjunctively/disjunctively."""
    if not groups or any(not g for g in groups):
        raise ValueError("groups must be non-empty lists of terms")
    values = ",".join(
        "('" + t.replace("'", "''") + f"', {gi})"
        for gi, g in enumerate(groups)
        for t in dict.fromkeys(g)
    )
    having = (
        "WHERE nmatch = (SELECT count(DISTINCT grp) FROM g)"
        if mode == "conjunctive"
        else ""
    )
    return f"""
WITH tok AS ({tok_sql}),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
g(term, grp) AS (VALUES {values}),
gdf AS (SELECT grp, max(df.df) AS df FROM g JOIN df USING(term) GROUP BY 1),
gtf AS (SELECT tf.doc_id, g.grp, sum(tf.tf) AS tf
        FROM tf JOIN g USING(term) GROUP BY 1, 2),
s AS (SELECT gtf.doc_id,
        sum( ln(1+(stats.n-gdf.df+0.5)/(gdf.df+0.5))
             * gtf.tf*(1.2+1)/(gtf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl)) ) raw_score,
        count(DISTINCT gtf.grp) nmatch
      FROM gtf JOIN gdf USING(grp) JOIN dl USING(doc_id), stats
      GROUP BY 1)
SELECT doc_id, round(raw_score, {round_digits}) AS score FROM s {having}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def match_bool_prefix_oracle_sql(
    query: str,
    mode: str = "conjunctive",
    k: int = 10,
    round_digits: int = 6,
    max_expansions: int = 50,
) -> str:
    """Twin of plans.search.search_match_bool_prefix (A104 — ES
    match_bool_prefix): fixed tokens as singleton synonym groups, the last
    token's prefix expansions as ONE blended group (tf = sum of member
    tfs, df = max member df — A41's convention); conjunctive = every
    group, disjunctive = any. The expansion group is built in SQL (LIKE
    prefix, term order, capped) so the twin can't drift from a stale
    hand-expanded list. The query is tokenized by the engine's own
    ``tokenize_py`` (whitespace analyzer: split, case kept — the index
    keeps case too), and the prefix's LIKE metacharacters are escaped so
    ``%`` and ``_`` match only themselves."""
    from miru_spark.functions.tokenize import tokenize_py

    toks = tokenize_py(query)
    if not toks:
        raise ValueError("empty query")
    fixed, prefix = toks[:-1], toks[-1]
    fixed_terms = list(dict.fromkeys(fixed))
    n_groups = len(fixed_terms) + 1  # + the prefix group
    fixed_sel = (
        "SELECT term, grp FROM (VALUES "
        + ",".join(
            f"('{_sql_quote(t)}', {i})" for i, t in enumerate(fixed_terms)
        )
        + ") v(term, grp) UNION ALL "
        if fixed_terms
        else ""
    )
    having = (
        f"WHERE nmatch = {n_groups}" if mode == "conjunctive" else ""
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
ex    AS (SELECT term FROM (
             SELECT DISTINCT term FROM tf
             WHERE term LIKE {_like_prefix(prefix)}
             ORDER BY term LIMIT {int(max_expansions)})),
g AS ({fixed_sel}SELECT term, {len(fixed_terms)} AS grp FROM ex),
gdf AS (SELECT grp, max(df.df) AS df FROM g JOIN df USING(term) GROUP BY 1),
gtf AS (SELECT tf.doc_id, g.grp, sum(tf.tf) AS tf
        FROM tf JOIN g USING(term) GROUP BY 1, 2),
s AS (SELECT gtf.doc_id,
        sum( ln(1+(stats.n-gdf.df+0.5)/(gdf.df+0.5))
             * gtf.tf*(1.2+1)/(gtf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl)) ) raw_score,
        count(DISTINCT gtf.grp) nmatch
      FROM gtf JOIN gdf USING(grp) JOIN dl USING(doc_id), stats
      GROUP BY 1)
SELECT doc_id, round(raw_score, {round_digits}) AS score FROM s {having}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_oracle_sql(
    terms: list[str],
    mode: str = "conjunctive",
    k: int = 10,
    round_digits: int = 6,
    exclude: list[str] | None = None,
    boosts: dict[str, float] | None = None,
    tok_sql: str = DEFAULT_TOK_SQL,
    meta_where: str | None = None,
    raw_where: str | None = None,
    min_match: int | None = None,
) -> str:
    """The matching DuckDB ANSI-SQL oracle (FIXTURES.md), same rounding.

    ``exclude`` mirrors :func:`bm25_from_model`'s boolean-NOT semantics:
    docs containing any excluded term are dropped after scoring.
    ``boosts`` multiplies a term's idf contribution (Lucene ``term^w``).
    ``tok_sql`` swaps the tokenization CTE (e.g. code-mode tokenization over
    a decorated corpus) — everything downstream of ``tok`` is unchanged.
    ``meta_where`` is a SQL predicate over ``documents`` metadata columns —
    the twin of the engine's ``where=`` filter (A34): candidates outside
    the filter are dropped, surviving docs keep their corpus-wide BM25
    scores (df/avgdl from the FULL corpus — Lucene filtered-query
    semantics, not search-within-subcorpus).
    ``min_match`` (A49, ES minimum_should_match) keeps only docs matching
    at least that many distinct query terms; scores still sum over all
    matched terms.
    """
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    exclude = list(dict.fromkeys(exclude or []))
    boosts = boosts or {}
    values = ",".join(
        "('" + t.replace("'", "''") + f"', {float(boosts.get(t, 1.0))!r})"
        for t in terms
    )
    wheres = []
    if mode == "conjunctive":
        wheres.append("nmatch = (SELECT count(*) FROM q)")
    elif min_match is not None and int(min_match) > 1:
        wheres.append(f"nmatch >= {int(min_match)}")
    xq_cte = ""
    if exclude:
        xvalues = ",".join("('" + t.replace("'", "''") + "')" for t in exclude)
        xq_cte = f",\nxq(term) AS (VALUES {xvalues})"
        wheres.append(
            "doc_id NOT IN (SELECT doc_id FROM tf JOIN xq USING(term))"
        )
    if meta_where:
        wheres.append(
            f"doc_id IN (SELECT doc_id FROM documents WHERE {meta_where})"
        )
    if raw_where:
        # raw predicate on the RESULT doc_id (e.g. tombstone exclusion for
        # the upsert twin, where the filtered ids aren't rows of
        # ``documents`` and meta_where therefore can't reach them)
        wheres.append(f"({raw_where})")
    where = ("WHERE " + " AND ".join(wheres)) if wheres else ""
    return f"""
WITH tok AS ({tok_sql}),
tf    AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM tok WHERE term<>'' GROUP BY 1,2),
dl    AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
df    AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
q(term, boost) AS (VALUES {values}){xq_cte},
s AS (SELECT tf.doc_id,
        sum( q.boost * ln(1+(stats.n-df.df+0.5)/(df.df+0.5))
             * tf.tf*(1.2+1)/(tf.tf+1.2*(1-0.75+0.75*dl.dl/stats.avgdl)) ) raw_score,
        count(*) nmatch
      FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc_id), stats
      GROUP BY 1)
SELECT doc_id, round(raw_score, {round_digits}) AS score FROM s {where}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def bm25_multifield_oracle_sql(
    terms: list[str],
    field_toks: dict[str, tuple[str, float]],
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int = 6,
) -> str:
    """DuckDB twin of plans.multifield (A36 — ES ``most_fields``): one
    BM25 pipeline per field (own tf/dl/stats/df), weighted-summed per doc.
    ``field_toks`` maps field name -> (tokenization SQL producing
    (doc_id, term), weight). Conjunctive requires every query term in at
    least one field (count of DISTINCT matched terms over the union)."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    values = ",".join("('" + t.replace("'", "''") + "')" for t in terms)
    names = sorted(field_toks)
    ctes, score_exprs, match_sels = [], [], []
    for i, fname in enumerate(names):
        tok_sql, weight = field_toks[fname]
        ctes.append(
            f"tok{i} AS ({tok_sql}),\n"
            f"tf{i} AS (SELECT doc_id, term, count(*)::DOUBLE tf "
            f"FROM tok{i} WHERE term<>'' GROUP BY 1,2),\n"
            f"dl{i} AS (SELECT doc_id, sum(tf) dl FROM tf{i} GROUP BY 1),\n"
            f"st{i} AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl{i}),\n"
            f"df{i} AS (SELECT term, count(*)::DOUBLE df FROM tf{i} GROUP BY 1),\n"
            f"s{i} AS (SELECT tf{i}.doc_id,\n"
            f"    sum( ln(1+(st{i}.n-df{i}.df+0.5)/(df{i}.df+0.5))\n"
            f"      * tf{i}.tf*(1.2+1)/(tf{i}.tf+1.2*(1-0.75+0.75*dl{i}.dl/st{i}.avgdl)) ) raw\n"
            f"  FROM tf{i} JOIN q USING(term) JOIN df{i} USING(term) "
            f"JOIN dl{i} USING(doc_id), st{i} GROUP BY 1)"
        )
        score_exprs.append(f"coalesce(s{i}.raw, 0) * {float(weight)!r}")
        match_sels.append(
            f"SELECT doc_id, term FROM tf{i} JOIN q USING(term)"
        )
    conj = (
        "WHERE nterm = (SELECT count(*) FROM q)"
        if mode == "conjunctive"
        else ""
    )
    joins = "\n  ".join(f"LEFT JOIN s{i} USING(doc_id)" for i in range(len(names)))
    cte_block = ",\n".join(ctes)
    match_block = " UNION ALL ".join(match_sels)
    score_block = " + ".join(score_exprs)
    return f"""
WITH q(term) AS (VALUES {values}),
{cte_block},
m AS (SELECT doc_id, count(DISTINCT term) nterm
      FROM ({match_block}) GROUP BY 1)
SELECT m.doc_id, round({score_block}, {round_digits}) AS score
FROM m
  {joins}
{conj}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()
