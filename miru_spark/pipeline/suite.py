"""Driver registry entries for the training-data pipeline operators.

Oracle-checked where ANSI SQL can express the semantics (exact dedup, exact
n-gram Jaccard, brute-force cosine, quality features, frame sampling);
rows-only for the randomized-but-seeded approximate structures (MinHash,
SimHash, LSH, IVF) whose guarantees are covered by dedicated pytest
properties instead (recall vs the exact twin, determinism across runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _emb(spark, sf):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


# ---- dedup ----------------------------------------------------------------

def q_dedup_exact(spark, sf):
    from miru_spark.pipeline.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf)).select(
        "keep_doc_id", "n_docs"
    ).orderBy("keep_doc_id")


SQL_DEDUP_EXACT = """
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
FROM documents GROUP BY sha256(text) HAVING COUNT(*) > 1 ORDER BY keep_doc_id
"""


def q_dedup_exact_keep(spark, sf):
    from miru_spark.pipeline.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf)).select("doc_id").orderBy("doc_id")


SQL_DEDUP_EXACT_KEEP = """
SELECT doc_id FROM (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rk
  FROM documents
) WHERE rk = 1 ORDER BY doc_id
"""


def q_dedup_ngram_jaccard(spark, sf):
    from miru_spark.pipeline.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf), threshold=0.12)


def sql_dedup_ngram_jaccard():
    from miru_spark.pipeline.dedup import ngram_jaccard_oracle_sql

    return ngram_jaccard_oracle_sql(threshold=0.12)


def q_dedup_minhash(spark, sf):
    from miru_spark.pipeline.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf), threshold=0.12)


def q_dedup_simhash(spark, sf):
    """SimHash candidates + exact-Jaccard verify (the production recipe
    shape): at radius 10 the chunk buckets recall every exact pair on this
    corpus (pinned by test_dedup_clusters), so the exact-pairs SQL is a
    value oracle. Pure hamming-distance pairs stay pytest-covered."""
    from miru_spark.pipeline.dedup import simhash_jaccard_pairs

    return simhash_jaccard_pairs(_docs(spark, sf), max_hamming=10, threshold=0.12)


def q_dedup_minhash_clusters(spark, sf):
    """Components over the exact-verified MinHash candidate PAIRS: with
    full banding recall (pinned at these params) the edge set equals the
    exact pair set, so the recursive-CTE components SQL is a sound value
    oracle. The star-edge variant (minhash_dedup_clusters) is the
    O(m)-per-cluster scale path but only verifies doc<->bucket-min edges,
    so its components are NOT in general the exact-pair components — it
    stays pytest-covered, never SQL-oracled (review finding, round 4)."""
    from miru_spark.pipeline.dedup import minhash_jaccard_clusters

    return minhash_jaccard_clusters(_docs(spark, sf), threshold=0.12)


def q_dedup_simhash_clusters(spark, sf):
    from miru_spark.pipeline.dedup import simhash_jaccard_clusters

    return simhash_jaccard_clusters(
        _docs(spark, sf), max_hamming=10, threshold=0.12
    )


# ---- similarity -----------------------------------------------------------

_QUERY_VEC: dict[str, list[float]] = {}


def _query_vec(spark, sf) -> list[float]:
    if sf not in _QUERY_VEC:
        row = _emb(spark, sf).filter(F.col("vec_id") == 0).collect()[0]
        _QUERY_VEC[sf] = [float(x) for x in row["embedding"]]
    return _QUERY_VEC[sf]


# query vector = vec_id 0's embedding, resolved inside the SQL itself so the
# oracle stays a static string for any sf_dir
SQL_ANN_BRUTE = """
SELECT vec_id,
       ROUND(list_cosine_similarity(embedding::DOUBLE[],
             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS cos
FROM embeddings ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def q_ann_brute(spark, sf):
    from miru_spark.pipeline.similarity import cosine_topk_bruteforce

    return cosine_topk_bruteforce(_emb(spark, sf), _query_vec(spark, sf), k=10)


def q_ann_int8(spark, sf):
    from miru_spark.pipeline.similarity import ann_int8_topk

    return ann_int8_topk(_emb(spark, sf), _query_vec(spark, sf), k=10, rerank=50)


def q_knn_filtered(spark, sf):
    from miru_spark.pipeline.similarity import cosine_topk_filtered

    return cosine_topk_filtered(
        _emb(spark, sf), _query_vec(spark, sf), label_in=[3, 7], k=10
    )


def q_cosine_pairs(spark, sf):
    from miru_spark.pipeline.similarity import cosine_near_pairs

    return cosine_near_pairs(_emb(spark, sf), threshold=0.5)


def q_dedup_embedding(spark, sf):
    from miru_spark.pipeline.similarity import embedding_dedup

    return embedding_dedup(_emb(spark, sf), threshold=0.4)


def q_semantic_dedup(spark, sf):
    """SemDeDup at n_clusters=1: the cluster restriction is vacuous, so
    the result provably equals the exact embedding_dedup and shares its
    oracle — the same full-probe identity trick as the ANN rows.
    Multi-cluster recall is pytest's job (test_similarity)."""
    from miru_spark.pipeline.similarity import semantic_dedup

    return semantic_dedup(_emb(spark, sf), n_clusters=1, threshold=0.4)


def q_ann_lsh(spark, sf):
    """LSH probe at max_hamming = n_bits: every bucket is a candidate, so
    the exact-cosine rerank returns the true top-k and the brute-force SQL
    is a valid value oracle. Pruned-radius recall is pytest's job
    (test_similarity LSH recall block)."""
    from miru_spark.pipeline.similarity import ann_lsh_topk

    return ann_lsh_topk(
        _emb(spark, sf), _query_vec(spark, sf), k=10, n_bits=16,
        max_hamming=16,
    )


def q_dedup_spans(spark, sf):
    """Exact duplicate-span stats (ExactSubstr dedup bookkeeping)."""
    from miru_spark.pipeline.dedup import duplicate_span_stats

    return duplicate_span_stats(_docs(spark, sf), k=5, min_docs=2)


def dedup_spans_sql():
    from miru_spark.pipeline.dedup import duplicate_span_stats_oracle_sql

    return duplicate_span_stats_oracle_sql(k=5, min_docs=2)


def q_ann_ivfpq(spark, sf):
    """IVF-PQ (product quantization): 16-byte codes instead of raw floats,
    ADC scoring, exact-cosine rerank — the compressed-domain ANN scale
    path. Full probe + a rerank window covering the whole sf0.01 table
    (500 vectors) means the exact rerank IS brute force, so the
    brute-force SQL oracles the row; windowed-rerank recall is pytest's
    job (test_ivfpq)."""
    from miru_spark.pipeline.similarity import ann_ivfpq_topk

    emb = _emb(spark, sf)
    return ann_ivfpq_topk(
        emb, _query_vec(spark, sf), k=10, n_clusters=8, m=16, n_codes=32,
        n_probe=8, rerank=512,
    )


def q_ann_ivf(spark, sf):
    """IVF probe at n_probe = n_clusters: every cluster directory is read,
    so the exact-cosine rerank equals brute force and the brute-force SQL
    oracles the row. Pruned-probe recall is pytest's job."""
    from miru_spark.pipeline.similarity import ann_ivf_topk

    return ann_ivf_topk(
        _emb(spark, sf), _query_vec(spark, sf), k=10, n_clusters=16,
        n_probe=16,
    )


# ---- text analysis --------------------------------------------------------

_CLEAN_PARAMS = dict(
    allowed_langs=("en", "es"), min_quality=0.55, min_tokens=15,
    max_top2gram=0.07, max_dup_token=0.68, sample_rate=0.8,
)


def q_clean(spark, sf):
    from pyspark.sql import functions as F

    from miru_spark.pipeline.clean import clean_corpus

    docs = _docs(spark, sf)
    clones = docs.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    aug = docs.select("doc_id", "text").unionByName(
        clones.select("doc_id", "text")
    )
    return clean_corpus(aug, **_CLEAN_PARAMS)


def sql_clean():
    from miru_spark.pipeline.clean import clean_oracle_sql

    return clean_oracle_sql(
        corpus_sql=(
            "SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0"
        ),
        **_CLEAN_PARAMS,
    )


def q_ccnet_buckets(spark, sf):
    from miru_spark.pipeline.lm import ccnet_buckets, train_bigram_lm

    docs = _docs(spark, sf)
    bg, uni, v = train_bigram_lm(docs)
    return ccnet_buckets(docs, bg, uni, v)


def q_perplexity(spark, sf):
    from miru_spark.pipeline.lm import perplexity, train_bigram_lm

    docs = _docs(spark, sf)
    bg, uni, v = train_bigram_lm(docs)
    return perplexity(docs, bg, uni, v)


def q_text_quality(spark, sf):
    from miru_spark.pipeline.textqual import text_quality

    return text_quality(_docs(spark, sf))


def q_token_stats(spark, sf):
    from miru_spark.pipeline.textqual import token_stats

    return token_stats(_docs(spark, sf))


def q_token_counts(spark, sf):
    from miru_spark.pipeline.textqual import token_counts

    return token_counts(_docs(spark, sf))


def q_pack(spark, sf):
    from miru_spark.pipeline.packing import pack_sequences

    # small bucket_width so the two-level prefix sum is non-trivially
    # exercised (many buckets) even at oracle scale
    return pack_sequences(_docs(spark, sf), seq_len=512, bucket_width=37)


def q_lang_id(spark, sf):
    from miru_spark.pipeline.textqual import lang_id

    return lang_id(_docs(spark, sf)).orderBy("doc_id")


def q_winnow_pairs(spark, sf):
    from miru_spark.pipeline.textqual import winnow_overlap_pairs

    return winnow_overlap_pairs(_docs(spark, sf), min_shared=2)


def q_contamination(spark, sf):
    from miru_spark.pipeline.textqual import contamination_flags

    # docs 0-9 stand in for the benchmark/eval set
    return contamination_flags(_docs(spark, sf), benchmark_ids=list(range(10)), n=8)


def q_contamination_bloom(spark, sf):
    """The broadcast-Bloom scale path for the same decontamination: eval
    grams packed into 2^20 bits, probed per-doc in one mapInPandas scan —
    no join. With a filter this generous the FP expectation at this corpus
    size is ~1e-7 and hashing is deterministic, so the output is stably
    identical to the exact semi-join oracle (the no-false-negative
    superset property is what the dedicated pytest pins)."""
    from miru_spark.pipeline.bloom import (
        build_ngram_bloom,
        contamination_flags_bloom,
    )

    docs = _docs(spark, sf)
    ids = list(range(10))
    bits = build_ngram_bloom(docs, ids, n=8, n_bits=1 << 20, k_hashes=4)
    return contamination_flags_bloom(docs, ids, bits, n=8)


_HTML_PRE = ('<html><head><style>p{color:red}</style></head><body>'
             '<h1>Doc</h1><p class="c">')
_HTML_POST = ('</p><!-- crawler note --><script type="t">if (a<b) {x}'
              '</script>&amp;amp; &lt;tag&gt;&nbsp;</body></html>')


def q_html_extract(spark, sf):
    """HTML text extraction (pipeline/extract.py): every doc wrapped in a
    deterministic HTML shell exercising script-body removal (a raw '<'
    inside code), comments, attributes, double-escaped entities and
    nbsp — the extracted text must round back to 'Doc ' + text + the
    unescaped tail, bit-identical to the SQL twin."""
    from miru_spark.pipeline.extract import strip_html

    decorated = _docs(spark, sf).select(
        "doc_id",
        F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST)).alias(
            "text"
        ),
    )
    return (
        strip_html(decorated)
        .select("doc_id", "clean_text")
        .orderBy("doc_id")
    )


def _html_extract_sql() -> str:
    from miru_spark.pipeline.extract import strip_html_sql

    pre = _HTML_PRE.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    inner = strip_html_sql(f"'{pre}' || text || '{post}'")
    return (
        f"SELECT doc_id, {inner} AS clean_text FROM documents ORDER BY doc_id"
    )


def q_redact(spark, sf):
    # PII-shaped redaction plumbing over the JSON-bearing events table:
    # digit runs -> '#'. The pattern is chosen to behave identically in
    # Java regex and DuckDB RE2 so the driver hash-checks the rewrite.
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.select(
            "event_id",
            F.regexp_replace(F.col("props"), "[0-9]+", "#").alias("redacted"),
        )
        .orderBy("event_id")
        .limit(500)
    )


SQL_REDACT = """
SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS redacted
FROM events ORDER BY event_id LIMIT 500
""".strip()


def q_grep_content(spark, sf):
    # grep over document CONTENT (not the vocabulary): per-doc match counts
    # of a pattern from the Java-regex/RE2 common subset; the doc filter is
    # whole-stage codegen over the scan, no UDF
    d = _docs(spark, sf)
    pat = "(jo|ha)[a-z]+"
    return (
        d.select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
        .orderBy("doc_id")
    )


SQL_GREP = r"""
SELECT doc_id, CAST(len(regexp_extract_all(text, '(jo|ha)[a-z]+')) AS BIGINT)
         AS n_matches
FROM documents
WHERE len(regexp_extract_all(text, '(jo|ha)[a-z]+')) > 0
ORDER BY doc_id
""".strip()


def q_repetition(spark, sf):
    from miru_spark.pipeline.textqual import repetition_stats

    return repetition_stats(_docs(spark, sf))


# ---- sampling -------------------------------------------------------------

def q_hash_sample(spark, sf):
    from miru_spark.pipeline.sampling import hash_sample

    return hash_sample(_docs(spark, sf), rate=0.25).select("doc_id").orderBy("doc_id")


_MIX_WEIGHTS = {"en": 0.5, "zh": 0.3, "fr": 0.2}


def q_mixture_sample(spark, sf):
    from miru_spark.pipeline.sampling import mixture_sample

    return (
        mixture_sample(_docs(spark, sf), _MIX_WEIGHTS, domain_col="lang")
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


def q_stratified_sample(spark, sf):
    from miru_spark.pipeline.sampling import stratified_sample

    return (
        stratified_sample(_docs(spark, sf), n_per_stratum=5)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


def q_dsir_weights(spark, sf):
    from miru_spark.pipeline.dsir import dsir_weights

    return dsir_weights(_docs(spark, sf), "lang = 'en'", n_buckets=512)


def q_dsir_resample(spark, sf):
    from miru_spark.pipeline.dsir import dsir_resample

    return dsir_resample(_docs(spark, sf), "lang = 'en'", k=25, n_buckets=512)


# ---- multimodal -----------------------------------------------------------

def q_media_features(spark, sf):
    from miru_spark.pipeline.multimodal import extract_features, synthesize_media

    return (
        extract_features(synthesize_media(_docs(spark, sf)))
        .select("media_id", "width", "height", "mean_px")
        .orderBy("media_id")
    )


def q_frame_sample(spark, sf):
    from miru_spark.pipeline.multimodal import frame_sample, videos_from_events

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return frame_sample(videos_from_events(ev), every_k=10)


def sql_frame_sample():
    from miru_spark.pipeline.multimodal import frame_sample_oracle_sql

    return frame_sample_oracle_sql(every_k=10)


def register_all(register) -> None:
    """16 pipeline driver entries (was 23): same-family cases packed into
    tagged-union composites; tags = the old entry names."""
    from miru_spark.pipeline.sampling import (
        mixture_sample_oracle_sql,
        hash_sample_oracle_sql,
        stratified_sample_oracle_sql,
    )
    from miru_spark.pipeline.similarity import (
        cosine_near_pairs_oracle_sql,
        embedding_dedup_oracle_sql,
        filtered_knn_oracle_sql,
    )
    from miru_spark.pipeline.textqual import (
        TOKEN_STATS_SQL,
        contamination_oracle_sql,
        lang_id_oracle_sql,
        repetition_oracle_sql,
        text_quality_oracle_sql,
        token_counts_oracle_sql,
    )
    from miru_spark.pipeline.lm import (
        ccnet_buckets_oracle_sql,
        perplexity_oracle_sql,
    )
    from miru_spark.pipeline.packing import pack_sequences_oracle_sql
    from miru_spark.pipeline.dsir import dsir_oracle_sql
    from miru_spark.plans.composite import register_composite

    register_composite(register, "pipe_dedup_exact", [
        ("pipe_dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT,
         ("keep_doc_id", "n_docs")),
        ("pipe_dedup_exact_keep", q_dedup_exact_keep, SQL_DEDUP_EXACT_KEEP,
         ("doc_id",)),
        # ExactSubstr span dedup (Lee et al. 2022): per-doc tokens covered
        # by k-grams occurring verbatim in >= 2 docs
        ("pipe_dedup_spans", q_dedup_spans, dedup_spans_sql(),
         ("doc_id", "n_tokens", "n_removed")),
    ])
    register("pipe_dedup_ngram_jaccard", q_dedup_ngram_jaccard, sql_dedup_ngram_jaccard())
    # value-oracled since r4: every member verifies its banded candidates
    # with EXACT n-gram Jaccard, and both banding schemes give full recall
    # at these params on this corpus (pinned by pytest), so the exact-pairs
    # SQL — and its recursive-CTE components twin — are real value oracles.
    # Pure hamming-distance SimHash pairs stay pytest-covered (their values
    # are hash-geometry-specific, like winnow fingerprints).
    from miru_spark.pipeline.dedup import (
        components_oracle_sql,
        ngram_jaccard_oracle_sql,
    )

    exact_pairs_sql = ngram_jaccard_oracle_sql(0.12)
    clusters_sql = components_oracle_sql(exact_pairs_sql)
    register_composite(register, "pipe_dedup_fingerprint", [
        ("pipe_dedup_minhash_lsh", q_dedup_minhash, exact_pairs_sql,
         ("doc_a", "doc_b", "jaccard")),
        ("pipe_dedup_simhash", q_dedup_simhash, exact_pairs_sql,
         ("doc_a", "doc_b", "jaccard")),
        ("pipe_dedup_minhash_clusters", q_dedup_minhash_clusters,
         clusters_sql, ("doc_id", "cluster_rep")),
        ("pipe_dedup_simhash_clusters", q_dedup_simhash_clusters,
         clusters_sql, ("doc_id", "cluster_rep")),
    ])
    register_composite(register, "pipe_similarity", [
        ("pipe_ann_cosine_brute", q_ann_brute, SQL_ANN_BRUTE, ("vec_id", "cos")),
        # int8 scalar quantization (Lucene int8_hnsw storage trade):
        # compressed-domain scan + exact rerank — the rerank window covers
        # the top-k exactly, so this row is value-oracled against the same
        # brute-force cosine SQL
        ("pipe_ann_int8", q_ann_int8, SQL_ANN_BRUTE, ("vec_id", "cos")),
        # A87 filtered kNN (ES knn filter): label predicate PRE-filters
        # the candidate set, so k survivors come from the filtered set
        ("pipe_knn_filtered", q_knn_filtered,
         filtered_knn_oracle_sql([3, 7]), ("vec_id", "cos")),
        ("pipe_cosine_near_pairs", q_cosine_pairs,
         cosine_near_pairs_oracle_sql(0.5), ("id_a", "id_b", "cos")),
        ("pipe_dedup_embedding", q_dedup_embedding,
         embedding_dedup_oracle_sql(0.4), ("vec_id",)),
        # SemDeDup (Abbas 2023): cluster-then-dedup-within; oracled at
        # n_clusters=1 where it equals the exact twin by construction
        ("pipe_semantic_dedup", q_semantic_dedup,
         embedding_dedup_oracle_sql(0.4), ("vec_id",)),
    ])
    # Each member runs at full probe (every bucket / cluster scanned) with
    # an exact-cosine rerank, so its value provably equals brute force and
    # the brute-force SQL is a real oracle; pruned-probe recall stays in
    # pytest (test_similarity, test_ivfpq).
    register_composite(register, "pipe_ann", [
        ("pipe_ann_lsh", q_ann_lsh, SQL_ANN_BRUTE, ("vec_id", "cos")),
        ("pipe_ann_ivf", q_ann_ivf, SQL_ANN_BRUTE, ("vec_id", "cos")),
        ("pipe_ann_ivfpq", q_ann_ivfpq, SQL_ANN_BRUTE, ("vec_id", "cos")),
    ])
    register_composite(register, "pipe_text_quality", [
        ("pipe_text_quality", q_text_quality, text_quality_oracle_sql(),
         ("doc_id", "n_chars", "n_tokens", "avg_token_len",
          "stopword_ratio", "quality_score")),
        # end-to-end cleaning pipeline (Dolma/CCNet recipe shape): lang ->
        # quality -> repetition -> exact dedup -> hash sample, each doc
        # attributed to the FIRST stage that removed it; corpus is
        # dup-augmented (every 25th doc cloned) so the dedup stage is
        # non-vacuous
        ("pipe_clean", q_clean, sql_clean(), ("doc_id", "stage")),
        # HTML text extraction (the C4/CCNet step everything downstream
        # runs on): script/style/comment/tag strip + pinned entity
        # unescape, bit-identical Java-regex vs RE2 twin
        ("pipe_html_extract", q_html_extract, _html_extract_sql(),
         ("doc_id", "clean_text")),
    ])
    register_composite(register, "pipe_tokens", [
        ("pipe_token_stats", q_token_stats, TOKEN_STATS_SQL,
         ("bucket", "n_docs")),
        ("pipe_token_counts", q_token_counts, token_counts_oracle_sql(),
         ("doc_id", "n_ws_tokens", "n_bpe_tokens", "chars_per_token")),
        # bigram-LM perplexity (the CCNet quality signal): self-trained
        # add-k model, train + score are pure hash-agg/join plans
        ("pipe_perplexity", q_perplexity, perplexity_oracle_sql(),
         ("doc_id", "n_bigrams", "avg_nll", "ppl")),
        # CCNet head/middle/tail bucketing: PER-LANGUAGE perplexity
        # terciles (a global cut would drop whole languages); one window
        # shuffle keyed on lang on top of the perplexity plan
        ("pipe_ccnet_buckets", q_ccnet_buckets, ccnet_buckets_oracle_sql(),
         ("doc_id", "lang", "ppl", "ppl_bucket")),
        # sequence packing (concat-and-chunk pretraining layout): per-doc
        # placement map via a two-level exclusive prefix sum — no global
        # single-partition window at scale
        ("pipe_pack", q_pack, pack_sequences_oracle_sql(512),
         ("doc_id", "n_tokens", "seq_id", "seq_off", "n_seqs")),
    ])
    register("pipe_lang_id", q_lang_id, lang_id_oracle_sql())
    register("pipe_winnow_pairs", q_winnow_pairs, None)
    register("pipe_repetition", q_repetition, repetition_oracle_sql())
    register_composite(register, "pipe_contamination", [
        ("pipe_contamination", q_contamination,
         contamination_oracle_sql(list(range(10)), n=8), ("doc_id",)),
        # Bloom broadcast-bits scale path, same oracle (deterministic
        # identity at this size; no-false-negatives pinned in pytest)
        ("pipe_contamination_bloom", q_contamination_bloom,
         contamination_oracle_sql(list(range(10)), n=8), ("doc_id",)),
    ])
    register("pipe_redact", q_redact, SQL_REDACT)
    register("pipe_grep_content", q_grep_content, SQL_GREP)
    register_composite(register, "pipe_sample", [
        ("pipe_hash_sample", q_hash_sample, hash_sample_oracle_sql(0.25),
         ("doc_id",)),
        ("pipe_stratified_sample", q_stratified_sample,
         stratified_sample_oracle_sql(5), ("source", "doc_id")),
        # DSIR importance resampling (Xie 2023): hashed-bigram likelihood
        # ratio vs the lang='en' target — weights for every doc, then the
        # top-k selected subset; md5 bucket hash is engine-identical
        # domain-mixture resampling (Pile/DoReMi-style reweighting):
        # largest subsample matching the target lang mixture, per-domain
        # md5-threshold Bernoulli filters with rates derived from counts
        # in BOTH engines (no inlined rate list to drift)
        ("pipe_mixture_sample", q_mixture_sample,
         mixture_sample_oracle_sql(_MIX_WEIGHTS),
         ("lang", "doc_id")),
        ("pipe_dsir_weights", q_dsir_weights,
         dsir_oracle_sql("lang = 'en'", n_buckets=512),
         ("doc_id", "n_bigrams", "log_w")),
        ("pipe_dsir_resample", q_dsir_resample,
         dsir_oracle_sql("lang = 'en'", k=25, n_buckets=512),
         ("doc_id", "log_w")),
    ])
    register("pipe_media_features", q_media_features, None)
    register("pipe_frame_sample", q_frame_sample, sql_frame_sample())
