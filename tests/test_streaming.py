from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from miru_spark.schema import read_corpus
from tests.conftest import SF_DIR, fetched_rows, scanned_rows


@pytest.fixture(scope="module")
def corpus_drops(spark, tmp_path_factory):
    """sf0.001 corpus split into two parquet 'drops' (arrival chunks)."""
    d = str(tmp_path_factory.mktemp("drops"))
    corpus = read_corpus(spark, SF_DIR)
    corpus.filter(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(d)
    corpus.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(d)
    return d


def test_incremental_index_matches_batch(spark, tmp_path, corpus_drops, reader):
    """Stream the corpus in micro-batches, finalize, and get the SAME search
    results as the batch-built index of the same corpus."""
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans.search import search_topk
    from miru_spark.streaming.incremental import (
        finalize_streamed_index,
        incremental_index_stream,
        stream_corpus,
    )

    idx = str(tmp_path / "stream_idx")
    stream = stream_corpus(spark, corpus_drops)
    q = incremental_index_stream(
        stream, idx, docs_per_part=63, num_partitions=8
    )
    q.awaitTermination(120)
    stats = finalize_streamed_index(spark, idx, num_partitions=8, target_chunk=64)
    assert stats["n_docs"] == 500

    r2 = IndexReader(spark, idx)
    for terms, mode in [
        (["join", "hash"], "conjunctive"),
        (["the", "dup"], "disjunctive"),
        (["a", "data", "scan"], "disjunctive"),
    ]:
        a = search_topk(reader, terms, mode=mode, k=10)
        b = search_topk(r2, terms, mode=mode, k=10)
        assert [d for d, _ in a] == [d for d, _ in b]
        np.testing.assert_allclose(
            [s for _, s in a], [s for _, s in b], rtol=0, atol=1e-9
        )


def test_windowed_event_counts(spark, tmp_path):
    from miru_spark.streaming.incremental import windowed_event_counts

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = str(tmp_path / "ev")
    events.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = windowed_event_counts(stream, window="1 day", watermark="2 days")
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT event_type, sum(n) AS n FROM wincounts GROUP BY event_type")
        .collect()
    )
    exp = {
        r.event_type: r.n
        for r in events.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    # append mode only emits windows the watermark has closed; with a finite
    # stream the last open windows stay unemitted, so compare <= and coverage
    got_map = {r.event_type: r.n for r in got}
    assert set(got_map) <= set(exp)
    assert sum(got_map.values()) > 0
    for k, v in got_map.items():
        assert v <= exp[k]


def test_running_source_stats_stateful(spark, tmp_path):
    from miru_spark.streaming.incremental import running_source_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = str(tmp_path / "docs")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = running_source_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("srcstats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per source == batch totals (state carried across batches)
    final = {
        r.source: (r.n_docs, r.n_chars)
        for r in spark.sql(
            """SELECT source, n_docs, n_chars FROM (
                 SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_docs DESC) rk
                 FROM srcstats) WHERE rk = 1"""
        ).collect()
    }
    exp = {
        r.source: (r.n, r.c)
        for r in docs.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("c"))
        .collect()
    }
    assert final == exp


def test_session_windows(spark, tmp_path):
    from miru_spark.streaming.incremental import sessionized_user_activity

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = str(tmp_path / "sess")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = sessionized_user_activity(stream, gap="6 hours", watermark="10 days")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) n, sum(n_events) tot FROM sessions").collect()[0]
    # closed sessions only (append mode); they must cover most events and
    # every session must respect the gap invariant start <= end
    assert got.n > 0 and got.tot > 0
    bad = spark.sql(
        "SELECT count(*) c FROM sessions WHERE session_end < session_start"
    ).collect()[0].c
    assert bad == 0


def test_delta_merge_leaves_untouched_chunks_byte_identical(spark, tmp_path):
    """A second micro-batch that touches only SOME terms must re-merge only
    those terms: postings files in term_pref directories containing no
    touched term stay byte-identical on disk (the stats-free chunk format is
    what makes this possible), and search over the delta-merged index equals
    a from-scratch batch build of the full corpus."""
    import hashlib
    import os

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index, term_pref_py
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus
    from miru_spark.streaming.incremental import (
        finalize_streamed_index,
        incremental_index_stream,
        stream_corpus,
    )

    corpus = read_corpus(spark, SF_DIR)
    drops = str(tmp_path / "drops")
    idx = str(tmp_path / "idx")
    # drop 1: most of the corpus
    corpus.filter(F.col("doc_id") < 480).coalesce(1).write.mode("append").parquet(drops)
    q = incremental_index_stream(stream_corpus(spark, drops), idx, docs_per_part=63,
                                 num_partitions=8)
    q.awaitTermination(120)
    finalize_streamed_index(spark, idx, target_chunk=64)

    def file_hashes(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    open(p, "rb").read()
                ).hexdigest()
        return out

    before = file_hashes(f"{idx}/postings")

    # drop 2: a handful more docs -> only their terms get touched
    corpus.filter(F.col("doc_id") >= 480).coalesce(1).write.mode("append").parquet(drops)
    q = incremental_index_stream(stream_corpus(spark, drops), idx, docs_per_part=63,
                                 num_partitions=8)
    q.awaitTermination(120)
    finalize_streamed_index(spark, idx, target_chunk=64)
    after = file_hashes(f"{idx}/postings")

    touched_terms = {
        r.term
        for r in spark.read.parquet(f"{idx}/segments")
        .filter(F.col("batch") >= 1)
        .select("term")
        .distinct()
        .collect()
    }
    touched_prefs = {f"term_pref={term_pref_py(t)}" for t in touched_terms}
    untouched = {
        p: h for p, h in before.items() if p.split("/")[0] not in touched_prefs
    }
    assert untouched, "test needs at least one untouched term_pref dir"
    for p, h in untouched.items():
        assert after.get(p) == h, f"untouched file rewritten: {p}"

    # and the delta-merged index ranks identically to a fresh batch build
    batch_idx = str(tmp_path / "batch_idx")
    build_index(spark, corpus, batch_idx, num_partitions=8, target_chunk=64)
    ra, rb = IndexReader(spark, idx), IndexReader(spark, batch_idx)
    for terms, mode in [(["join", "hash"], "conjunctive"), (["the", "dup"], "disjunctive")]:
        a = search_topk(ra, terms, mode=mode, k=10)
        b = search_topk(rb, terms, mode=mode, k=10)
        assert a == b

    # one driver fetch spanning an untouched (required-field) file and a
    # re-merged (optional-field) one decodes to the batch build's postings
    import pyarrow.parquet as pq

    pick = {}
    for p in sorted(after):
        if p.endswith(".parquet"):
            path = f"{idx}/postings/{p}"
            nullable = pq.read_schema(path).field("term").nullable
            pick.setdefault(
                nullable, pq.read_table(path, columns=["term"])["term"][0].as_py()
            )
    assert set(pick) == {False, True}, "need both file generations"
    terms = [pick[False], pick[True], "zz_absent"]
    assert fetched_rows(ra, terms) == scanned_rows(ra, terms)
    got, ref = ra.fetch_terms(terms), rb.fetch_terms(terms)
    assert set(got) == set(ref) == set(pick.values())
    for t in ref:
        for x, y in zip(ra.decode_term(got[t]), rb.decode_term(ref[t])):
            np.testing.assert_array_equal(x, y)


def test_streamed_positional_index_serves_phrase(spark, tmp_path):
    """A positions=True streamed index serves phrase queries identically to
    the relational twin."""
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans.relational import bm25_phrase_search
    from miru_spark.plans.search import search_phrase
    from miru_spark.schema import read_corpus
    from miru_spark.streaming.incremental import (
        finalize_streamed_index,
        incremental_index_stream,
        stream_corpus,
    )

    corpus = read_corpus(spark, SF_DIR)
    drops = str(tmp_path / "drops")
    idx = str(tmp_path / "idx")
    corpus.filter(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(drops)
    corpus.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(drops)
    q = incremental_index_stream(
        stream_corpus(spark, drops), idx, docs_per_part=63, num_partitions=8,
        positions=True,
    )
    q.awaitTermination(120)
    finalize_streamed_index(spark, idx, target_chunk=64)
    r = IndexReader(spark, idx)
    assert r.positions
    got = search_phrase(r, "the a", k=10)
    want = [
        (x.doc_id, x.score)
        for x in bm25_phrase_search(corpus, "the a", k=10).collect()
    ]
    assert [(d, round(s, 6)) for d, s in got] == want


def test_streamed_index_serves_prefix_and_fuzzy(spark, tmp_path):
    """The streaming finalize writes the SAME sorted term dictionary as the
    batch build, so prefix/fuzzy/suggest serve from streamed indexes too."""
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_prefix
    from miru_spark.schema import read_corpus
    from miru_spark.streaming.incremental import (
        finalize_streamed_index,
        incremental_index_stream,
        stream_corpus,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    corpus = read_corpus(spark, SF_DIR)
    n = corpus.count()
    drops = str(tmp_path / "drops")
    corpus.filter(F.col("doc_id") < n // 2).coalesce(1).write.mode("append").parquet(drops)
    corpus.filter(F.col("doc_id") >= n // 2).coalesce(1).write.mode("append").parquet(drops)
    idx = str(tmp_path / "sidx")
    q = incremental_index_stream(
        stream_corpus(spark, drops), idx, docs_per_part=max(1, -(-n // 4)),
        num_partitions=4,
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    finalize_streamed_index(spark, idx, num_partitions=4)
    streamed = IndexReader(spark, idx)

    bidx = str(tmp_path / "bidx")
    build_index(spark, corpus, bidx, num_partitions=4)
    batch = IndexReader(spark, bidx)

    assert streamed.expand_prefix("s") == batch.expand_prefix("s")
    assert streamed.expand_fuzzy("hsh") == batch.expand_fuzzy("hsh")
    assert search_prefix(streamed, "s", k=10) == search_prefix(batch, "s", k=10)


def test_finalize_rejects_mixed_positional_batches(spark, tmp_path):
    """Positions toggled mid-stream must fail fast (r2 ADVICE): a silent
    merge would drop position streams for mixed terms while stats.json
    still claimed positions=true. Two guards: a config-conflict check at
    stream restart, and a segment-level check at finalize for indexes whose
    meta predates the recorded config."""
    import os

    from miru_spark.streaming.incremental import (
        finalize_streamed_index,
        incremental_index_stream,
        stream_corpus,
    )

    corpus = read_corpus(spark, SF_DIR)
    n = corpus.count()
    half = n // 2
    idx = str(tmp_path / "idx")
    drops = str(tmp_path / "drops")
    # one source dir + one checkpoint: the second run resumes from the
    # checkpointed offsets, so the new file lands as batch 1 (not a
    # restarted batch 0 that would overwrite the first run's segments)
    corpus.filter(F.col("doc_id") < half).coalesce(1).write.mode("append").parquet(drops)
    q = incremental_index_stream(
        stream_corpus(spark, drops), idx,
        docs_per_part=max(1, -(-n // 4)), num_partitions=4, positions=False,
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    corpus.filter(F.col("doc_id") >= half).coalesce(1).write.mode("append").parquet(drops)
    # guard 1: the restart with flipped positions= is refused up front
    with pytest.raises(ValueError, match="conflicts with"):
        incremental_index_stream(
            stream_corpus(spark, drops), idx,
            docs_per_part=max(1, -(-n // 4)), num_partitions=4, positions=True,
        )
    # guard 2: with the recorded config gone (pre-meta index), the mixed
    # batches land and finalize's segment-level check catches them
    os.remove(f"{idx}/_stream_meta.json")
    q = incremental_index_stream(
        stream_corpus(spark, drops), idx,
        docs_per_part=max(1, -(-n // 4)), num_partitions=4, positions=True,
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    with pytest.raises(ValueError, match="mix positional"):
        finalize_streamed_index(spark, idx, num_partitions=4)


def test_align_chunk_columns_fills_missing_blob_bytes(spark):
    """Carried delta rows from a pre-lineage-columns index lack blob_bytes
    (or read it as null in a mixed-generation scan) — the align helper
    synthesizes it from the blob length instead of failing the select."""
    import pytest as _pytest

    from miru_spark.streaming.incremental import _align_chunk_columns

    df = spark.createDataFrame([("t", b"abc")], "term string, blob binary")
    out = _align_chunk_columns(df, ["term", "blob", "blob_bytes"])
    assert out.collect()[0].blob_bytes == 3
    df2 = spark.createDataFrame(
        [("t", b"abcd", None)], "term string, blob binary, blob_bytes long"
    )
    assert (
        _align_chunk_columns(df2, ["term", "blob", "blob_bytes"])
        .collect()[0].blob_bytes == 4
    )
    with _pytest.raises(ValueError, match="lack columns"):
        _align_chunk_columns(df, ["term", "blob", "df_chunk"])


def test_stream_dedup_kills_cross_batch_replays(spark, tmp_path):
    """At-least-once replay: the SAME events land twice, one file per
    micro-batch. dropDuplicates state must persist across batches — the
    output holds exactly one copy of every event."""
    import pyspark.sql.functions as F

    from miru_spark.streaming.incremental import dedup_event_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n = events.count()
    src = str(tmp_path / "drops")
    events.coalesce(1).write.mode("append").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_event_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    out = spark.sql("SELECT event_id FROM dedup_t")
    assert out.count() == n  # not 2n: every replay died
    assert out.distinct().count() == n
    # sanity: the source genuinely contained every id twice
    raw = spark.read.parquet(src)
    assert raw.count() == 2 * n


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Clicks and views arrive as two independent two-file streams, split
    at a KNOWN attributed pair (its view in micro-batch 1, its click in
    micro-batch 2) so at least one match provably crosses batches and must
    meet in persisted symmetric-hash join state; the streamed attribution
    must equal the batch join exactly and contain that crossing pair."""
    from miru_spark.streaming.incremental import attributed_clicks
    from miru_spark.streaming.suite import attribution_stream_sources

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    c_src, v_src = str(tmp_path / "clicks"), str(tmp_path / "views")
    cross_click, cross_view = attribution_stream_sources(
        spark, events, c_src, v_src
    )
    clicks = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(c_src)
    )
    views = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(v_src)
    )
    q = (
        attributed_clicks(clicks, views, within="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r.click_id, r.view_id, r.user_id)
        for r in spark.sql("SELECT * FROM attrib").collect()
    )
    c = events.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("cts"),
    )
    v = events.filter("event_type = 'view'").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("vts"),
    )
    want = sorted(
        (r.click_id, r.view_id, r.user_id)
        for r in c.join(v, "user_id")
        .filter("vts <= cts AND vts >= cts - INTERVAL 1 HOUR")
        .collect()
    )
    assert got == want and len(want) > 0
    # the engineered cross-batch pair really is in the streamed output
    assert any(
        cid == cross_click and vid == cross_view for cid, vid, _ in got
    )


def test_stream_percolate_matches_batch(spark, tmp_path):
    """Streaming percolation == the batch percolator on the same corpus and
    registered queries, with docs arriving across TWO micro-batches (one
    file per trigger) — statelessness means the union over batches is
    exact; an exclude-bearing and a disjunctive query are both in the set."""
    from miru_spark.plans.percolate import percolate
    from miru_spark.schema import read_corpus
    from miru_spark.streaming.incremental import percolate_stream
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = str(tmp_path / "percsrc")
    docs.coalesce(2).write.mode("overwrite").parquet(src)
    qrows = [
        (1, ["join", "hash"], "conjunctive", []),
        (2, ["dup", "tree"], "disjunctive", []),
        (3, ["the"], "conjunctive", ["dup"]),
        (4, ["the", "the"], "conjunctive", []),  # dup terms must still match
        (5, [], "conjunctive", []),  # empty terms match nothing
    ]
    qdf = spark.createDataFrame(
        qrows,
        "query_id long, terms array<string>, mode string, exclude array<string>",
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        percolate_stream(stream, qdf)
        .writeStream.format("memory")
        .queryName("percs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r.doc_id, r.query_id)
        for r in spark.sql("SELECT * FROM percs").collect()
    )
    want = sorted(
        (r.doc_id, r.query_id)
        for r in percolate(read_corpus(spark, SF_DIR), qdf).collect()
    )
    assert got == want and len(want) > 0
    qids = {q for _, q in got}
    assert {1, 2, 3, 4} <= qids and 5 not in qids
    # the stateless plan never grew a state store
    assert q.lastProgress["stateOperators"] in ([], None)
