"""The driver fetch seeks chunk rows through the reader's term locator:
the rows equal a full scan of the same postings, one reader serves many
threads, and no file handle outlives a call."""

from __future__ import annotations

import gc
import os
import random
import sys
import threading

import pyarrow.parquet as pq

from miru_spark.index import snapshots as snapmod
from miru_spark.index.reader import IndexReader
from miru_spark.plans.search import search_distributed, search_facets, search_topk
from tests.conftest import SF_DIR, fetched_rows, scanned_rows


def _vocab(index_path: str) -> list[str]:
    return sorted(pq.read_table(f"{index_path}/df", columns=["term"])
                  .column("term").to_pylist())


def test_fetch_keeps_isin_semantics(reader, index_path):
    """Duplicate terms yield one row set each, absent terms are omitted,
    and the rows are exactly the ones a full scan finds."""
    terms = ["the", "join", "the", "zz_absent", "hash", "join"]
    got = reader.fetch_terms(terms)
    assert set(got) == {"the", "join", "hash"}
    assert fetched_rows(reader, terms) == scanned_rows(
        reader, ["the", "join", "hash"]
    )
    assert fetched_rows(reader, ["the", "the"]) == fetched_rows(reader, ["the"])
    assert reader.fetch_terms(["zz_absent"]) == {}
    assert reader.fetch_terms([]) == {}
    # every term of the vocabulary, in one call
    vocab = _vocab(index_path)
    assert fetched_rows(reader, vocab) == scanned_rows(reader, vocab)


def test_shared_reader_threads_match_sequential(spark, index_path):
    """16 threads share one fresh reader (so they race on the lazy locator
    build) and each serves a slice of mixed conjunctive/disjunctive
    queries; every result equals a sequential run, with no errors."""
    vocab = _vocab(index_path)
    rng = random.Random(7)
    queries = [
        (rng.sample(vocab + ["zz_absent"], rng.randint(1, 4)),
         ("conjunctive", "disjunctive")[i % 2])
        for i in range(192)
    ]
    seq_reader = IndexReader(spark, index_path)
    want = [search_topk(seq_reader, t, mode=m, k=10) for t, m in queries]

    shared = IndexReader(spark, index_path)
    n_threads, per_thread = 16, 60
    start = threading.Barrier(n_threads)
    got: dict[int, list] = {}
    errors: list[Exception] = []

    def work(i: int) -> None:
        try:
            start.wait()
            for j in range(i * 12, i * 12 + per_thread):
                q = j % len(queries)
                t, m = queries[q]
                got.setdefault(q, []).append(search_topk(shared, t, mode=m, k=10))
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often: races show sooner
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(got) == len(queries)
    for q, results in got.items():
        assert all(r == want[q] for r in results), queries[q]
    # each partition was built once: no file footer cached twice
    paths = [p for p, _ in shared._locator._files]
    assert len(paths) == len(set(paths))


def test_shared_reader_distributed_threads_match_sequential(spark, index_path):
    """Eight threads share one fresh reader, so its postings relation, its
    docmap relation and its terms-index dfs are all first built
    concurrently; each thread's distributed top-k and facet counts equal a
    sequential run, with no errors."""
    vocab = _vocab(index_path)
    rng = random.Random(11)
    queries = [
        (rng.sample(vocab, rng.randint(1, 3)), ("conjunctive", "disjunctive")[i % 2])
        for i in range(8)
    ]

    def serve(reader, terms, mode):
        return (
            search_distributed(reader, terms, mode=mode).collect(),
            sorted(search_facets(reader, terms, mode, facet_col="lang").collect()),
        )

    seq_reader = IndexReader(spark, index_path)
    want = [serve(seq_reader, t, m) for t, m in queries]

    shared = IndexReader(spark, index_path)
    start = threading.Barrier(len(queries))
    got: dict[int, tuple] = {}
    errors: list[Exception] = []

    def work(i: int) -> None:
        try:
            start.wait()
            got[i] = serve(shared, *queries[i])
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(len(queries))]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert [got[i] for i in range(len(queries))] == want
    paths = [p for p, _ in shared._locator._files]
    assert len(paths) == len(set(paths))


def _fd_count() -> int:
    gc.collect()
    return len(os.listdir("/proc/self/fd"))


def test_readers_hold_no_file_handles(spark, index_path, tmp_path):
    """50 live readers that have each served queries hold no more file
    descriptors than none; purge_deleted and vacuum then succeed with a
    reader still open on the index."""
    from pyspark.sql import functions as F

    from miru_spark.index.writer import build_index, delete_docs, purge_deleted
    from miru_spark.schema import read_corpus

    queries = [(["join", "hash"], "conjunctive"), (["the", "dup"], "disjunctive")]

    def serve(r: IndexReader) -> None:
        for t, m in queries:
            search_topk(r, t, mode=m, k=10)
        r.fetch_terms(_vocab(index_path))

    serve(IndexReader(spark, index_path))  # warm imports and caches
    base = _fd_count()
    live = []
    for _ in range(50):
        r = IndexReader(spark, index_path)
        serve(r)
        live.append(r)
    assert _fd_count() == base
    del live, r
    assert _fd_count() == base

    idx = str(tmp_path / "snapidx")
    corpus = read_corpus(spark, SF_DIR)
    build_index(spark, corpus, idx, num_partitions=4, target_chunk=64,
                snapshots=True)
    old = IndexReader(spark, idx)
    before = search_topk(old, ["the", "dup"], mode="disjunctive", k=10)
    dead = before[0][0]
    delete_docs(idx, [dead])
    purge_deleted(spark, idx)
    assert snapmod.vacuum(idx, keep_snapshots=1)
    new = IndexReader(spark, idx)
    after = search_topk(new, ["the", "dup"], mode="disjunctive", k=10)
    assert after and dead not in {d for d, _ in after}
    assert new.n_docs == corpus.filter(F.col("doc_id") != dead).count()

