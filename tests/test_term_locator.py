"""The driver fetch looks chunk rows up through the reader's term locator
in the rows it holds resident: the rows equal a full scan of the same
postings, one reader serves many threads, the resident bytes stay under
their bound and cover what the rows hold, and no file handle outlives a
call."""

from __future__ import annotations

import gc
import os
import random
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq

from miru_spark.index import reader as reader_mod
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


def test_shared_reader_threads_match_sequential(spark, index_path, monkeypatch):
    """16 threads share one fresh reader (so they race on the lazy locator
    build and on materialising each chunk row) and each serves
    a slice of mixed conjunctive/disjunctive queries; every result equals
    a sequential run, with no errors."""
    vocab = _vocab(index_path)
    rng = random.Random(7)
    queries = [
        (rng.sample(vocab + ["zz_absent"], rng.randint(1, 4)),
         ("conjunctive", "disjunctive")[i % 2])
        for i in range(192)
    ]
    seq_reader = IndexReader(spark, index_path)
    want = [search_topk(seq_reader, t, mode=m, k=10) for t, m in queries]

    loads = []
    chunk_rows = reader_mod._chunk_rows

    def counted(*args):
        rows, sizes = chunk_rows(*args)
        loads.extend(rows)
        return rows, sizes

    monkeypatch.setattr(reader_mod, "_chunk_rows", counted)
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
    # and no chunk row was materialised twice: every one is still resident
    assert loads and len(loads) == len(shared._locator._rows)


def test_resident_rows_bounded_and_evicted(spark, index_path, monkeypatch):
    """A byte bound far below the index forces eviction in load order:
    results equal a fresh default reader's, and the resident bytes never
    exceed the bound."""
    vocab = _vocab(index_path)
    rng = random.Random(5)
    queries = [
        (rng.sample(vocab, rng.randint(1, 3)), ("conjunctive", "disjunctive")[i % 2])
        for i in range(60)
    ]
    ref = IndexReader(spark, index_path)
    want = [search_topk(ref, t, mode=m, k=10) for t, m in queries]
    want_rows = fetched_rows(ref, vocab)
    sizes = sorted(n for _, n in ref._locator._rows.values())
    assert len(sizes) > 4
    bound = sizes[-1] + sizes[-2]  # room for about two rows at a time
    monkeypatch.setattr(reader_mod, "_RESIDENT_BYTES", bound)
    small = IndexReader(spark, index_path)
    loc = small._locator
    for (t, m), w in zip(queries, want):
        assert search_topk(small, t, mode=m, k=10) == w
        assert loc._held == sum(n for _, n in loc._rows.values()) <= bound
    assert fetched_rows(small, vocab) == want_rows
    assert loc._held <= bound and len(loc._rows) < len(ref._locator._rows)
    # a bound smaller than any row keeps nothing and still serves
    monkeypatch.setattr(reader_mod, "_RESIDENT_BYTES", 1)
    tiny = IndexReader(spark, index_path)
    assert fetched_rows(tiny, vocab) == want_rows
    assert tiny._locator._rows == {} and tiny._locator._held == 0


def test_counted_bytes_cover_rare_term_rows(spark, tmp_path, monkeypatch):
    """The bytes the store counts for chunk rows of rare terms (tiny blobs,
    so the Python objects dominate) cover what ``tracemalloc`` sees the
    rows hold, without overstating it by much; the locator serves that
    index exactly as a full scan does, also when a miss materialises only
    the missed rows of a row group."""
    import tracemalloc

    from miru_spark.index.writer import build_index
    from miru_spark.schema import corpus_from_documents

    docs = spark.createDataFrame(
        [(d, " ".join(f"r{d * 3 + j:05d}" for j in range(3)), "en", "s", 20)
         for d in range(300)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    idx = str(tmp_path / "rare")
    build_index(spark, corpus_from_documents(docs), idx, num_partitions=2)
    reader = IndexReader(spark, idx)
    vocab = _vocab(idx)
    assert len(vocab) == 900
    want = scanned_rows(reader, vocab)
    assert fetched_rows(reader, vocab) == want
    assert len(reader._locator._rows) == len(vocab)  # one chunk row a term
    # row groups above the whole-group size: only missed rows are kept
    monkeypatch.setattr(reader_mod, "_WHOLE_GROUP_ROWS", 0)
    per_row = IndexReader(spark, idx)
    some = vocab[::50]
    assert fetched_rows(per_row, some) == scanned_rows(reader, some)
    assert len(per_row._locator._rows) == len(some)
    assert fetched_rows(per_row, vocab) == want

    groups = [
        (os.path.join(d, f), rg)
        for d, _, fs in os.walk(f"{idx}/postings")
        for f in fs
        if f.endswith(".parquet")
        for rg in range(pq.ParquetFile(os.path.join(d, f)).num_row_groups)
    ]
    # all 900 rare-term rows in one call, so per-call noise is negligible
    tbl = pa.concat_tables(
        pq.ParquetFile(f).read_row_group(rg, columns=reader_mod._FETCH_COLUMNS)
        for f, rg in groups
    )
    gc.collect()
    tracemalloc.start()
    try:
        rows, sizes = reader_mod._chunk_rows(tbl, reader.avgdl, False)
        gc.collect()
        traced = tracemalloc.get_traced_memory()[0]
    finally:
        tracemalloc.stop()
    assert len(rows) == tbl.num_rows == len(vocab)
    counted = sum(sizes)
    # the count covers what the rows hold without overstating it by much
    assert traced <= counted <= 1.25 * traced


def test_row_load_does_not_block_other_fetches(spark, index_path, monkeypatch):
    """While one thread materialises a term's chunk rows, a fetch of
    another partition's term completes, and a second fetch of the stalled
    term waits for that load and shares its rows instead of loading
    again."""
    vocab = _vocab(index_path)
    slow = vocab[0]
    other = next(t for t in vocab
                 if reader_mod.term_pref_py(t) != reader_mod.term_pref_py(slow))
    entered, release = threading.Event(), threading.Event()
    loads = []
    chunk_rows = reader_mod._chunk_rows

    def stalled(tbl, *args):
        loads.append(tbl.column("term").to_pylist())
        if slow in loads[-1]:
            entered.set()
            assert release.wait(60)
        return chunk_rows(tbl, *args)

    monkeypatch.setattr(reader_mod, "_chunk_rows", stalled)
    reader = IndexReader(spark, index_path)
    got: dict[str, dict] = {}

    def fetch(name: str, term: str) -> None:
        got[name] = reader.fetch_terms([term])

    first = threading.Thread(target=fetch, args=("first", slow))
    first.start()
    assert entered.wait(60)
    second = threading.Thread(target=fetch, args=("second", slow))
    second.start()
    third = threading.Thread(target=fetch, args=("other", other))
    third.start()
    third.join(timeout=60)
    try:
        assert not third.is_alive() and "other" in got
        assert "first" not in got and "second" not in got
    finally:
        release.set()
        first.join(timeout=60)
        second.join(timeout=60)
    a, b = got["first"][slow].chunks, got["second"][slow].chunks
    assert a and len(a) == len(b) and all(x is y for x, y in zip(a, b))
    # no chunk row was materialised twice: every one is still resident
    assert sum(map(len, loads)) == len(reader._locator._rows)
    fresh = IndexReader(spark, index_path)
    assert fetched_rows(reader, [slow, other]) == fetched_rows(fresh, [slow, other])


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

