"""Iceberg-style snapshot commits: atomicity, time travel, file sharing,
manifest pruning, vacuum (miru_spark/index/snapshots.py)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from miru_spark.index import snapshots as snapmod
from miru_spark.index.reader import IndexReader
from miru_spark.index.writer import build_index
from miru_spark.plans.search import search_distributed, search_topk
from miru_spark.schema import read_corpus
from tests.conftest import SF_DIR, fetched_rows, scanned_rows


@pytest.fixture(scope="module")
def snap_stream_idx(spark, tmp_path_factory):
    """Streamed index finalized TWICE through the snapshot protocol:
    snapshot 1 covers docs < 480, snapshot 2 the full corpus."""
    from miru_spark.streaming.incremental import (
        finalize_streamed_index,
        incremental_index_stream,
        stream_corpus,
    )

    base = tmp_path_factory.mktemp("snapstream")
    drops, idx = str(base / "drops"), str(base / "idx")
    corpus = read_corpus(spark, SF_DIR)
    corpus.filter(F.col("doc_id") < 480).coalesce(1).write.mode("append").parquet(drops)
    q = incremental_index_stream(stream_corpus(spark, drops), idx,
                                 docs_per_part=63, num_partitions=8)
    q.awaitTermination(120)
    finalize_streamed_index(spark, idx, target_chunk=64, snapshots=True)
    corpus.filter(F.col("doc_id") >= 480).coalesce(1).write.mode("append").parquet(drops)
    q = incremental_index_stream(stream_corpus(spark, drops), idx,
                                 docs_per_part=63, num_partitions=8)
    q.awaitTermination(120)
    finalize_streamed_index(spark, idx, target_chunk=64, snapshots=True)
    return idx


def test_snapshot_build_and_search(spark, tmp_path, reader):
    idx = str(tmp_path / "snapidx")
    build_index(spark, read_corpus(spark, SF_DIR), idx, num_partitions=8,
                target_chunk=64, snapshots=True)
    assert snapmod.current_snapshot_id(idx) == 1
    r = IndexReader(spark, idx)
    assert r.snapshot is not None
    for terms, mode in [(["join", "hash"], "conjunctive"), (["the", "dup"], "disjunctive")]:
        assert search_topk(r, terms, mode=mode, k=10) == search_topk(
            reader, terms, mode=mode, k=10
        )


def test_snapshot_commit_is_atomic(spark, tmp_path, reader):
    """Uncommitted data files (written but pointer not flipped) must be
    invisible: a reader opened mid-'crash' serves the old version."""
    idx = str(tmp_path / "atomidx")
    build_index(spark, read_corpus(spark, SF_DIR), idx, num_partitions=8,
                target_chunk=64, snapshots=True)
    before = search_topk(IndexReader(spark, idx), ["the", "dup"], mode="disjunctive", k=10)
    # simulate a crashed second build: files appended, snapshot written,
    # but the current pointer NOT flipped
    pre = snapmod._walk_postings(idx)
    from miru_spark.operators.merge import merge_segments
    from miru_spark.index.writer import term_pref_col
    from miru_spark.operators.segments import build_segments

    segs = build_segments(read_corpus(spark, SF_DIR).limit(50), 4, n_docs=500)
    merge_segments(segs, target_chunk=64).withColumn(
        "term_pref", term_pref_col(F.col("term"))
    ).write.mode("append").partitionBy("term_pref").parquet(f"{idx}/postings")
    assert snapmod._walk_postings(idx) != pre  # orphans exist on disk
    after = search_topk(IndexReader(spark, idx), ["the", "dup"], mode="disjunctive", k=10)
    assert after == before  # reader never saw the uncommitted files
    removed = snapmod.vacuum(idx)
    assert removed  # the orphans are garbage-collected
    assert snapmod._walk_postings(idx) == pre


def test_snapshot_delta_shares_untouched_files(spark, snap_stream_idx):
    s1 = snapmod.read_snapshot(snap_stream_idx, 1)
    s2 = snapmod.read_snapshot(snap_stream_idx, 2)
    assert s2["parent"] == 1 and s2["operation"] == "delta-merge"
    shared = set(s1["files"]) & set(s2["files"])
    assert shared, "delta snapshot must reuse untouched files verbatim"
    # shared files are the SAME bytes (never rewritten)
    for rel in shared:
        assert os.path.exists(os.path.join(snap_stream_idx, rel))


def test_snapshot_time_travel(spark, snap_stream_idx):
    """Snapshot 1 must serve exactly the pre-second-batch index: same
    results as a fresh batch build over docs < 480, including stats."""
    import tempfile

    corpus = read_corpus(spark, SF_DIR).filter(F.col("doc_id") < 480)
    ref_idx = tempfile.mkdtemp(prefix="snapref_")
    build_index(spark, corpus, ref_idx, num_partitions=8, target_chunk=64)
    ref = IndexReader(spark, ref_idx)
    old = IndexReader(spark, snap_stream_idx, snapshot_id=1)
    cur = IndexReader(spark, snap_stream_idx)
    assert old.n_docs == 480 and cur.n_docs == 500
    for terms, mode in [(["join", "hash"], "conjunctive"), (["the", "dup"], "disjunctive")]:
        assert search_topk(old, terms, mode=mode, k=10) == search_topk(
            ref, terms, mode=mode, k=10
        )
        assert search_distributed(old, terms, mode=mode).collect() == (
            search_distributed(ref, terms, mode=mode).collect()
        )
    # and the current snapshot differs (the new docs changed the corpus)
    assert cur.stats != old.stats


def test_snapshot_seek_mixes_file_generations(spark, snap_stream_idx, reader):
    """The delta snapshot mixes required-field files (carried from
    snapshot 1) with optional-field ones (re-merged); one fetch spanning
    both reads the rows a manifest-driven scan reads, and decodes to the
    postings of a fresh batch build. The time-travelled reader seeks its
    own snapshot's rows."""
    import pyarrow.parquet as pq

    pick: dict[bool, str] = {}
    for rel in snapmod.read_snapshot(snap_stream_idx, 2)["files"]:
        path = os.path.join(snap_stream_idx, rel)
        nullable = pq.read_schema(path).field("term").nullable
        pick.setdefault(
            nullable, pq.read_table(path, columns=["term"])["term"][0].as_py()
        )
    assert set(pick) == {False, True}, "need both file generations"
    cur = IndexReader(spark, snap_stream_idx)
    old = IndexReader(spark, snap_stream_idx, snapshot_id=1)
    terms = [pick[False], pick[True], "the", "join", "zz_absent"]
    for r in (cur, old):
        assert fetched_rows(r, terms) == scanned_rows(r, terms)
    got, ref = cur.fetch_terms(terms), reader.fetch_terms(terms)
    assert set(got) == set(ref)
    for t in ref:
        for a, b in zip(cur.decode_term(got[t]), reader.decode_term(ref[t])):
            np.testing.assert_array_equal(a, b)


def test_snapshot_vacuum_keeps_current(spark, snap_stream_idx):
    # vacuum in a copy so other tests keep their history
    import shutil
    import tempfile

    idx = tempfile.mkdtemp(prefix="snapvac_")
    shutil.rmtree(idx)
    shutil.copytree(snap_stream_idx, idx)
    assert snapmod.list_snapshots(idx) == [1, 2]
    snapmod.vacuum(idx, keep_snapshots=1)
    assert snapmod.list_snapshots(idx) == [2]
    live = set(snapmod.read_snapshot(idx, 2)["files"])
    assert snapmod._walk_postings(idx) == live  # exactly the live files remain
    r = IndexReader(spark, idx)
    assert search_topk(r, ["join", "hash"], mode="conjunctive", k=10)
    with pytest.raises(FileNotFoundError):
        IndexReader(spark, idx, snapshot_id=1)


def test_snapshot_manifest_pruning(spark, tmp_path):
    """fetch_terms on a snapshot index opens only files whose manifest
    term_pref matches — deleting every other file leaves results intact."""
    from miru_spark.index.writer import term_pref_py

    idx = str(tmp_path / "pruneidx")
    build_index(spark, read_corpus(spark, SF_DIR), idx, num_partitions=8,
                target_chunk=64, snapshots=True)
    r = IndexReader(spark, idx)
    before = search_topk(r, ["join"], mode="conjunctive", k=10)
    keep_pref = term_pref_py("join")
    snap = snapmod.read_snapshot(idx)
    for rel, pref in snap["files"].items():
        if pref != keep_pref:
            os.unlink(os.path.join(idx, rel))
    after = search_topk(IndexReader(spark, idx), ["join"], mode="conjunctive", k=10)
    assert after == before
