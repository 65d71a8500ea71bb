"""Physical-plan assertions — the ``.explain`` evidence that the engine's
plans survive scale-up (SURVEY.md section 4):

* the pruned postings scan actually prunes term_pref directory partitions
  AND pushes the ``term IN`` filter into the parquet scan;
* corpus scans push predicates and prune columns (ReadSchema shrinks);
* the tiny sides of the BM25 relational join are broadcast, not shuffled;
* the relational path keeps whole-stage codegen spans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from miru_spark.index.reader import IndexReader
from tests.conftest import SF_DIR


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_postings_scan_prunes_partitions_and_pushes_term_filter(spark, index_path):
    reader = IndexReader(spark, index_path)
    df = reader.postings_df(["join", "hash"])
    plan = _plan(df)
    assert "PartitionFilters" in plan
    # the term_pref filter must land in PartitionFilters (directory pruning),
    # and the term IN filter must be pushed to the parquet reader
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "term_pref" in pf
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "term" in pushed and "In(term" in pushed


def test_corpus_scan_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_orderkey") < 100)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "LessThan(l_orderkey,100)" in plan
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_comment" not in schema and "l_extendedprice" not in schema


def test_bm25_relational_broadcasts_stats(spark):
    from miru_spark.plans.relational import bm25_search_relational
    from miru_spark.schema import read_corpus

    df = bm25_search_relational(read_corpus(spark, SF_DIR), ["join", "hash"])
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_whole_stage_codegen_on_scan_filter(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") > 10)
        .select("l_orderkey")
    )
    # non-AQE leaf plan: codegen stages print as "*(n)" spans
    raw = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in raw


def test_search_distributed_broadcasts_term_df(spark, index_path):
    from miru_spark.plans.search import search_distributed

    reader = IndexReader(spark, index_path)
    df = search_distributed(reader, ["join", "hash"], mode="conjunctive")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_docmap_scan_reads_only_needed_columns(spark, index_path):
    reader = IndexReader(spark, index_path)
    df = reader.docmap_df().select("doc_id", "doc_len")
    plan = _plan(df)
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "content_sha256" not in schema


def test_merge_has_no_vocabulary_broadcast(spark):
    """The segment merge must not broadcast any vocabulary-sized table: with
    auto-broadcast forced off, its plan contains NO BroadcastExchange at all
    (df_global/bucketing are windows over the one term-partitioned shuffle).
    At real code-corpus vocabularies (1e8-1e9 terms) a df-table broadcast
    would OOM the executors."""
    from miru_spark.operators.merge import merge_segments
    from miru_spark.operators.segments import build_segments
    from miru_spark.schema import read_corpus

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        segs = build_segments(read_corpus(spark, SF_DIR), 4, n_docs=500)
        plan = _plan(merge_segments(segs, target_chunk=64))
        assert "BroadcastExchange" not in plan
        # exactly one exchange shuffles segment rows by term
        assert plan.count("Exchange") >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_facets_prune_docmap_columns(spark, index_path):
    """The facet join must read only (doc_id, facet) from the docmap —
    content_sha256/path/commit never leave the parquet scan."""
    from miru_spark.plans.search import search_facets

    reader = IndexReader(spark, index_path)
    plan = _plan(search_facets(reader, ["join", "hash"], facet_col="lang"))
    for line in plan.splitlines():
        if "ReadSchema" in line and "lang" in line:
            assert "content_sha256" not in line and "path" not in line
            break
    else:
        raise AssertionError("no docmap ReadSchema with lang found in plan")


def test_not_distributed_is_anti_join(spark, index_path):
    """Distributed NOT = one left-anti join of the aggregated candidates
    against the excluded terms' ids-only decode — no extra corpus pass."""
    from miru_spark.plans.search import search_distributed

    reader = IndexReader(spark, index_path)
    plan = _plan(
        search_distributed(reader, ["the"], mode="disjunctive", exclude=["dup"])
    )
    assert "LeftAnti" in plan


def test_prefix_expansion_runs_no_spark_job(spark, index_path):
    """Dictionary expansion is a driver-side pyarrow read: zero Spark jobs."""
    reader = IndexReader(spark, index_path)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    reader.expand_prefix("s")
    reader.expand_fuzzy("hsh")
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_warm_reader_plans_without_spark_jobs(spark, index_path):
    """A reader plans from what it holds: once one distributed query has
    warmed it, ``postings_df`` runs zero Spark jobs, and so does
    ``docmap_df`` — its first call included. No distributed scorer
    aggregates ``df_chunk``: ``df_global`` comes from the terms index."""
    import re

    from miru_spark.plans.booltree import search_bool_distributed
    from miru_spark.plans.dismax import search_fields_dismax_distributed
    from miru_spark.plans.multifield import search_fields_distributed
    from miru_spark.plans.search import search_distributed, search_many_distributed

    reader = IndexReader(spark, index_path)
    search_distributed(reader, ["join", "hash"]).collect()
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    reader.postings_df(["the", "join", "zz_absent"])
    reader.postings_df(["hash"])
    reader.docmap_df()
    reader.docmap_df().select("doc_id", "doc_len")
    assert tracker.getJobIdsForGroup(None) == before

    plans = [
        search_distributed(reader, ["join", "hash"], mode="conjunctive"),
        search_distributed(reader, ["the", "join"], mode="disjunctive"),
        search_many_distributed(
            reader, [(["the"], "disjunctive"), (["join", "hash"], "conjunctive")]
        ),
        search_bool_distributed(reader, "the"),
        search_fields_dismax_distributed({"body": reader}, ["the", "join"]),
        search_fields_distributed({"body": reader}, ["the", "join"]),
    ]
    for df in plans:
        assert not re.search(r"sum\(df_chunk", _plan(df))


def test_minhash_lsh_verify_has_no_forced_broadcast(spark):
    """The LSH candidate-doc semi-join must not carry a broadcast HINT:
    with auto-broadcast off the plan falls back to a shuffle join (a forced
    broadcast of the candidate set is unbounded on dup-heavy corpora)."""
    from miru_spark.pipeline.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(minhash_lsh_pairs(docs, threshold=0.5))
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _anti_join_nodes(plan: str) -> list:
    """Join-strategy node names of every LeftAnti join in a formatted plan."""
    import re

    names = (
        "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin|"
        "BroadcastNestedLoopJoin|CartesianProduct"
    )
    return [
        m.group(1)
        for line in plan.splitlines()
        if "LeftAnti" in line
        for m in [re.search(rf"\b({names})\b", line)]
        if m
    ]


def _tombstone_gated_plans():
    """Every distributed path whose tombstone anti-join carries the size-gated
    broadcast hint, as reader -> DataFrame."""
    from miru_spark.plans.booltree import search_bool_distributed
    from miru_spark.plans.dismax import search_fields_dismax_distributed
    from miru_spark.plans.multifield import (
        search_fields_combined,
        search_fields_distributed,
    )
    from miru_spark.plans.search import search_distributed, search_many_distributed

    return {
        "search_distributed": lambda r: search_distributed(
            r, ["the"], mode="disjunctive"
        ),
        "search_many_distributed": lambda r: search_many_distributed(
            r, [(["the"], "disjunctive"), (["the", "a"], "conjunctive")]
        ),
        "search_bool_distributed": lambda r: search_bool_distributed(r, "the"),
        "search_fields_combined": lambda r: search_fields_combined(
            {"content": r}, ["the"]
        ),
        "search_fields_dismax_distributed": lambda r: (
            search_fields_dismax_distributed({"content": r}, ["the"])
        ),
        "search_fields_distributed": lambda r: search_fields_distributed(
            {"content": r}, ["the"]
        ),
    }


@pytest.mark.parametrize("path", sorted(_tombstone_gated_plans()))
def test_tombstone_join_gated_not_forced_broadcast(spark, tmp_path, path):
    """Round-3 fix: every distributed path's tombstone exclusion only hints
    a broadcast below a size gate. A synthetic >5M-id tombstone set with
    auto-broadcast disabled must fall back to a shuffle join (round 2
    force-broadcast the whole set regardless of size); a tiny set keeps the
    broadcast hint."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from miru_spark.index.writer import build_index, delete_docs
    from miru_spark.schema import read_corpus

    run = _tombstone_gated_plans()[path]
    p = str(tmp_path / "idx")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=2)

    # small set: broadcast hint survives even with auto-broadcast off
    delete_docs(p, [1, 2, 3])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        r = IndexReader(spark, p)
        plan = _plan(run(r))
        assert _anti_join_nodes(plan) == ["BroadcastHashJoin"]

        # mass delete: > gate -> no forced broadcast anywhere in the plan
        import os
        import shutil

        shutil.rmtree(f"{p}/tombstones")
        os.makedirs(f"{p}/tombstones")
        pq.write_table(
            pa.table({"doc_id": pa.array(
                np.arange(5_000_001, dtype=np.int64) + 1_000_000
            )}),
            f"{p}/tombstones/delete-mass.parquet",
        )
        r2 = IndexReader(spark, p)
        assert r2.tombstones.size > 5_000_000
        # note: the per-term df_global join (one row per query term) keeps
        # its unconditional broadcast hint, so assert on the LeftAnti join
        # node specifically, not on BroadcastExchange anywhere in the plan
        plan2 = _plan(run(r2))
        nodes2 = _anti_join_nodes(plan2)
        assert nodes2 and all(n != "BroadcastHashJoin" for n in nodes2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _driver_built_relation_plans():
    """Every serving path whose plan holds a relation built on the driver,
    as reader -> DataFrame: the batched query map, the filter-match term
    tables and exclusion ids, and the empty results."""
    from miru_spark.plans.dismax import search_fields_dismax_distributed
    from miru_spark.plans.multifield import search_fields_distributed
    from miru_spark.plans.search import (
        search_adjacency_matrix,
        search_distributed,
        search_filters_agg,
        search_many_distributed,
    )

    filters = {"a": ["the"], "b": ["the", "license"]}
    return {
        "search_many_distributed": lambda r: search_many_distributed(
            r, [(["the"], "disjunctive"), (["the", "license"], "conjunctive")]
        ),
        "search_filters_agg": lambda r: search_filters_agg(
            r, filters, exclude=["spark"]
        ),
        "search_adjacency_matrix": lambda r: search_adjacency_matrix(
            r, filters, exclude=["spark"]
        ),
        "search_distributed_empty": lambda r: search_distributed(
            r, ["zzabsent1", "zzabsent2"], mode="conjunctive"
        ),
        "dismax_empty": lambda r: search_fields_dismax_distributed(
            {"content": r}, ["the"], weights={"content": 0.0}
        ),
        "most_fields_empty": lambda r: search_fields_distributed(
            {"content": r}, ["the"], weights={"content": 0.0}
        ),
    }


@pytest.mark.parametrize("path", sorted(_driver_built_relation_plans()))
def test_driver_built_relations_are_local_table_scans(reader, path):
    """A driver-built relation is shipped as Arrow and scanned as a
    LocalTableScan. Built from a Python list it is a Python RDD (``Scan
    ExistingRDD``), and every collect of the plan runs Python tasks to
    read it."""
    plan = _plan(_driver_built_relation_plans()[path](reader))
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan
