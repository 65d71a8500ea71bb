#!/usr/bin/env python
"""Masked Spark plans and row digests for a fixed list of distributed calls,
and result digests for a fixed list of driver calls.

A refactor of the distributed scorers should leave their Spark plans and
results unchanged. This script makes that checkable: for every call in
``_calls()`` it prints the optimized and physical plan with expression ids
masked, plus a sha1 digest of the call's sorted result rows. A refactor of
the driver paths should leave their results bit-identical: for every call
in ``_driver_calls()`` it prints a sha1 digest of the ranked, unrounded
result. Run it at two commits and diff the outputs::

    python scripts/plan_dump.py OLD_CHECKOUT > old.txt
    python scripts/plan_dump.py NEW_CHECKOUT > new.txt
    diff old.txt new.txt

The first argument is the repository root whose ``miru_spark`` is imported
(default: this script's checkout). The optional second argument is where the
indexes live (default ``<tempdir>/miru_plan_dump``). They are built once from
a seeded synthetic corpus and reused, so both runs read the same files and
the FileScan strings match. Each call runs on a plain copy and on a copy with
tombstoned docs. The corpus covers a plain index, a positional index (phrase
and interval plans) and a two-field index (dis_max, most_fields,
combined_fields).
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.abspath(
    sys.argv[1] if len(sys.argv) > 1
    else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, ROOT)

N_DOCS = 800
VOCAB = 40
DELETED = [3, 17, 256, 511]


def _corpus_rows():
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(7))
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    rows = []
    for i in range(N_DOCS):
        toks = rng.choice(VOCAB, size=int(rng.integers(4, 40)), p=p)
        rows.append((
            f"repo{i % 3}", f"src/mod{i % 7}/w{i % VOCAB}_{i:04d}.py", "v0",
            ("py", "js", "go", "rs")[i % 4], " ".join(f"w{t}" for t in toks),
        ))
    return rows


def _build(spark, base: str) -> None:
    """plain/, pos/ and mf/ indexes plus tombstoned copies (``*_t``)."""
    from miru_spark.index.writer import build_index, delete_docs
    from miru_spark.plans.multifield import build_multifield_index
    from miru_spark.schema import CORPUS_SCHEMA

    corpus = spark.createDataFrame(_corpus_rows(), CORPUS_SCHEMA)
    tmp = base + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    build_index(spark, corpus, f"{tmp}/plain", num_partitions=2, target_chunk=64)
    build_index(
        spark, corpus, f"{tmp}/pos", num_partitions=2, target_chunk=64,
        positions=True,
    )
    build_multifield_index(spark, corpus, f"{tmp}/mf", num_partitions=2)
    for name in ("plain", "pos", "mf"):
        shutil.copytree(f"{tmp}/{name}", f"{tmp}/{name}_t")
    delete_docs(f"{tmp}/plain_t", DELETED)
    delete_docs(f"{tmp}/pos_t", DELETED)
    delete_docs(f"{tmp}/mf_t/field=content", DELETED)
    delete_docs(f"{tmp}/mf_t/field=path", DELETED[:2])
    os.rename(tmp, base)


def _calls():
    """name -> fn(plain_reader, positional_reader, field_readers) -> DataFrame."""
    from miru_spark.plans import booltree, dismax, intervals, multifield, search

    sd = search.search_distributed
    iv = intervals
    return {
        "dist_conj": lambda r, p, f: sd(r, ["w0", "w1"], mode="conjunctive"),
        "dist_conj3": lambda r, p, f: sd(r, ["w0", "w2", "w9"]),
        "dist_disj": lambda r, p, f: sd(r, ["w1", "w5"], mode="disjunctive"),
        "dist_disj_knone": lambda r, p, f: sd(
            r, ["w1", "w5"], mode="disjunctive", k=None
        ),
        "dist_disj_raw": lambda r, p, f: sd(
            r, ["w1", "w5"], mode="disjunctive", round_digits=None
        ),
        "dist_exclude": lambda r, p, f: sd(
            r, ["w0", "w3"], mode="disjunctive", exclude=["w1"]
        ),
        "dist_boosts": lambda r, p, f: sd(
            r, ["w0", "w3"], mode="disjunctive", boosts={"w3": 2.5}
        ),
        "dist_where": lambda r, p, f: sd(
            r, ["w0", "w3"], mode="disjunctive", where={"lang": "py"}
        ),
        "dist_after": lambda r, p, f: sd(
            r, ["w0", "w3"], mode="disjunctive", after=(1.0, 40)
        ),
        "dist_nmatch": lambda r, p, f: sd(
            r, ["w0", "w3", "w7"], mode="disjunctive", k=None, with_nmatch=True
        ),
        "dist_pruned": lambda r, p, f: sd(
            r, ["w0", "w1", "w2"], mode="disjunctive", k=3, prune_gate=0
        ),
        "dist_pruned_boost": lambda r, p, f: sd(
            r, ["w0", "w1", "w2"], mode="disjunctive", k=3, prune_gate=0,
            boosts={"w2": 3.0},
        ),
        "many": lambda r, p, f: search.search_many_distributed(
            r, [(["w0", "w1"], "conjunctive"), (["w2", "w5"], "disjunctive")]
        ),
        "many_pruned": lambda r, p, f: search.search_many_distributed(
            r, [(["w0", "w1"], "disjunctive"), (["w2", "w4"], "conjunctive")],
            k=3, prune_gate=0,
        ),
        "terms_set": lambda r, p, f: search.search_terms_set(
            r, ["w0", "w1", "w4"], divisor=10
        ),
        "facets": lambda r, p, f: search.search_facets(r, ["w0", "w2"]),
        "multi_terms": lambda r, p, f: search.search_multi_terms(r, ["w0", "w2"]),
        "field_stats": lambda r, p, f: search.search_field_stats(r, ["w0", "w2"]),
        "phrase": lambda r, p, f: search.search_phrase_distributed(p, "w0 w1"),
        "bool": lambda r, p, f: booltree.search_bool_distributed(
            r, "w0 AND (w1 OR w6^2) AND NOT w3"
        ),
        "bool_pruned": lambda r, p, f: booltree.search_bool_distributed(
            r, "w0 OR (w1 AND w2)", k=3, prune_gate=0
        ),
        "bool_phrase": lambda r, p, f: booltree.search_bool_distributed(
            p, '"w0 w1" OR w5'
        ),
        "intervals": lambda r, p, f: iv.search_intervals_distributed(
            p, iv.IAllOf((iv.IPhrase(("w0", "w1")), iv.ITerm("w2")), ordered=True)
        ),
        "dismax_disj": lambda r, p, f: dismax.search_fields_dismax_distributed(
            f, ["w0", "w3"], weights={"path": 2.0}, tie_breaker=0.3
        ),
        "dismax_conj_where": lambda r, p, f: (
            dismax.search_fields_dismax_distributed(
                f, ["w0", "w3"], mode="conjunctive", where={"lang": "js"}
            )
        ),
        "most_fields_disj": lambda r, p, f: multifield.search_fields_distributed(
            f, ["w0", "w3"], weights={"path": 2.0}
        ),
        "most_fields_conj_knone": lambda r, p, f: (
            multifield.search_fields_distributed(
                f, ["w0", "w3"], mode="conjunctive", k=None, where={"lang": "go"}
            )
        ),
        "most_fields_one": lambda r, p, f: multifield.search_fields_distributed(
            {"content": r}, ["w0", "w3"]
        ),
        "combined_disj": lambda r, p, f: multifield.search_fields_combined(
            f, ["w0", "w3"], weights={"path": 2.0}
        ),
        "combined_conj": lambda r, p, f: multifield.search_fields_combined(
            f, ["w0", "w3"], mode="conjunctive", where={"lang": "py"}
        ),
    }


def _driver_calls():
    """name -> fn(plain_reader, positional_reader, field_readers) -> a
    driver result (ranked ``(doc_id, score)`` pairs, or ``explain``'s
    dict), unrounded wherever the call rounds by default."""
    from miru_spark.plans import booltree, dismax, intervals, multifield, search

    iv = intervals
    raw = {"round_digits": None}
    span = iv.IAllOf((iv.IPhrase(("w0", "w1")), iv.ITerm("w2")), ordered=True)
    return {
        "phrase": lambda r, p, f: search.search_phrase(p, "w0 w1", k=50, **raw),
        "phrase_where": lambda r, p, f: search.search_phrase(
            p, "w1 w0 w2", k=50, where={"lang": "py"}, **raw
        ),
        "phrase_prefix": lambda r, p, f: search.search_phrase_prefix(
            p, "w0 w1", k=50, **raw
        ),
        "phrase_prefix_where": lambda r, p, f: search.search_phrase_prefix(
            p, "w2 w", k=50, where={"lang": "go"}, **raw
        ),
        "near": lambda r, p, f: search.search_near(p, "w0", "w3", k=50, **raw),
        "near_ordered_where": lambda r, p, f: search.search_near(
            p, "w1", "w2", slop=5, in_order=True, where={"lang": "js"}, k=50,
            **raw,
        ),
        "span_first": lambda r, p, f: search.search_span_first(
            p, "w2", end=4, k=50, **raw
        ),
        "span_not": lambda r, p, f: search.search_span_not(
            p, "w0", "w1", pre=2, post=1, k=50, **raw
        ),
        "span_within": lambda r, p, f: search.search_span_within(
            p, "w0", "w1", "w2", slop=8, k=50, **raw
        ),
        "span_containing_where": lambda r, p, f: search.search_span_containing(
            p, "w0", "w1", "w2", slop=8, where={"lang": "rs"}, k=50, **raw
        ),
        "sloppy": lambda r, p, f: search.search_phrase_sloppy(
            p, "w0 w1 w2", slop=3, k=50, **raw
        ),
        "sloppy_where": lambda r, p, f: search.search_phrase_sloppy(
            p, "w1 w0", slop=2, where={"lang": "py"}, k=50, **raw
        ),
        "intervals": lambda r, p, f: iv.search_intervals(
            p, span, k=50, strategy="driver", **raw
        ),
        "intervals_where": lambda r, p, f: iv.search_intervals(
            p, span, k=50, where={"lang": "js"}, strategy="driver", **raw
        ),
        "lm": lambda r, p, f: search.search_lm(p, ["w0", "w5", "w9"], k=50, **raw),
        "lm_conj_where": lambda r, p, f: search.search_lm(
            p, ["w0", "w1"], mode="conjunctive", where={"lang": "go"}, k=50,
            **raw,
        ),
        "classic": lambda r, p, f: search.search_classic(
            p, ["w0", "w5", "w9"], k=50, **raw
        ),
        "classic_conj": lambda r, p, f: search.search_classic(
            p, ["w0", "w1"], mode="conjunctive", k=50, **raw
        ),
        "sorted_topk": lambda r, p, f: search.search_sorted_topk(
            p, ["w0", "w1"], k=30, **raw
        ),
        "bool_phrase": lambda r, p, f: booltree.search_bool(
            p, '"w0 w1" OR w5', k=50, strategy="driver", **raw
        ),
        "bool_where": lambda r, p, f: booltree.search_bool(
            p, 'w0 AND ("w1 w2" OR w6) AND NOT w3', k=50, where={"lang": "py"},
            strategy="driver", **raw,
        ),
        "boosting": lambda r, p, f: booltree.search_boosting(
            p, "w0 OR w1", "w2", k=50, **raw
        ),
        "constant_score": lambda r, p, f: booltree.search_constant_score(
            p, "w0 AND w4", k=50, where={"lang": "py"}
        ),
        "exhaustive_exclude": lambda r, p, f: search.search_exhaustive(
            r, ["w0", "w3"], mode="disjunctive", exclude=["w1"], k=50
        ),
        "sharded": lambda r, p, f: search.search_sharded(
            [r, p], ["w0", "w3"], mode="disjunctive", k=50, **raw
        ),
        "synonym": lambda r, p, f: search.search_synonym(
            r, [["w0", "w4"], ["w2"]], mode="disjunctive", k=50
        ),
        "explain": lambda r, p, f: search.explain(r, ["w0", "w3"], 40),
        "dismax": lambda r, p, f: dismax.search_fields_dismax(
            f, ["w0", "w3"], weights={"path": 2.0}, tie_breaker=0.3, k=50
        ),
        "most_fields": lambda r, p, f: multifield.search_fields(
            f, ["w0", "w3"], weights={"path": 2.0}, k=50
        ),
        "cross_fields": lambda r, p, f: multifield.search_fields_cross(
            f, ["w0", "w3"], weights={"path": 2.0}, k=50
        ),
    }


_MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[id=#?\d+\]"), "[id=]"),
    (re.compile(r"Subquery subquery\d+"), "Subquery subquery"),
]


def _mask(s: str) -> str:
    for pat, rep in _MASKS:
        s = pat.sub(rep, s)
    return s


def main() -> None:
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans.multifield import open_field_readers
    from miru_spark.session import get_spark

    base = os.path.abspath(
        sys.argv[2] if len(sys.argv) > 2
        else os.path.join(tempfile.gettempdir(), "miru_plan_dump")
    )
    # Spark's Python workers start in this process's working directory and
    # import the engine from there first, whatever PYTHONPATH says
    os.chdir(ROOT)
    spark = get_spark(
        "plan-dump", master="local[2]", shuffle_partitions=4,
        extra_conf={
            "spark.sql.maxMetadataStringLength": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.isdir(base):
        _build(spark, base)
    calls = _calls()
    for suffix in ("", "_t"):
        r = IndexReader(spark, f"{base}/plain{suffix}")
        p = IndexReader(spark, f"{base}/pos{suffix}")
        f = open_field_readers(spark, f"{base}/mf{suffix}")
        for name, fn in calls.items():
            df = fn(r, p, f)
            qe = df._jdf.queryExecution()
            # the physical plan before execution: AQE's final plan numbers
            # its query stages in completion order, which varies per run
            plans = [qe.optimizedPlan().toString(), qe.executedPlan().toString()]
            rows = sorted(repr(tuple(row)) for row in df.collect())
            digest = hashlib.sha1("\n".join(rows).encode()).hexdigest()
            print(f"=== {name}{suffix}")
            print("\n".join(_mask(plan) for plan in plans))
            print(f"rows {len(rows)} sha1 {digest}")
        for name, fn in _driver_calls().items():
            got = fn(r, p, f)
            digest = hashlib.sha1(repr(got).encode()).hexdigest()
            print(f"=== driver {name}{suffix}")
            print(f"rows {len(got)} sha1 {digest}")
    spark.stop()


if __name__ == "__main__":
    main()
