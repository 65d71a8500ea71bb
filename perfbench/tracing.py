"""Span tracing and Spark job accounting, installed from outside the engine.

The engine is not edited. ``install`` replaces each measured function at the
module or class attribute its callers resolve at call time, and ``restore``
puts the originals back. A wrapper records one span — name, start, end,
parent span, op id — plus counts taken from the call's result.
Spans stay in memory and are written out once, when the run ends.

Layers the wrappers cannot reach, and why:

* ``operators.segments.build_segments`` / ``operators.merge.merge_segments``
  are bound into ``index.writer`` at import time and only build lazy
  DataFrames; their time is read from the ``stage_secs`` of the manifest
  ``build_index`` returns.
* Chunk decode on the distributed path runs inside Spark's Python workers,
  in other processes; its cost shows as Spark tasks and ``collect`` time.
* ``plans.search`` binds ``unpack_chunk_bm`` at import time for its phrase
  and span paths; the top-k paths this benchmark drives reach the decoder
  through ``IndexReader.decode_term`` and ``PostingIterator._load``, which
  import it at call time, so their decodes are measured.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module path, owner attribute or None, function name, span name)
TARGETS = [
    ("miru_spark.index.reader", "IndexReader", "__init__", "index.reader.open"),
    ("miru_spark.index.reader", "IndexReader", "fetch_terms", "index.reader.fetch_terms"),
    ("miru_spark.index.reader", "IndexReader", "decode_term", "index.reader.decode_term"),
    ("miru_spark.index.format", None, "unpack_chunk_bm", "index.format.unpack_chunk_bm"),
    ("miru_spark.index.format", None, "unpack_block_bm", "index.format.unpack_block_bm"),
    ("miru_spark.plans.search", None, "wand_topk", "plans.search.wand_topk"),
    ("miru_spark.plans.search", None, "conjunctive_topk", "plans.search.conjunctive_topk"),
    ("miru_spark.plans.search", None, "_exhaustive_from_tps", "plans.search.exhaustive"),
    ("miru_spark.plans.search", None, "search_topk", "plans.search.search_topk"),
    ("miru_spark.plans.search", None, "search_many", "plans.search.search_many"),
    ("miru_spark.plans.search", None, "search_distributed", "plans.search.search_distributed"),
    ("miru_spark.plans.search", None, "search_many_distributed", "plans.search.search_many_distributed"),
    ("miru_spark.plans.search", None, "search_facets", "plans.search.search_facets"),
    ("miru_spark.plans.search", None, "search_multi_terms", "plans.search.search_multi_terms"),
    ("miru_spark.plans.search", None, "search_field_stats", "plans.search.search_field_stats"),
    ("miru_spark.index.writer", None, "build_index", "index.writer.build_index"),
    ("miru_spark.index.writer", None, "delete_docs", "index.writer.delete_docs"),
    ("miru_spark.index.writer", None, "purge_deleted", "index.writer.purge_deleted"),
]


def _count_fetch(result) -> dict:
    chunks = [r for tp in result.values() for r in tp.chunks]
    return {
        "chunks": len(chunks),
        "blob_bytes": sum(len(r["blob"]) for r in chunks),
    }


def _count_decode(result) -> dict:
    return {"postings": int(result[0].size)}


COUNTERS = {
    "index.reader.fetch_terms": _count_fetch,
    "index.format.unpack_chunk_bm": _count_decode,
    "index.format.unpack_block_bm": _count_decode,
}


class Tracer:
    """In-memory span store. Spans are dicts: name, t0, t1, parent (index
    into ``spans`` or None), op (op id or None) and counts."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str, counts: dict | None = None):
        rec = {
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "counts": counts if counts is not None else {},
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()

    def _wrap(self, fn, name: str):
        counter = COUNTERS.get(name)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if counter is not None:
                    rec["counts"].update(counter(out))
                return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            holder = getattr(mod, owner) if owner else mod
            orig = holder.__dict__[attr] if owner else getattr(mod, attr)
            self._saved.append((holder, attr, orig))
            setattr(holder, attr, self._wrap(orig, name))
        # a property: wrap its getter so the first (loading) access is timed
        from miru_spark.index.reader import IndexReader

        prop = IndexReader.__dict__["tombstones"]
        self._saved.append((IndexReader, "tombstones", prop))
        IndexReader.tombstones = property(
            self._wrap(prop.fget, "index.reader.tombstones")
        )

    def restore(self) -> None:
        while self._saved:
            holder, attr, orig = self._saved.pop()
            setattr(holder, attr, orig)

    # ----------------------------------------------------------- analysis --
    def self_ms(self) -> list[float]:
        """Self time of every span: its duration minus the part its child
        spans cover (children of one span never overlap: one thread)."""
        own = [(s["t1"] - s["t0"]) * 1e3 for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= (s["t1"] - s["t0"]) * 1e3
        return own

    def dump(self, path: str, ops: dict) -> None:
        base = self.spans[0]["t0"] if self.spans else 0.0
        own = self.self_ms()
        with open(path, "w") as f:
            json.dump(
                {
                    "ops": {str(k): v for k, v in ops.items()},
                    "spans": [
                        {
                            "name": s["name"],
                            "start_ms": round((s["t0"] - base) * 1e3, 4),
                            "end_ms": round((s["t1"] - base) * 1e3, 4),
                            "self_ms": round(o, 4),
                            "parent": s["parent"],
                            "op": s["op"],
                            "counts": s["counts"],
                        }
                        for s, o in zip(self.spans, own)
                    ],
                },
                f,
            )


def summarize(tracer: Tracer, ops: dict) -> dict:
    """Per op kind: {span name: {"ms": total self ms, "wall_ms": total
    duration, "calls": n, counts...}} over spans inside recorded ops."""
    own = tracer.self_ms()
    out: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for s, o in zip(tracer.spans, own):
        if s["op"] is None or s["op"] not in ops:
            continue
        kind = ops[s["op"]]["kind"]
        agg = out[kind][s["name"]]
        agg["ms"] += o
        agg["wall_ms"] += (s["t1"] - s["t0"]) * 1e3
        agg["calls"] += 1
        for k, v in s["counts"].items():
            agg[k] += v
    return out


class SparkCounter:
    """Exact Spark work per op: the op's jobs run under their own job group,
    and the status tracker lists that group's jobs, their stages and the
    stages' task counts once the listener bus has caught up."""

    def __init__(self, sc):
        self.sc = sc
        self.n = 0

    def begin(self) -> str:
        self.n += 1
        gid = f"perfbench-op-{self.n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def end(self, gid: str, timeout_s: float = 30.0) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        last = None
        while True:
            counts = self._read(st, gid)
            if counts is not None and counts == last:
                return counts
            if time.monotonic() > deadline:
                raise RuntimeError(f"Spark status for {gid} did not settle")
            last = counts
            time.sleep(0.05)

    @staticmethod
    def _read(st, gid: str) -> dict | None:
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                return None
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is None:
                    continue  # skipped stage: its shuffle output was reused
                stages += 1
                tasks += sinfo.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
