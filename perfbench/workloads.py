"""The benchmark's workloads. Each drives the engine only through its public
functions (``index.writer``, ``index.reader``, ``plans.search``,
``session``) over a corpus generated from the seed, checks every result,
and returns its end-to-end metrics, its per-layer metrics (traced runs)
and a detail block for the human-readable summary line.

One closed-loop client (this thread) issues every operation; Spark runs
``local[4]``. Timings use ``time.perf_counter``. CPU per op is the driver
process's (``time.process_time``) on ``driver_topk``, where Spark is idle,
and the whole process tree's (``procs.tree_cpu_s``) on ``spark_analytics``.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

import numpy as np

from corpus import (
    LANGS,
    CorpusSpec,
    Reference,
    check_topk,
    make_corpus,
    make_queries,
    term_name,
)
from procs import tree_cpu_s
from tracing import SparkCounter, Tracer, summarize

#: corpus both workloads index. Sized so that the build, the timed phase
#: and the refresh phase fit the per-run time budget on a 4-core machine; see
#: README.md ("Time budget").
SPEC = CorpusSpec(n_docs=12_000, vocab=400)

K = 10
STREAM = 1_000  # driver_topk: >= 1,000 timed queries, so p99 has 10 beyond it
BATCH = 25  # search_many batch size
SETUP_REPEATS = 3
REFRESH_ROUNDS = 12
DELETES_PER_ROUND = 4
TOMB_BURST = 8  # verified queries per tombstoned reader (driver_topk)
FINAL_BURST = 50  # verified queries after purge_deleted (driver_topk)
TOL_DRIVER = 1e-8  # float summation order only
TOL_DIST = 2e-6  # search_distributed rounds scores to 6 digits
DIST_KINDS = (
    "dist_conj", "dist_disj", "many_dist", "facets", "multi_terms", "field_stats",
)
SPARK_KINDS = ("topk", *DIST_KINDS, "build", "purge")


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(q / 100 * len(s))) - 1))]


class Run:
    """State shared by one benchmark run: the session, the work directory,
    op bookkeeping, failures, and (traced runs only) the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if traced else None
        self.counter = SparkCounter(spark.sparkContext) if traced else None
        self.ops: dict[int, dict] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.window_counts: dict[str, dict] = {}

    @contextmanager
    def op(self, kind: str, spark: bool = False):
        """One user operation: counted as attempted; traced runs tag its
        spans with an op id and (``spark=True``) count its Spark jobs."""
        oid = len(self.ops) + 1
        rec = {"kind": kind}
        self.ops[oid] = rec
        self.attempted += 1
        gid = self.counter.begin() if (self.counter and spark) else None
        if self.tracer:
            self.tracer.op = oid
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.tracer:
                self.tracer.op = None
            if gid is not None:
                rec["spark"] = self.counter.end(gid)

    @contextmanager
    def spark_window(self, kind: str):
        """Traced runs: count the Spark work of a whole phase of ``kind``
        ops at once (per-op status polling would dwarf a driver query)."""
        if self.counter is None:
            yield
            return
        gid = self.counter.begin()
        try:
            yield
        finally:
            got = self.counter.end(gid)
            acc = self.window_counts.setdefault(kind, dict.fromkeys(got, 0))
            for key, v in got.items():
                acc[key] += v

    def fail(self, what: str) -> None:
        self.failures.append(what)
        if len(self.failures) <= 5:
            _log(f"FAILED: {what}")

    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def wait_spark_idle(self) -> None:
        st = self.spark.sparkContext.statusTracker()
        while st.getActiveJobsIds():
            time.sleep(0.05)


# --------------------------------------------------------------- set-up --
def generate(run: Run, spec: CorpusSpec):
    """Generate the corpus SETUP_REPEATS times (median time); every repeat
    must be byte-identical, which is the determinism check."""
    times, digests, corpus = [], set(), None
    path = os.path.join(run.work, "documents.parquet")
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        corpus = make_corpus(spec, run.seed)
        corpus.write_parquet(path)
        times.append(time.perf_counter() - t0)
        with open(path, "rb") as f:
            digests.add(hashlib.sha256(f.read()).digest())
    run.attempted += 1
    if len(digests) != 1:
        run.fail("corpus generation is not deterministic for one seed")
    return corpus, path, statistics.median(times)


def build(run: Run, parquet: str, index_path: str) -> tuple[float, dict]:
    from miru_spark.index import writer
    from miru_spark.schema import corpus_from_documents

    with run.op("build", spark=True) as rec:
        docs = run.spark.read.parquet(parquet)
        manifest = writer.build_index(
            run.spark, corpus_from_documents(docs), index_path, num_partitions=4
        )
    return rec["s"], manifest


def parquet_bytes(path: str) -> int:
    """Bytes of the index's parquet files: the index proper. The JSON
    manifest and stats hold timings whose length varies run to run."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def open_reader(run: Run, index_path: str, warm: list[tuple[list[str], str]]):
    """Open a reader and serve ``warm`` on it (the first fetch discovers the
    postings dataset); repeated SETUP_REPEATS times, median time."""
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans import search

    times = []
    for _ in range(SETUP_REPEATS):
        with run.op("open") as rec:
            reader = IndexReader(run.spark, index_path)
            for terms, mode in warm:
                search.search_topk(reader, terms, mode=mode, k=K)
        times.append(rec["s"])
    return reader, statistics.median(times)


class Setup:
    """Corpus, reference, index and reader of one run, plus the timings
    that make up ``setup_s``. Spark start and the index build run once (a
    fresh JVM cannot be started twice in a run, and a second build does
    not fit the time budget); generation and reader open run
    SETUP_REPEATS times and count with their median."""

    def __init__(self, run: Run, spec: CorpusSpec, base: dict):
        self.spec = spec
        self.corpus, parquet, gen_s = generate(run, spec)
        self.ref = Reference(self.corpus)
        self.idx = os.path.join(run.work, "index")
        self.build_s, self.manifest = build(run, parquet, self.idx)
        self.index_bytes = parquet_bytes(self.idx)
        warm = make_queries(spec, run.seed + 7_919, 8)
        self.reader, open_s = open_reader(run, self.idx, warm)
        self.parts = dict(base, gen_s=gen_s, build_s=self.build_s, open_s=open_s)

    @property
    def setup_s(self) -> float:
        return sum(self.parts.values())


# ------------------------------------------------------------- checking --
def verify_topk(run: Run, what: str, got, ref: Reference, terms, mode, tol) -> bool:
    err = check_topk(got, ref.scores(terms, mode), K, tol)
    if err is not None:
        run.fail(f"{what} {mode} {terms}: {err}")
        return False
    return True


def timed_topk(run: Run, reader, terms, mode, kind: str = "topk", key=None):
    """One search_topk op, verified by the caller. Returns (hits, seconds),
    hits None when it raised. ``key`` names a query whose exact counts must
    repeat each time it runs on the same index."""
    from miru_spark.plans import search

    with run.op(kind) as rec:
        rec["query"] = key
        try:
            hits = search.search_topk(reader, terms, mode=mode, k=K)
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            hits = None
            err = repr(e)
    if hits is None:
        run.fail(f"search_topk {terms}: {err}")
    return hits, rec["s"]


# -------------------------------------------------------------- refresh --
def refresh_rounds(run: Run, st: Setup, burst: list | None = None) -> dict:
    """REFRESH_ROUNDS rounds of: take the document the current reader serves
    as the top hit of a one-term probe, delete it with DELETES_PER_ROUND - 1
    random others, reopen, and query again. The time from the delete_docs
    call until the reopened reader's query no longer returns it is
    refresh_visible_ms.
    With ``burst``, each tombstoned reader also serves TOMB_BURST verified
    queries taken in order from ``burst``."""
    from miru_spark.index import writer
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans import search

    rng = np.random.Generator(np.random.PCG64([run.seed, 0xDE]))
    visible_ms: list[float] = []
    tomb_ms: list[float] = []
    deleted: set[int] = set()
    reader = st.reader
    for r in range(REFRESH_ROUNDS):
        # one mid-popularity term: every probe is about the same work and
        # always has a top hit to delete
        terms, mode = band_query(rng, [(20, 60)], "disjunctive")
        victim = search.search_topk(reader, terms, mode=mode, k=K)[0][0]
        live = np.flatnonzero(st.ref.live)
        extra = rng.choice(live[live != victim], DELETES_PER_ROUND - 1, replace=False)
        ids = sorted({victim, *(int(i) for i in extra)})
        t0 = time.perf_counter()
        with run.op("delete"):
            writer.delete_docs(st.idx, ids)
        with run.op("open"):
            reader = IndexReader(run.spark, st.idx)
        after, _ = timed_topk(run, reader, terms, mode, kind="refresh")
        visible_ms.append((time.perf_counter() - t0) * 1e3)
        st.ref.delete(ids)
        deleted.update(ids)
        if after is not None:
            if victim in {d for d, _ in after}:
                run.fail(f"doc {victim} still served after delete + reopen")
            verify_topk(run, "refresh", after, st.ref, terms, mode, TOL_DRIVER)
        if burst:
            qs = burst[r * TOMB_BURST : (r + 1) * TOMB_BURST]
            tomb_ms += verified_burst(run, reader, st, qs, deleted, "tomb_topk")
    st.reader = reader
    return {"visible_ms": visible_ms, "tomb_ms": tomb_ms, "deleted": deleted}


def verified_burst(run: Run, reader, st: Setup, qs, deleted: set, kind: str):
    """Serve ``qs`` one by one (timed), then check every result: no deleted
    document, and a correct top-k under the reference."""
    lat, got = [], []
    with run.spark_window(kind):
        for terms, mode in qs:
            hits, dt = timed_topk(run, reader, terms, mode, kind=kind)
            lat.append(dt * 1e3)
            got.append(hits)
    for (terms, mode), hits in zip(qs, got):
        if hits is None:
            continue
        if deleted.intersection(d for d, _ in hits):
            run.fail(f"deleted doc served for {terms}")
        verify_topk(run, kind, hits, st.ref, terms, mode, TOL_DRIVER)
    return lat


# ----------------------------------------------------------- driver_topk --
def driver_topk(run: Run, base_setup: dict) -> dict:
    """Interactive search on the driver path, then writes beside reads.

    Timed: closed-loop ``search_topk`` over a seeded Zipf query stream
    (p50/p99/CPU per query), then the same stream in ``search_many``
    batches. After the timed phase: refresh rounds with tombstoned-reader
    bursts, ``purge_deleted``, and a verified burst on the purged index."""
    from miru_spark.index import writer
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans import search

    st = Setup(run, SPEC, base_setup)
    reader = st.reader
    queries = make_queries(SPEC, run.seed, STREAM)
    for terms, mode in queries[:BATCH]:  # warm-up, untimed
        search.search_topk(reader, terms, mode=mode, k=K)
    run.wait_spark_idle()

    # search_topk over whole passes of the stream, only those expected to
    # end by the deadline; a traced run makes two so the exact per-query
    # counts can be compared
    first: list = [None] * len(queries)
    lat: list[float] = []
    cpu0 = time.process_time()
    t0 = time.perf_counter()
    passes = 0
    with run.spark_window("topk"):
        while passes < (2 if run.tracer else 1) or (
            (time.perf_counter() - t0) * (passes + 1) / passes <= 0.75 * run.seconds
        ):
            for qi, (terms, mode) in enumerate(queries):
                hits, dt = timed_topk(run, reader, terms, mode, key=qi)
                lat.append(dt * 1e3)
                if hits is None:
                    continue
                if first[qi] is None:
                    first[qi] = hits
                elif hits != first[qi]:
                    run.fail(f"search_topk {terms} changed between passes")
            passes += 1
    cpu_s = time.process_time() - cpu0

    # batched serving: the stream in consecutive BATCH-query slices, at
    # least one whole pass
    batch_s: list[float] = []
    batch_n = 0
    t_end = time.perf_counter() + 0.25 * run.seconds
    b0 = 0
    while b0 < len(queries) or time.perf_counter() < t_end:
        lo = b0 % len(queries)
        qs = queries[lo : lo + BATCH]
        with run.op("many") as rec:
            try:
                got = search.search_many(reader, qs, k=K)
            except Exception as e:  # noqa: BLE001 - counted as failed
                got = None
                run.fail(f"search_many at query {lo}: {e!r}")
        batch_s.append(rec["s"])
        batch_n += len(qs)
        if got is not None and got != first[lo : lo + len(qs)]:
            run.fail(f"search_many at query {lo} differs from search_topk")
        b0 += BATCH

    for (terms, mode), hits in zip(queries, first):
        if hits is not None:
            verify_topk(run, "search_topk", hits, st.ref, terms, mode, TOL_DRIVER)

    # writes beside reads: deletes, reopen, tombstoned readers, purge
    burst = make_queries(
        SPEC, run.seed + 15_485_863, REFRESH_ROUNDS * TOMB_BURST + FINAL_BURST
    )
    refresh = refresh_rounds(run, st, burst=burst)
    with run.op("purge", spark=True) as rec:
        try:
            writer.purge_deleted(run.spark, st.idx)
        except Exception as e:  # noqa: BLE001 - counted as failed
            run.fail(f"purge_deleted: {e!r}")
    purge_s = rec["s"]
    st.ref.purge()
    with run.op("open"):
        reader = IndexReader(run.spark, st.idx)
    run.attempted += 1
    if reader.n_docs != int(st.ref.live.sum()):
        run.fail(
            f"purged index holds {reader.n_docs} docs, "
            f"expected {int(st.ref.live.sum())}"
        )
    final = burst[REFRESH_ROUNDS * TOMB_BURST :]
    verified_burst(run, reader, st, final, refresh["deleted"], "purged_topk")

    detail = {
        "topk_p50_ms": statistics.median(lat),
        "topk_p99_ms": pct(lat, 99),
        "topk_cpu_ms": cpu_s * 1e3 / len(lat),
        "topk_samples": len(lat),
        "batch_qps": batch_n / sum(batch_s),
        "batch_size": BATCH,
        "tombstoned_topk_p50_ms": statistics.median(refresh["tomb_ms"]),
        "purge_s": purge_s,
        "deleted_docs": len(refresh["deleted"]),
    }
    overhead = trace_overhead(run, reader, queries)
    return finish(run, st, lat, cpu_s, refresh["visible_ms"], detail, overhead)


# ------------------------------------------------------- spark_analytics --
def band_query(rng, bands: list[tuple[int, int]], mode: str):
    """One query with a term drawn from each Zipf-rank band [lo, hi): the
    seed picks the terms, the bands fix how much work the query is, so
    per-op latency does not swing with the seed."""
    ranks: list[int] = []
    for lo, hi in bands:
        r = int(rng.integers(lo, hi))
        while r in ranks:
            r = int(rng.integers(lo, hi))
        ranks.append(r)
    return ([term_name(r) for r in ranks], mode)


def _agg_reference(ref: Reference, corpus, terms, mode):
    ids, _ = ref.scores(terms, mode)
    lang = corpus.lang[ids]
    facets = sorted(
        (lg, int((lang == lg).sum())) for lg in LANGS if (lang == lg).any()
    )
    pairs: dict[tuple[str, str], int] = {}
    for lg, src in zip(lang.tolist(), corpus.source[ids].tolist()):
        pairs[(lg, src)] = pairs.get((lg, src), 0) + 1
    multi = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    multi = [(a, b, n) for (a, b), n in multi]
    dl = corpus.doc_len[ids]
    stats = (
        (int(ids.size), int(dl.min()), int(dl.max()), int(dl.sum()),
         round(float(dl.sum()) / ids.size, 6))
        if ids.size
        else (0, None, None, None, None)
    )
    return facets, multi, stats


def spark_analytics(run: Run, base_setup: dict) -> dict:
    """Distributed serving and aggregations: Spark jobs, stages and the
    mapInArrow decode. Timed: whole cycles of one fixed op sequence, after
    two untimed warm-up ops; then refresh rounds (no tombstoned bursts)."""
    from miru_spark.plans import search

    st = Setup(run, SPEC, base_setup)
    reader = st.reader
    rng = np.random.Generator(np.random.PCG64([run.seed, 0xA5]))
    q_conj = band_query(rng, [(0, 4), (10, 30)], "conjunctive")
    q_disj = band_query(rng, [(2, 6), (20, 60)], "disjunctive")
    many = [
        band_query(rng, [(4, 16)], "disjunctive"),
        band_query(rng, [(0, 5), (30, 80)], "conjunctive"),
        band_query(rng, [(3, 10), (10, 30), (40, 100)], "disjunctive"),
    ]
    q_agg = band_query(rng, [(8, 20), (40, 100)], "disjunctive")
    facets, multi, stats = _agg_reference(st.ref, st.corpus, *q_agg)

    def dist(q):
        return lambda: search.search_distributed(reader, q[0], mode=q[1], k=K)

    plan = [
        ("dist_conj", dist(q_conj)),
        ("dist_disj", dist(q_disj)),
        ("many_dist", lambda: search.search_many_distributed(reader, many, k=K)),
        ("facets", lambda: search.search_facets(reader, *q_agg, facet_col="lang")),
        ("multi_terms", lambda: search.search_multi_terms(
            reader, *q_agg, fields=("lang", "repo"), size=10)),
        ("field_stats", lambda: search.search_field_stats(reader, *q_agg)),
    ]
    topk_queries = {"dist_conj": [q_conj], "dist_disj": [q_disj], "many_dist": many}
    driver_hits = {
        tuple(q[0]): search.search_topk(reader, q[0], mode=q[1], k=K)
        for q in [q_conj, q_disj, *many]
    }

    def check_topk_rows(kind: str, rows) -> None:
        qs = topk_queries[kind]
        per_q: list[list] = [[] for _ in qs]
        for r in rows:
            per_q[r["query_id"] if kind == "many_dist" else 0].append(
                (int(r["doc_id"]), float(r["score"]))
            )
        for (terms, mode), got in zip(qs, per_q):
            got.sort(key=lambda h: (-h[1], h[0]))
            if not verify_topk(run, kind, got, st.ref, terms, mode, TOL_DIST):
                continue
            # distributed and driver top-k agree up to the 6-digit rounding
            drv = driver_hits[tuple(terms)]
            if len(drv) != len(got) or any(
                a != b and abs(sa - sb) > TOL_DIST
                for (a, sa), (b, sb) in zip(drv, got)
            ):
                run.fail(f"{kind} {terms}: distributed and driver top-k differ")

    def check_agg_rows(kind: str, rows) -> None:
        if kind == "facets":
            got, want = [(r["lang"], int(r["n_docs"])) for r in rows], facets
            ok = got == want
        elif kind == "multi_terms":
            got = [(r["lang"], r["repo"], int(r["n_docs"])) for r in rows]
            want = multi
            ok = got == want
        else:
            r = rows[0]
            got = (int(r["n_docs"]), r["min_v"], r["max_v"], r["sum_v"], r["avg_v"])
            want = stats
            ok = got[:4] == want[:4] and (
                got[4] == want[4] or abs(float(got[4]) - want[4]) <= 1e-6
            )
        if not ok:
            run.fail(f"{kind} {q_agg}: got {got}, reference {want}")

    def do(kind: str, fn, label: str) -> dict:
        with run.op(label, spark=True) as rec:
            try:
                df = fn()
                with run.span("bench.collect"):
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 - counted as failed
                rows = None
                run.fail(f"{kind}: {e!r}")
        if rows is not None:
            if kind in topk_queries:
                check_topk_rows(kind, rows)
            else:
                check_agg_rows(kind, rows)
            if run.tracer is not None:
                rec["prune"] = dict(search.LAST_PRUNE_STATS)
        return rec

    # the first distributed op of a session runs ~1.7x slower, and the
    # first search_many_distributed ~1.9x slower even after it: warm up
    # with both before timing
    for kind, fn in (plan[0], plan[2]):
        do(kind, fn, "warm_" + kind)
    run.wait_spark_idle()

    # whole cycles only, more than one only while expected to end within
    # --seconds; a traced run makes two so the exact Spark counts of every
    # op can be compared
    times: dict[str, list[float]] = {k: [] for k, _ in plan}
    t0 = time.perf_counter()
    cpu0 = tree_cpu_s()
    cycles = 0
    while cycles < (2 if run.tracer else 1) or (
        (time.perf_counter() - t0) * (cycles + 1) / cycles <= run.seconds
    ):
        for kind, fn in plan:
            times[kind].append(do(kind, fn, kind)["s"])
        cycles += 1
    cpu_s = tree_cpu_s() - cpu0
    op_ms = [v * 1e3 for vs in times.values() for v in vs]

    refresh = refresh_rounds(run, st)
    dist_q = times["dist_conj"] + times["dist_disj"] + [
        v / len(many) for v in times["many_dist"]
    ]
    detail = {
        "dist_topk_p50_s": statistics.median(dist_q),
        "aggs_p50_s": statistics.median(
            times["facets"] + times["multi_terms"] + times["field_stats"]
        ),
        "cycles": cycles,
        "per_kind_median_s": {k: statistics.median(v) for k, v in times.items()},
        "queries": {"conj": q_conj, "disj": q_disj, "many": many, "aggs": q_agg},
    }
    overhead = trace_overhead(run, st.reader, make_queries(SPEC, run.seed, 200))
    return finish(run, st, op_ms, cpu_s, refresh["visible_ms"], detail, overhead)


WORKLOADS = {
    "driver_topk": driver_topk,
    "spark_analytics": spark_analytics,
}


# ------------------------------------------------------------- results --
TRACE_QUERIES = 200


def trace_overhead(run: Run, reader, queries) -> float | None:
    """Traced minus untraced search_topk p50 over the same queries (traced
    runs only). Each query runs once with the wrappers off and once with
    them on, alternating which goes first, so warmth favours neither."""
    if run.tracer is None:
        return None
    from miru_spark.plans import search

    lat: dict[bool, list[float]] = {False: [], True: []}
    run.tracer.restore()
    for i, (terms, mode) in enumerate(queries[:TRACE_QUERIES]):
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            if traced:
                run.tracer.install()
            t0 = time.perf_counter()
            search.search_topk(reader, terms, mode=mode, k=K)
            lat[traced].append(time.perf_counter() - t0)
            if traced:
                run.tracer.restore()
    run.tracer.install()
    return (statistics.median(lat[True]) - statistics.median(lat[False])) * 1e3


def finish(run: Run, st: Setup, op_ms, op_cpu_s, visible_ms, detail, overhead) -> dict:
    e2e = {
        "setup_s": (st.setup_s, "s"),
        "op_cpu_ms": (op_cpu_s * 1e3 / len(op_ms), "ms"),
        "index_bytes_per_text_byte": (st.index_bytes / st.corpus.text_bytes, "B/B"),
    }
    # wall-clock latency swings with the shared host's load far more than
    # CPU per op does (README.md, "Steadiness"), so it has no bound
    detail = dict(
        detail,
        op_p50_ms=statistics.median(op_ms),
        op_samples=len(op_ms),
        build_docs_per_s=st.spec.n_docs / st.build_s,
        refresh_visible_ms=statistics.median(visible_ms),
        refresh_rounds=len(visible_ms),
        corpus={"n_docs": st.spec.n_docs, "vocab": st.spec.vocab,
                "text_bytes": st.corpus.text_bytes, "digest": st.corpus.digest()},
        setup_parts_s=st.parts,
    )
    layers = None
    if run.tracer is not None:
        layers = layer_metrics(run, st, overhead)
    return {"e2e": e2e, "layers": layers, "detail": detail}


def layer_metrics(run: Run, st: Setup, overhead) -> dict:
    """Every per-layer metric, 0 where this workload does not exercise the
    layer (that 0 is the "flat on" prediction of README.md)."""
    s = summarize(run.tracer, run.ops)
    n: dict[str, int] = {}
    for o in run.ops.values():
        n[o["kind"]] = n.get(o["kind"], 0) + 1

    def mean(kind: str, span: str, key: str = "ms") -> float:
        """Total ``key`` of ``span`` inside ``kind`` ops, per op."""
        if not n.get(kind):
            return 0.0
        return s.get(kind, {}).get(span, {}).get(key, 0.0) / n[kind]

    decoders = ("index.format.unpack_chunk_bm", "index.format.unpack_block_bm")
    scorers = (
        "plans.search.wand_topk", "plans.search.conjunctive_topk",
        "plans.search.exhaustive",
    )
    routed = sum(mean("topk", sc, "calls") for sc in scorers)
    topk_wall = mean("topk", "plans.search.search_topk", "wall_ms")
    fetch = mean("topk", "index.reader.fetch_terms")
    out = {
        "index.reader.fetch_terms_ms": fetch,
        "index.reader.fetch_share": fetch / topk_wall if topk_wall else 0.0,
        "index.reader.chunks_per_query": mean("topk", "index.reader.fetch_terms", "chunks"),
        "index.reader.blob_bytes_per_query": mean(
            "topk", "index.reader.fetch_terms", "blob_bytes"
        ),
        "index.format.decode_ms": sum(mean("topk", d) for d in decoders),
        "index.format.postings_decoded_per_query": sum(
            mean("topk", d, "postings") for d in decoders
        ),
        "plans.search.score_ms": sum(mean("topk", sc) for sc in scorers),
        "plans.search.route_exhaustive_share": (
            mean("topk", scorers[2], "calls") / routed if routed else 0.0
        ),
        "plans.search.self_ms": mean("topk", "plans.search.search_topk"),
        "plans.search.many_fetch_ms": mean("many", "index.reader.fetch_terms"),
    }
    # distributed ops: building the plan (the plans.search call) vs collect
    n_dist = sum(n.get(k, 0) for k in DIST_KINDS)
    plan_ms = collect_ms = 0.0
    for sp in run.tracer.spans:
        if sp["parent"] is not None or run.ops.get(sp["op"], {}).get("kind") not in DIST_KINDS:
            continue
        if sp["name"] == "bench.collect":
            collect_ms += (sp["t1"] - sp["t0"]) * 1e3
        elif sp["name"].startswith("plans.search."):
            plan_ms += (sp["t1"] - sp["t0"]) * 1e3
    pruned = [o["prune"] for o in run.ops.values() if o["kind"] in DIST_KINDS and o.get("prune")]
    total = sum(p.get("chunks_total", 0) for p in pruned)
    kept = sum(p.get("chunks_kept", p.get("chunks_total", 0)) for p in pruned)
    out.update({
        "plans.search.plan_build_ms": plan_ms / n_dist if n_dist else 0.0,
        "plans.search.collect_ms": collect_ms / n_dist if n_dist else 0.0,
        "plans.search.prune_chunks_kept_ratio": kept / total if total else 1.0,
        "plans.search.prune_run_share": len(pruned) / n_dist if n_dist else 0.0,
    })
    # exact Spark work per op kind: every op of a kind must match
    for kind in SPARK_KINDS:
        recs = [o["spark"] for o in run.ops.values() if o["kind"] == kind and "spark" in o]
        win = run.window_counts.get(kind)
        for key in ("jobs", "stages", "tasks"):
            vals = [r[key] for r in recs]
            if len(set(vals)) > 1:
                run.fail(f"Spark {key} per {kind} op drifted: {vals}")
            if vals:
                v = float(vals[0])
            else:
                v = win[key] / n[kind] if win and n.get(kind) else 0.0
            out[f"session.spark_{key}_per_op.{kind}"] = v
    # build stages, from the manifest build_index returned
    m = st.manifest["metrics"]
    stage = m["stage_secs"]
    comp = m["compression"]
    out.update({
        "index.writer.build_s": st.build_s,
        "index.writer.normalize_stats_s": stage["normalize_stats"],
        "operators.segments.segments_write_s": stage["segments_write"],
        "index.writer.manifest_agg_s": stage["manifest_agg"],
        "operators.merge.merge_write_s": stage["merge_write"],
        "operators.merge.ms_per_chunk": stage["merge_write"] * 1e3 / max(comp["n_chunks"], 1),
        "index.writer.df_docmap_write_s": stage["df_docmap_write"],
        "functions.codecs.bytes_per_posting": comp["postings_bytes"] / max(comp["n_postings"], 1),
    })
    opens = [sp for sp in run.tracer.spans if sp["name"] == "index.reader.open"]
    purge = [o["s"] for o in run.ops.values() if o["kind"] == "purge"]
    out.update({
        "index.writer.delete_docs_ms": mean("delete", "index.writer.delete_docs", "wall_ms"),
        "index.reader.open_ms": (
            sum((sp["t1"] - sp["t0"]) * 1e3 for sp in opens) / len(opens) if opens else 0.0
        ),
        "index.reader.tombstones_ms": mean("refresh", "index.reader.tombstones"),
        "plans.search.tombstoned_topk_ms": mean(
            "tomb_topk", "plans.search.search_topk", "wall_ms"
        ),
        "index.writer.purge_deleted_s": purge[0] if purge else 0.0,
        "session.warm_workers_s": st.parts["warm_s"],
        "trace.overhead_ms": overhead,
    })
    check_count_repeat(run)
    return out


def layer_unit(name: str) -> str:
    last = "count" if ".spark_" in name else name.rsplit(".", 1)[-1]
    if last.endswith("_ms") or last.startswith("ms_"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith(("_share", "_ratio")):
        return "ratio"
    if "bytes" in last:
        return "B"
    return "count"


def check_count_repeat(run: Run) -> None:
    """The same query on the same index must fetch the same chunks and
    bytes and decode the same postings every time it runs."""
    per_op: dict[int, dict] = {}
    for sp in run.tracer.spans:
        if sp["op"] is not None and sp["counts"]:
            acc = per_op.setdefault(sp["op"], {})
            for k, v in sp["counts"].items():
                acc[k] = acc.get(k, 0) + v
    seen: dict = {}
    for oid, o in run.ops.items():
        key = o.get("query")
        if key is None:
            continue
        c = per_op.get(oid, {})
        if seen.setdefault(key, c) != c:
            run.fail(f"exact counts drifted for query {key}: {seen[key]} vs {c}")
