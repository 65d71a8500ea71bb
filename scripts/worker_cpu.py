#!/usr/bin/env python
"""CPU per distributed op, split by the process that spent it.

    python scripts/worker_cpu.py [REPO_ROOT] [SEED] [REPS]

Spark in local mode runs the op's work in several processes: this Python
driver, the JVM it launches, and the JVM's Python worker daemons with the
workers they fork. ``perfbench`` reports their sum. This script splits it:
it builds the ``spark_analytics`` benchmark corpus for ``SEED`` (default 1;
``perfbench/corpus.py``, 12k docs, 400 terms) with the engine of
``REPO_ROOT`` (default: this script's checkout), warms every op kind up,
then runs each of the workload's six op kinds ``REPS`` times in a row
(default 6), with the workload's queries. For each kind it prints CPU ms
per op of:

* ``driver``: this process;
* ``jvm``: the Spark JVM, less its JIT compiler threads;
* ``jvm_jit``: the JVM's live C1/C2 compiler threads (a compiler thread
  that exits while idle leaves its CPU in ``jvm``);
* ``daemon <pid>``: one PySpark worker daemon and every worker it forked
  (the workers it has reaped count through its ``cutime``);

and the Spark jobs per op, read from the status tracker under one job group
per op. A last block sums each role over one six-op cycle. It reads
``/proc`` only for this process and its descendants.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from collections import defaultdict

ROOT = os.path.abspath(
    sys.argv[1] if len(sys.argv) > 1
    else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 1
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 6
CORES = 4
_TICK = os.sysconf("SC_CLK_TCK")
_JIT = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file; None once gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _cpu(fields: list[str], reaped: bool = False) -> int:
    # after the comm split: utime, stime, cutime, cstime = 11..14
    return sum(int(v) for v in fields[11 : 15 if reaped else 13])


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")) is not None:
            out[int(st[1][1])].append(int(name))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def snapshot() -> dict[str, int]:
    """CPU ticks so far of each role in this process's tree; ``jvm`` is
    the whole JVM, ``jit <tid>`` one live JIT compiler thread."""
    kids = _children()

    def tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    me = os.getpid()
    ticks: dict[str, int] = defaultdict(int)
    if (st := _stat(f"/proc/{me}/stat")) is not None:
        ticks["driver"] += _cpu(st[1])
    for child in kids.get(me, []):
        st = _stat(f"/proc/{child}/stat")
        if st is None or st[0] != "java":
            continue
        ticks["jvm"] += _cpu(st[1])
        for tid in os.listdir(f"/proc/{child}/task"):
            t = _stat(f"/proc/{child}/task/{tid}/stat")
            if t is not None and t[0].startswith(_JIT):
                ticks[f"jit {tid}"] += _cpu(t[1])
        for py in kids.get(child, []):
            role = (
                f"daemon {py}" if "pyspark.daemon" in _cmdline(py) else f"python {py}"
            )
            ticks[role] += sum(
                _cpu(s[1], reaped=True)
                for p in tree(py)
                if (s := _stat(f"/proc/{p}/stat")) is not None
            )
    return ticks


def _delta(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Ticks spent between two snapshots by role, the JIT compiler threads
    summed into ``jvm_jit`` and taken out of ``jvm``. A thread or process
    that started in between counts from zero; one that ended in between
    counts nothing (a JIT thread's share then stays in ``jvm``)."""
    out: dict[str, int] = defaultdict(int)
    for key, ticks in after.items():
        role = "jvm_jit" if key.startswith("jit ") else key
        out[role] += ticks - before.get(key, 0)
    out["jvm"] -= out["jvm_jit"]
    return out


def _ops(reader):
    """The spark_analytics op plan, with the workload's own queries."""
    import numpy as np
    from workloads import K, band_query

    from miru_spark.plans import search

    rng = np.random.Generator(np.random.PCG64([SEED, 0xA5]))
    q_conj = band_query(rng, [(0, 4), (10, 30)], "conjunctive")
    q_disj = band_query(rng, [(2, 6), (20, 60)], "disjunctive")
    many = [
        band_query(rng, [(4, 16)], "disjunctive"),
        band_query(rng, [(0, 5), (30, 80)], "conjunctive"),
        band_query(rng, [(3, 10), (10, 30), (40, 100)], "disjunctive"),
    ]
    q_agg = band_query(rng, [(8, 20), (40, 100)], "disjunctive")
    return [
        ("dist_conj", lambda: search.search_distributed(
            reader, q_conj[0], mode=q_conj[1], k=K)),
        ("dist_disj", lambda: search.search_distributed(
            reader, q_disj[0], mode=q_disj[1], k=K)),
        ("many_dist", lambda: search.search_many_distributed(reader, many, k=K)),
        ("facets", lambda: search.search_facets(reader, *q_agg, facet_col="lang")),
        ("multi_terms", lambda: search.search_multi_terms(
            reader, *q_agg, fields=("lang", "repo"), size=10)),
        ("field_stats", lambda: search.search_field_stats(reader, *q_agg)),
    ]


def main() -> None:
    work = tempfile.mkdtemp(prefix="miru_worker_cpu_")
    # Spark's Python workers start in this process's working directory and
    # import the engine from there first, whatever PYTHONPATH says
    os.chdir(ROOT)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from corpus import make_corpus
    from procs import stop_spark
    from tracing import SparkCounter
    from workloads import SPEC

    from miru_spark import session
    from miru_spark.index import writer
    from miru_spark.index.reader import IndexReader
    from miru_spark.schema import corpus_from_documents

    spark = session.get_spark(
        "worker-cpu",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        session.warm_python_workers(spark)
        parquet = os.path.join(work, "documents.parquet")
        make_corpus(SPEC, SEED).write_parquet(parquet)
        idx = os.path.join(work, "index")
        writer.build_index(
            spark,
            corpus_from_documents(spark.read.parquet(parquet)),
            idx,
            num_partitions=4,
        )
        plan = _ops(IndexReader(spark, idx))
        for _, fn in plan:  # warm-up: one of each kind
            fn().collect()
        counter = SparkCounter(spark.sparkContext)
        per_kind: dict[str, dict[str, float]] = {}
        jobs: dict[str, float] = {}
        for kind, fn in plan:
            n_jobs = 0
            before = snapshot()
            for _ in range(REPS):
                gid = counter.begin()
                fn().collect()
                n_jobs += counter.end(gid)["jobs"]
            per_kind[kind] = {
                role: ticks / _TICK * 1e3 / REPS
                for role, ticks in _delta(before, snapshot()).items()
            }
            jobs[kind] = n_jobs / REPS
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    def workers(role: str) -> bool:
        return role.startswith(("daemon", "python"))

    print(f"seed {SEED}, {REPS} ops per kind, CPU ms per op by role")
    cycle: dict[str, float] = defaultdict(float)
    for kind, roles in per_kind.items():
        print(f"{kind}: {jobs[kind]:g} Spark jobs per op")
        for role in sorted(roles, key=lambda r: (workers(r), r)):
            if roles[role] or not workers(role):
                print(f"  {role:<16} {roles[role]:10.1f}")
            cycle[role] += roles[role]
    py = sum(v for r, v in cycle.items() if workers(r))
    print("one six-op cycle, CPU ms")
    for role in sorted(cycle, key=lambda r: (workers(r), r)):
        print(f"  {role:<16} {cycle[role]:10.1f}")
    print(f"  {'python workers':<16} {py:10.1f}")
    print(f"  {'total':<16} {sum(cycle.values()):10.1f}")


if __name__ == "__main__":
    main()
