#!/usr/bin/env python3
"""miru_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload driver_topk --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the directory holding
``miru_spark/``). The workload's corpus and queries are generated from
``--seed``; the engine is driven through its public functions on Spark
``local[4]``; every result is checked against a numpy reference.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the wrappers of ``tracing.py`` are installed and the metrics are the
per-layer ones, and the spans are written to
``.perfbench/trace-<workload>-s<seed>.json``. The line before it is a
human-readable summary with the workload-specific detail (sample counts,
corpus size, and the per-workload figures named in README.md).

All files the run writes stay under ``.perfbench/`` in the checkout; the
Spark JVM and its Python workers are stopped and waited for before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("driver_topk", "spark_analytics")
CORES = 4


def _env(work: str) -> None:
    """Keep every temp file inside the checkout and let Spark's Python
    workers import the engine from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm_opts}" pyspark-shell'
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string-hash seed for the driver and every Python worker, so
        # set and dict layouts (and the work done) repeat run to run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    if not os.path.isfile(os.path.join(ROOT, "miru_spark", "__init__.py")):
        print(
            f"perfbench: no miru_spark/ package beside perfbench/ in {ROOT}; "
            "run from a full source checkout",
            file=sys.stderr,
        )
        return 2
    sys.dont_write_bytecode = True
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    _env(work)
    sys.path[:0] = [ROOT, HERE]

    from procs import steal_ticks, stop_spark, yardstick_ms
    from workloads import WORKLOADS, Run, layer_unit

    import pyarrow as pa

    from miru_spark import session

    # one pyarrow thread in the driver: the driver path's reads then run on
    # one core instead of spreading over all four, which the JVM and the
    # host's other tenants share; CPU per search_topk then repeats closely
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)

    yard0 = yardstick_ms()
    steal0 = steal_ticks()
    t0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark_start_s = time.perf_counter() - t0
        run = Run(spark, work, args.seed, args.seconds, traced=bool(args.trace))
        if run.tracer is not None:
            run.tracer.install()
        t0 = time.perf_counter()
        session.warm_python_workers(spark)
        warm_s = time.perf_counter() - t0
        out = WORKLOADS[args.workload](
            run, {"spark_start_s": spark_start_s, "warm_s": warm_s}
        )
        if run.tracer is not None:
            run.tracer.restore()
            run.tracer.dump(
                os.path.join(base, f"trace-{args.workload}-s{args.seed}.json"),
                run.ops,
            )
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    steal1 = steal_ticks()
    yard1 = yardstick_ms()
    failed = len(run.failures)
    if args.trace:
        metrics = {
            name: {"value": float(v), "unit": layer_unit(name)}
            for name, v in out["layers"].items()
        }
    else:
        metrics = {
            name: {"value": float(v), "unit": unit}
            for name, (v, unit) in out["e2e"].items()
        }
    summary = dict(
        workload=args.workload,
        seed=args.seed,
        failed_share=failed / run.attempted,
        failures=run.failures[:5],
        steal_share=(steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        yardstick_ms=[yard0, yard1],
        **out["detail"],
    )
    print("perfbench summary: " + json.dumps(summary, default=float))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
