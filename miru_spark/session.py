"""SparkSession factory with the engine's standard configuration.

Scale notes (the configs below are the local-mode stand-ins for the
multi-executor settings we would ship at 10^12-file scale):

* AQE on — runtime coalescing of the term-shuffle and skew-join splitting.
* Arrow on + bounded batch size — every JVM<->Python crossing is vectorized
  (BASELINE.json input_hint: "no per-row Python").
* ``spark.sql.shuffle.partitions`` sized ~= cores locally; on a real cluster
  this would be 2-3x total executor cores and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "miru_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry point serves tests, bench at two parallelism levels, and a
    real ``spark-submit`` launch (where ``master`` stays None and the cluster
    manager decides).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, schema: str | T.StructType, columns=()
) -> DataFrame:
    """A relation built on the driver, shipped to Spark as one Arrow table.

    ``columns`` holds one array-like per field of ``schema`` (a DDL string or
    a StructType), in field order; none gives the empty relation. The plan
    is a ``LocalTableScan``: no Python runs to read it. ``createDataFrame``
    of a Python list, even an empty one, plans ``Scan ExistingRDD`` instead,
    and every collect of it runs Python tasks, in a worker daemon that never
    imports the engine."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, T.StructType):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if not len(columns):
        return spark.createDataFrame(arrow.empty_table(), schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def warm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Pre-fork one Arrow-capable Python worker per core so the first real
    vectorized stage doesn't pay n concurrent numpy/pandas imports (a real
    effect at local[32]; on a cluster each executor warms independently).
    Each warmed worker also imports the engine, so it holds the worker
    setup of :mod:`miru_spark.worker` before its first real task."""
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    if n is None:
        n = spark.sparkContext.defaultParallelism

    def _touch(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        import miru_spark  # noqa: F401  (the worker setup, miru_spark.worker)

        yield from it

    (
        spark.range(n * 4, numPartitions=n)
        .withColumn("x", F.col("id") * 2)
        .mapInArrow(_touch, "id long, x long")
        .count()
    )
