"""SparkSession factory.

One place to configure the engine so every entry point (tests, bench,
driver contract) runs with the same scale-aware defaults:

- AQE on (runtime re-plan: coalescing, skew joins, join-strategy switch)
- Arrow on (pandas-UDF exchange is columnar batches, not pickled rows)
- shuffle partitions sized to the machine, not the Spark default of 200
- UTC session timezone so timestamp semantics match the DuckDB oracle

In production this engine targets a multi-executor cluster; everything
here also applies there except ``master``/memory, which the cluster
manager supplies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "bdb2026-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    ``shuffle_partitions`` defaults to the core count: at local scale a
    shuffle partition per core keeps every task busy without tiny-task
    scheduling overhead; on a real cluster AQE coalescing makes the
    initial number mostly a ceiling.
    """
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # PySpark 4's DataFrame-debugging call-site capture costs THREE
        # py4j round trips per wrapped DataFrame-API call (conf.get +
        # PySparkCurrentOrigin.set/clear in pyspark/errors/utils.py::
        # _with_origin) — measured ~30% of the sf0.1 serial bench, and
        # pure plan-construction overhead at any scale. It only
        # enriches error messages with user line numbers; disable it
        # in engine sessions. (The value is cached process-wide at the
        # first wrapped call, so it must be set at session build.)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, data, schema: str):
    """A driver-side literal frame as a true JVM **LocalRelation**.

    ``spark.createDataFrame(list_of_tuples, schema)`` produces a
    PYTHON-RDD-backed ``LogicalRDD`` whose every evaluation round-trips
    through a Python worker — measured ~0.25 s per evaluation for a
    5-row grid at sf0.1, pure latency that recurs each time the frame
    feeds a broadcast build or a second plan branch (r14 optimization
    round, guide §1.2). Routing the same rows through pandas + Arrow
    yields a LocalRelation evaluated entirely in the JVM (~0.02 s),
    with identical values, and gives the planner an exact row count
    for its size estimates.

    Contract: ``data`` is a list of tuples of ints / floats / strings
    (exact under the pandas->Arrow conversion — int64/float64/utf8
    pass through bit-identically); ``schema`` is a DDL string. For
    timestamp/decimal literals keep the plain createDataFrame path.
    Arrow conversion is switched on for this one call when the session
    has it off, then restored (a vanilla driver-supplied session gets
    the fast path, its conf unchanged); if Arrow is unavailable
    createDataFrame falls back to the slow-but-correct path on its own.
    """
    import pandas as pd
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    pdf = pd.DataFrame(data, columns=[f.name for f in st.fields])
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key, "false")
    flip = prior.lower() != "true"
    if flip:
        try:
            spark.conf.set(key, "true")
        except Exception:  # noqa: BLE001 - conf may be locked; fallback still works
            flip = False
    try:
        return spark.createDataFrame(pdf, schema=st)
    finally:
        if flip:
            spark.conf.set(key, prior)
