"""SparkSession factory with the engine's scale-oriented defaults.

Local testing runs ``local[N]`` but every setting is chosen for the
1000-executor / 100 TB case: AQE for runtime re-planning + skew-join
mitigation, Arrow for all pandas-UDF traffic, partition counts sized so a
shuffle partition stays in executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT, EngineConfig


def get_spark(
    app_name: str = "hilbert-curve-spark",
    master: str | None = None,
    config: EngineConfig = DEFAULT,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[{}]".format(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # single-JVM local mode: the driver heap hosts ALL task slots — at
        # local[32] each concurrent parquet writer/sort buffers inside this
        # heap, so size it for the slot count (32 writers x ~1 GB would GC-
        # thrash an 8g heap; measured 9x slowdown)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # a fused whole-stage method over the JVM JIT's 8 KB
        # DontCompileHugeMethods threshold is never JIT-compiled and runs
        # as INTERPRETED bytecode (measured 10x slower on a long chain of
        # projections).  Capping the huge-method limit at the JIT threshold
        # makes such stages fall back to per-operator compiled code, which
        # the JIT does compile (SPARK-21871's recommended setting).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
