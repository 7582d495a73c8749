"""SparkSession builder tuned for this engine.

Local mode is single-JVM; the same settings scale out unchanged on a real
cluster: AQE handles runtime re-planning (partition coalescing, skew-join
splitting, dynamic broadcast), Arrow accelerates any pandas-UDF path, and
shuffle partitions default to the local core count instead of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkbigdatatextanalysis",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32; ``shuffle_partitions``
    defaults to the core count (right-sized for local; on a cluster pass
    ~2-3x total cores, or rely on AQE coalescing from a higher initial).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE numbers whole-stage codegen stages in the order their query
        # stages finish; with the id in the generated class name,
        # identical stage code misses the codegen cache and is
        # recompiled on every run of the same plan.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark's DataFrame debugging records the Python call site of
        # every Column and functions.* call: about four extra py4j round
        # trips each, plus a walk of the Python stack. Building one
        # search request or ER job made hundreds of such calls, which
        # cost about as much CPU as running it. Off, an analysis or
        # runtime error keeps its error class and message but loses the
        # "== DataFrame ==" block naming the Python line that built the
        # failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
