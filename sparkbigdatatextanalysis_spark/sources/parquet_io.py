"""Parquet reads of the synthetic driver tables.

The driver contract hands the engine its tables as one parquet file per
name under a scale-factor directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(events: DataFrame) -> DataFrame:
    """Normalize ``ts`` to plain TIMESTAMP regardless of how the parquet
    stored it. The synthetic ``events`` table has shipped both as
    TIMESTAMP(NANOS) -- which Spark's reader only surfaces as int64 nanos
    under ``spark.sql.legacy.parquet.nanosAsLong`` -- and as timestamp[us]
    (read as TIMESTAMP_NTZ). The session pins timeZone=UTC, so the
    NTZ->TZ cast is value-identical."""
    dtype = dict(events.dtypes)["ts"]
    if dtype == "bigint":
        events = events.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif dtype != "timestamp":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events
