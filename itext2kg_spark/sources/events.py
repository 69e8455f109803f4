"""Deterministic synthetic events table for scale probes and benchmarks.

Same schema as /root/testdata/sf*/events.parquet (event_id, ts, user_id,
event_type, value). The distribution is the bot-skew case the event-time
operators must absorb: ~n/200 uniform users plus ONE hot user holding ~10%
of all rows, timestamps spread over ~4 months with per-user bursts so
sessionization produces real session structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synth_events(spark: SparkSession, n: int, partitions: int = 64) -> DataFrame:
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_add(
            "SECOND",
            ((F.col("id") * 37) % 10_000_000).cast("int"),
            base,
        ).alias("ts"),
        F.when(F.col("id") % 10 == 0, F.lit(0))
        .otherwise((F.xxhash64("id") % (n // 200)).cast("long"))
        .alias("user_id"),
        F.when(F.col("id") % 3 == 0, F.lit("view"))
        .when(F.col("id") % 3 == 1, F.lit("click"))
        .otherwise(F.lit("purchase"))
        .alias("event_type"),
        ((F.col("id") % 997) / 10.0).alias("value"),
    )
    df = df.repartition(partitions)
    # probes time the operators, not the generator
    return df.localCheckpoint()
