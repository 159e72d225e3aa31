"""SparkSession factory.

Local mode is a single JVM; the config mirrors what a cluster deployment
would set per-executor so plans tested here carry over (AQE on, shuffle
partitions sized to cores, Arrow enabled for pandas-UDF exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "tlmc-etl-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Default AQE coalescing everywhere: pure-JVM shuffles SHOULD fold
        # tiny partitions into few tasks (the r2 session-wide
        # minPartitionSize=1b override fanned every small shuffle to 32+
        # tasks and regressed the relational suite 2-4x at sf0.1).
        # CPU-heavy Python stages opt out per-plan via tuning.fanout(),
        # whose user-specified repartition count AQE never coalesces.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet may carry TIMESTAMP(NANOS); read it as long once
        # per session (sources/tables._load_events converts it).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow-optimize row-at-a-time Python UDFs (Spark 4): the few
        # licensed F.udf sites (stack parsers — cue sheets, wiki
        # templates, frame walkers) get Arrow batch transfer instead of
        # per-row pickling, with no per-site rewrite. Semantics checked
        # by the full oracle suite (round 14).
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
