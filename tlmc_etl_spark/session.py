"""SparkSession factory.

Local mode is a single JVM; the config mirrors what a cluster deployment
would set per-executor so plans tested here carry over (AQE on, shuffle
partitions sized to cores, Arrow enabled for pandas-UDF exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_resources() -> tuple[str, str, str]:
    """(cores, shuffle partitions, driver memory) for a local session.

    Each comes from the host unless its environment variable is set:
    SPARK_GRAFT_CPUS defaults to the cores this process may run on,
    SPARK_SHUFFLE_PARTITIONS to that core count, and SPARK_DRIVER_MEMORY
    to half the physical memory, capped at 48g.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    shuffle = os.environ.get("SPARK_SHUFFLE_PARTITIONS") or cpus
    half_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or f"{min(max(half_gb, 1), 48)}g"
    return cpus, shuffle, memory


def get_spark(app_name: str = "tlmc-etl-spark") -> SparkSession:
    cpus, shuffle, memory = local_resources()
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
        .config("spark.driver.memory", memory)
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
