"""Parquet table loaders for the driver's synthetic star schema.

The reference's primary source is a filesystem tree turned into a manifest
(info_scanner_ph1.py:505-522 in the reference); here every source is already
a columnar table, which is the shape the rebuild targets anyway (SURVEY.md
§7.1 bronze layer). Loads are plain `spark.read.parquet` so Catalyst gets
predicate pushdown + column pruning on every scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
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
]

# Dimension tables small enough to always broadcast in joins.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet may carry TIMESTAMP(NANOS), which Spark's parquet
    reader rejects. `session.get_spark` sets
    `spark.sql.legacy.parquet.nanosAsLong` once, so such a column reads as
    long; convert it to a microsecond timestamp (truncation —
    sub-microsecond precision is below anything the engine exposes). A
    session built elsewhere needs that flag to read a nanos file.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("bigint")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL-first plans."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_row_count(path: str) -> int:
    """Row count of the parquet table at `path` (one file or a directory
    of part files) from its FOOTERS — no Spark job. This is the package's
    one way to size an input before a plan is built.

    A directory is read the way Spark reads it: every file below it,
    partition subdirectories included, except names starting with `_`
    or `.` (`_SUCCESS`, checksum files)."""
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return pq.ParquetFile(path).metadata.num_rows
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for f in files
            if not f.startswith(("_", "."))
        )
    return n
