"""Record the small event-log fixture that test_eventlog.py parses.

    python3 -m perfbench.tests.record_eventlog

Run from the repository root. It starts a local[2] session with a zstd
event log, runs four tiny jobs (a JVM aggregate and a `mapInPandas`
stage under two span job groups, one job under a foreign group, one
with no group) and replaces perfbench/tests/data/eventlog_small/.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small")


def double(batches):
    for pdf in batches:
        yield pdf.assign(id=pdf["id"] * 2)


def main() -> None:
    log_dir = tempfile.mkdtemp(prefix="perfbench-eventlog-")
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "true")
        .config("spark.eventLog.compression.codec", "zstd")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "pb:opA/plans.build")
    spark.range(0, 1000, numPartitions=2).selectExpr("sum(id)").collect()
    sc.setLocalProperty("spark.jobGroup.id", "pb:opA/spark.action")
    spark.range(0, 1000, numPartitions=2).mapInPandas(double, "id long").write.format(
        "noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", "stream-run-id")
    spark.range(0, 10, numPartitions=1).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(0, 5, numPartitions=1).collect()
    spark.stop()

    (src,) = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    shutil.rmtree(DATA, ignore_errors=True)
    os.makedirs(DATA)
    for f in glob.glob(os.path.join(src, "events_*")):
        shutil.copy(f, DATA)
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
