"""Plan-embedded parallelism hints for Python-CPU stages.

AQE's partition coalescing is byte-based and blind to CPU cost: a few
hundred KB of shuffle feeding a pandas-UDF stage collapses to one task
under the default 1 MiB advisory floor (measured 8x slowdown on the
Hungarian match at sf0.1). Round 2 fixed that with a session-wide
`coalescePartitions.minPartitionSize=1b` + `parallelismFirst=true`, which
un-coalesced EVERY tiny shuffle and regressed the pure-JVM relational
suite 2-4x (scheduling overhead exceeded the work at sf0.1).

The scoped fix lives in the plan, not the session: Spark exempts
user-specified repartition counts (ShuffleOrigin REPARTITION_BY_NUM) from
AQE coalescing, so `fanout(df, keys)` immediately before a heavy
`applyInPandas`/`mapInPandas` pins that one exchange at full parallelism
while every relational shuffle keeps normal AQE behavior. When keys match
the downstream groupBy, Catalyst reuses the hash partitioning and no
second exchange is added.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def fanout(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition with an explicit (AQE-coalesce-exempt) partition count.

    Use directly before a CPU-bound Python stage whose shuffle input is
    small in bytes but expensive per row. With `cols`, hash-partitions on
    them (a following groupBy on the same keys adds no exchange); without,
    round-robins rows across tasks.

    The count is the session's `spark.sql.shuffle.partitions`, NOT
    defaultParallelism: a keyed fanout often feeds one side of a
    groupBy/cogroup whose other side hash-partitions at
    shuffle.partitions, and when the two counts differ EnsureRequirements
    inserts an extra aligning exchange (breaking the pinned-parallelism
    point of the fanout and the plans' shuffle budgets). In this repo's
    session the two are the same number (session.py sizes both to
    $SPARK_GRAFT_CPUS), but the alignment must not depend on that.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols) if cols else df.repartition(n)


def bounded_one_partition(numeric_col) -> "Column":  # noqa: F821
    """Constant-but-NON-FOLDABLE window partition key (pmod(key, 1) = 0
    for every row) for ranking a PROVABLY BOUNDED input — a
    TakeOrdered/limit result or a fixed-size dimension.

    A bare `W.orderBy(...)` window leaves partitionSpec empty, and
    WindowExec then warns "Moving all data to a single partition" on
    every run even when "all data" is ≤100 rows by construction — log
    noise that buries real single-partition hazards. A literal
    partition key does not help: Catalyst folds foldable partition
    expressions away and the spec is empty again. pmod(key, 1)
    references a column, so it survives optimization, WindowExec sees a
    real (one-group) partitionSpec, and execution is the same bounded
    single partition. The plan lint (tests/test_plan_quality.py) treats
    this idiom as a GLOBAL window — using it over a non-limited input
    still fails CI; it silences the warning only where the boundedness
    is structural.

    NULL keys coalesce to 0 first: pmod(NULL, 1) is NULL, which would
    split NULL-key rows into a SECOND window partition and restart
    row_number there (duplicate ranks). coalesce(col, 0) still
    references the column, so the expression stays non-foldable.
    """
    from pyspark.sql import functions as F

    c = F.col(numeric_col) if isinstance(numeric_col, str) else numeric_col
    return F.pmod(F.coalesce(c, F.lit(0)), F.lit(1))


# Row bound under which dimension_exec plans a subtree as one task.
ONE_TASK_ROWS = 4096


@contextmanager
def dimension_exec(spark, est_rows: int):
    """Scoped execution context for materializing a DIMENSION-sized
    subtree (catalog/release tables, top-k results, month domains).

    When the caller's row estimate says the WHOLE subtree fits one task
    (<= ONE_TASK_ROWS), the materialization runs as ONE statically
    planned single-partition job with broadcast builds disabled; above
    that, the context is a PASSTHROUGH and the adaptive machinery keeps
    the query.

    Why the one-task regime exists: each dimension-dimension join in
    such a subtree spawns a sequential BroadcastExchange-build job, and
    AQE adds a stage-materialization job per exchange — ~14 one-task
    scheduler round-trips for the lifecycle's release catalog (the
    round-15 "AQE dimension-floor"). With a single static partition and
    broadcasts off, every join degenerates to a one-partition sort-merge
    and the whole materialization collapses to ONE job of chained
    one-task stages (measured: 15 jobs -> 1 job / 16 stages).

    Why the passthrough regime exists: the same static treatment applied
    to a 292k-row per-batch catalog rebuild (the 10k-album catch-up
    drain) measured 0.67 -> 1.49 s/1k albums — at real batch sizes AQE's
    runtime broadcasts and coalescing beat any static guess, so the
    context must never engage there. est_rows is the caller's parquet
    footer count of the subtree's input (sources.tables.table_row_count)
    — never a probe job, never a local[32] constant.

    The context wraps the action that materializes the subtree (the
    lifecycle's catalog collect): the physical plan is compiled when
    the action runs, so the action must run inside the context for the
    one-task regime to apply.
    """
    if est_rows > ONE_TASK_ROWS:
        yield
        return
    cur = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
