"""Hive-style partitioned parquet sink + pruned read-back.

The storage layout that makes 100 TB scans affordable: writing
`partitionBy(col)` turns the partition column into directory structure,
so ANY downstream filter or join key on it prunes at the FILE LISTING
level — static pruning for literal predicates, dynamic partition
pruning (DPP) when the predicate only materializes at runtime from the
build side of a join. The reference's date-convention sharding
(date-named snapshot dirs, unextracted_snapshot.py) is this layout
maintained by hand; Spark derives it from the write and the optimizer
applies it automatically.

Gated by tests/test_partitioned_pruning.py:
 - a literal month filter must scan only matching partitions
   (PartitionFilters in the FileSourceScan, scanned-file count drops);
 - a join against a filtered dim must carry a dynamicpruning expression
   on the partition column — proof the layout survives into DPP, the
   mechanism that matters when the filter is not a literal.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from tlmc_etl_spark.sources.tables import table_row_count


def write_partitioned(df: DataFrame, path: str, partition_col: str) -> None:
    """Write `df` as parquet partitioned by `partition_col`.

    One shuffle-free write: partitionBy only splits files by value within
    each task (no exchange is forced). Callers that want one file per
    partition value repartition on the column first — at real scale you
    usually DON'T (that concentrates a hot date on one task); the
    default task-local split keeps write parallelism at input width.
    """
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read back with partition discovery (schema carries partition_col)."""
    return spark.read.parquet(path)


def partition_values(path: str) -> list[str]:
    """Partition values present on disk, from the directory names alone."""
    out = []
    for name in os.listdir(path):
        if "=" in name and not name.startswith("_"):
            out.append(name.split("=", 1)[1])
    return sorted(out)


def write_sorted(df: DataFrame, path: str, cols: list[str], n_files: int = 4) -> None:
    """Write parquet range-sorted by `cols` so row-group min/max stats
    become selective.

    Parquet readers (Spark's vectorized scan included) evaluate pushed
    predicates against per-row-group min/max before decoding a page. On
    unsorted data every row group spans nearly the full key range and
    nothing skips; after a global `repartitionByRange().sortWithinPartitions()`
    each row group owns a narrow, near-disjoint slice, so a point or
    range predicate touches O(1) of them. This is the single-column core
    of what Z-ordering generalizes to many columns — at 100 TB it is the
    difference between decoding every page of a date-keyed fact and
    decoding the one file that can match.

    Gated by tests/test_partitioned_pruning.py::TestSortedLayout via
    pyarrow row-group metadata: sorted layout => key ranges of row
    groups overlap (almost) nowhere; the unsorted control overlaps
    everywhere.
    """
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_files(
    spark: SparkSession, src: str, dst: str, target_rows_per_file: int
) -> int:
    """Rewrite a directory of small parquet files into ~target-sized ones;
    returns the output file count.

    The operational counterpart of every incremental sink in this repo:
    journal/append-mode writers emit one file per micro-batch per task,
    and a year of hourly batches turns a table into 10^5 tiny files whose
    open/footer cost dominates scans. Compaction is a read → coalesce →
    write of the SAME bytes: `coalesce` (not `repartition`) so merging is
    shuffle-free — tasks concatenate input splits instead of re-hashing
    100 TB. The output file count comes from the input's footer row
    count, so sizing runs no job. Row-count parity is the caller-visible
    invariant (gated in tests/test_partitioned_pruning.py::TestCompaction).

    Writes to `dst` (overwrite) rather than in place: the swap is the
    caller's atomic-publish step, matching the reference's
    write-then-rename discipline (journal.py:48-126).
    """
    n_files = max(1, -(-table_row_count(src) // target_rows_per_file))
    spark.read.parquet(src).coalesce(n_files).write.mode("overwrite").parquet(dst)
    import glob as _glob

    return len(_glob.glob(os.path.join(dst, "*.parquet")))


def z_value(a, b, bits: int = 10):
    """Morton/Z-order curve value for two non-negative int columns: bit i
    of `a` lands at position 2i, bit i of `b` at 2i+1. The interleaving
    makes ONE sort key whose locality covers BOTH dimensions — the
    multi-column generalization write_sorted's docstring promises. Pure
    JVM expression (an unrolled shift/mask/sum, whole-stage codegen) and
    exactly replayable in SQL, so the curve itself is oracle-checkable
    (plans `zorder_curve_assign`)."""
    from pyspark.sql import functions as F

    a_c = F.col(a) if isinstance(a, str) else a
    b_c = F.col(b) if isinstance(b, str) else b
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(a_c, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i)
        z = z + F.shiftleft(F.shiftright(b_c, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int | None = None,
    n_files: int = 4,
) -> None:
    """Write parquet Z-ordered on (col_a, col_b): range-partition + sort
    by the interleaved curve value, then drop the helper column.

    Why not two write_sorted columns: a lexicographic (a, b) sort makes
    row-group min/max selective for `a` only — `b` spans its full range
    inside every a-run, so a predicate on `b` alone (or a 2-D box) skips
    nothing. The Z-curve gives every row group a narrow range in BOTH
    dimensions at once, which is what a 100 TB fact filtered by either
    of two independent keys needs from its layout. Gated by
    tests/test_partitioned_pruning.py::TestZOrderLayout on pyarrow
    row-group metadata: per-dimension row-group stat widths under the Z
    layout must be selective where the single-column-sort control is
    blind.

    `bits=None` (default) sizes the interleave width from the ACTUAL key
    range: z_value drops every bit above `bits`, so an undersized
    explicit width would silently collapse distant keys onto the same
    curve position and the promised skipping would degrade to none —
    undersized or negative keys raise instead. The one bounds agg is a
    single cheap pass; the write is a full pass anyway."""
    import math

    lo_a, hi_a, lo_b, hi_b = df.selectExpr(
        f"min({col_a})", f"max({col_a})", f"min({col_b})", f"max({col_b})"
    ).first()
    if lo_a is None or lo_b is None:
        raise ValueError(
            "write_zordered: empty input (or all-NULL keys) — no key range "
            "to size the curve from"
        )
    if min(lo_a, lo_b) < 0:
        raise ValueError(
            f"write_zordered keys must be non-negative: min({col_a})={lo_a}, "
            f"min({col_b})={lo_b}"
        )
    need = max(1, int(max(hi_a, hi_b)).bit_length())
    if bits is None:
        bits = need
    elif bits < need:
        raise ValueError(
            f"bits={bits} cannot represent keys up to {max(hi_a, hi_b)} "
            f"({need} bits needed) — z_value would silently drop high bits "
            "and the layout would skip nothing"
        )
    if 2 * bits > 62:
        raise ValueError(f"bits={bits}: interleaved key exceeds a 63-bit long")
    zc = "__z"
    (
        df.withColumn(zc, z_value(col_a, col_b, bits))
        .repartitionByRange(n_files, zc)
        .sortWithinPartitions(zc)
        .drop(zc)
        .write.mode("overwrite")
        .parquet(path)
    )
