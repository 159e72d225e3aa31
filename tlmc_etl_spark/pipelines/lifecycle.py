"""The composed §3.1→§3.2 lifecycle as ONE DAG: manifest → catalog →
similarity → shard sink → hydrated stats.

The reference runs its metadata lifecycle (info_scanner phases →
release catalog) and its similarity lifecycle (pooled recall → chamfer
rerank → 10k-anchor CSV shards → DB load) as one pipeline per release
cycle; benching the stages individually can't see cross-stage plan
regressions (a broadcast held across a stage boundary, a subtree
silently recomputed, a sink that re-derives its input). This module
wires them together the way the reference does:

  1. catalog gate: only releases with NO review flags feed similarity —
     flagged albums are for humans, not the recommender
     (STEPS.md's review loop before precompute_similar_tracks.py).
  2. two-stage similarity over the gated track set.
  3. CSV shard sink (the SimilarTrackProcessor.cs load contract),
     materialized exactly once at the stage boundary.
  4. the returned stats DataFrame reads BACK from the sink — its
     lineage holds only the CSV scan + a broadcast catalog join, never
     the similarity subtree (plan-gated in tests/test_plan_quality.py),
     so downstream consumers can't accidentally recompute the pipeline.

The release catalog feeds both the clean gate (before the sink) and the
hydration join (after the read-back), each as a broadcast, so the driver
holds it either way. It is materialized once, as a driver-side local
table: the catalog subtree runs as one job, and both consumers plan a
LocalTableScan of its rows. Nothing is cached, so a lifecycle call
leaves the session's cache as it found it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tlmc_etl_spark.pipelines.similarity import two_stage_similar_tracks
from tlmc_etl_spark.tuning import bounded_one_partition, dimension_exec
from tlmc_etl_spark.sinks.shards import (
    read_similar_track_shards,
    write_similar_track_shards,
)

# CSV shards of the similar-track table
N_SHARDS = 8


def lifecycle_pre_sink(
    spark: SparkSession, release: DataFrame, chunks: DataFrame, catalog_rows: int
):
    """Stages 1-2 (catalog gate → similarity): returns (rel, ranked,
    n_rel) WITHOUT writing the sink — `ranked` is the complete pre-sink
    plan, exposed so the shuffle-budget gate can inspect this half of
    the lifecycle on its own (the mid-DAG sink materialization otherwise
    defeats a static exchange count over the composed query)."""
    rel = release.select(
        F.col("album_name"),
        # 24-row dimension: the global sort is a broadcast-sized no-op;
        # at real scale the release key would ride the track table
        # instead. bounded_one_partition: real (one-group) partitionSpec
        # so the fixed-dimension rank stops tripping WindowExec's warning.
        (
            F.row_number().over(
                W.partitionBy(
                    bounded_one_partition(F.length("circle_dir"))
                ).orderBy("circle_dir", "album_dir")
            )
            - 1
        ).alias("release_idx"),
        (F.col("needs_review_reasons") == "").alias("clean"),
    )
    # The catalog is a DIMENSION subtree (manifest rows in, |releases|
    # rows out): planned normally it pays ~14 sequential one-task jobs —
    # mostly BroadcastExchange builds, one per dimension join, plus AQE
    # stage materializations (the round-15 "AQE dimension-floor").
    # `catalog_rows` bounds its size — the manifest's parquet footer
    # count, no job — so under dimension_exec the collect runs as ONE
    # statically planned job (measured 15 jobs -> 1 job / 16 chained
    # one-task stages). The rows come back as a local table: the Arrow
    # round trip plans as a LocalTableScan, so neither consumer re-runs
    # the subtree and nothing is left cached.
    with dimension_exec(spark, catalog_rows):
        pdf = rel.toPandas()
    rel = spark.createDataFrame(pdf, rel.schema)
    n_rel = len(pdf)
    clean_idx = rel.filter("clean").select("release_idx")
    gated = chunks.join(
        F.broadcast(clean_idx),
        F.pmod(F.col("track"), F.lit(n_rel)) == F.col("release_idx"),
        "left_semi",
    )
    ranked = two_stage_similar_tracks(gated)
    return rel, ranked, n_rel


def lifecycle_post_sink(
    spark: SparkSession, out_dir: str, rel: DataFrame, n_rel: int
) -> DataFrame:
    """Stage 4 (read-back + hydrated per-shard stats): lineage holds only
    the CSV scan + a broadcast catalog join — never the similarity
    subtree (plan-gated). Split out so this half gets its own shuffle
    budget too."""
    back = read_similar_track_shards(spark, out_dir)
    hydrated = back.join(
        F.broadcast(rel.select("release_idx", "album_name")),
        F.pmod(F.col("anchor_id").cast("long"), F.lit(n_rel)) == F.col("release_idx"),
        "left",
    )
    return (
        hydrated.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("anchor_id").alias("n_anchors"),
            F.countDistinct("album_name").alias("n_albums"),
        )
        .orderBy("shard")
    )


def similar_track_lifecycle(
    spark: SparkSession,
    release: DataFrame,
    chunks: DataFrame,
    out_dir: str,
    catalog_rows: int,
    portable_shards: bool = False,
) -> DataFrame:
    """Run catalog-gate → similarity → shard sink; return per-shard stats.

    `release` is the gold catalog (must carry circle_dir/album_dir/
    album_name/needs_review_reasons); `chunks` the (track, vec_id, vec)
    chunk table; `catalog_rows` an upper bound on the catalog's rows
    (the manifest's footer count). Tracks map to releases by track mod
    |catalog| — the synthetic keying the test tables use throughout.
    """
    rel, ranked, n_rel = lifecycle_pre_sink(spark, release, chunks, catalog_rows)
    write_similar_track_shards(
        ranked, out_dir, n_shards=N_SHARDS, portable=portable_shards
    )
    return lifecycle_post_sink(spark, out_dir, rel, n_rel)
