"""Two-stage similarity pipeline: pooled recall → chamfer rerank → ranked
neighbor table (→ similar_track shards).

This is the reference's similarity lifecycle (SURVEY.md §3.2,
SIMILARITY-PLAN.md): brute-force late interaction over the full catalog is
~190 PFLOP ≈ 3 weeks, so a cheap exact-cosine recall stage prunes to K
candidates per anchor and the expensive chamfer score runs only on those —
a broadcast-then-refine join plan.

Spark shapes:
 - pooling: posexplode → groupBy(track, position) mean → renormalize.
   Reducer state is one running sum per (track, position) — never a
   gathered matrix.
 - recall: self-selecting (recall_candidates). Under EXACT_TILE_CEILING
   driver tiles the pooled matrix is collected tile-by-tile and shipped
   to tasks (at reference scale 164k×1024 fp32 ≈ 640 MB — broadcastable),
   candidates streaming through mapInPandas, one matmul per Arrow batch;
   past the ceiling the IVF candidate path takes over (bounded per-anchor
   work, recall floor property-gated).
 - rerank: chunk sets gathered per track with a hard cap (the reference
   pads/subsamples at 96 chunks, precompute_similar_tracks.py:84-92 — the
   cap IS the scale contract), pairs scored in applyInPandas. Chunk-IDF
   weights are optional data on the same path: gather_chunks(weight_col=)
   adds an aligned `chunk_weights` column, and chamfer_rerank weights
   both sides whenever that column is present (rerank.py:60-90).

The configuration is fixed: every chunk table is (track, vec_id, vec),
and the shape constants below are the one setting every caller uses.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tlmc_etl_spark.operators.vectors import chamfer_numpy, chunk_matrix
from tlmc_etl_spark.tuning import fanout

# recall candidates per track, neighbors kept per track, chunks per track
K_RECALL = 15
K_FINAL = 5
CHUNK_CAP = 96
# candidate rows per exact-recall broadcast tile
TILE_ROWS = 200_000
# Ceiling on driver tile collects the exact recall path may pay. Each
# tile is one collect + one broadcast + one full-corpus matmul pass, so
# exact cost grows as n_tiles × n — quadratic once tiles grow with the
# corpus. Past the ceiling the IVF candidate path takes over (the
# reference's own two-tier design: exact late-interaction only inside a
# recalled candidate set, SIMILARITY-PLAN.md:63-79).
EXACT_TILE_CEILING = 8
# IVF recall arm: expected pooled rows per cell, cells probed per anchor
IVF_TARGET_CELL = 4096
IVF_N_PROBE = 8


def pooled_unit_mean(chunks: DataFrame) -> DataFrame:
    """Per-track mean of chunk vectors, renormalized to unit length
    (utils/utils.py:114-129). Output: (track, pooled array<double>)."""
    expanded = chunks.select(
        F.col("track").alias("track"), F.posexplode("vec").alias("pos", "x")
    ).select("track", "pos", F.col("x").cast("double").alias("x"))
    mean_vec = expanded.groupBy("track", "pos").agg(F.avg("x").alias("m"))
    gathered = (
        mean_vec.groupBy("track")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("track", F.expr("transform(pm, s -> s.m)").alias("pooled"))
    )
    return gathered.select("track", _normalized("pooled").alias("pooled"))


def _normalized(col: str):
    norm = F.sqrt(F.aggregate(F.col(col), F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(F.col(col), lambda x: x / norm)


def cosine_recall(pooled: DataFrame, n: int) -> DataFrame:
    """Exact cosine top-K_RECALL over the pooled table of `n` rows (tiled
    matmul; pooled vectors are unit-norm so cosine = dot). Output
    (anchor, neighbor, recall_score).

    Scale shape: the CANDIDATE side is processed in hash tiles of at most
    TILE_ROWS rows — each tile is collected, broadcast, and scored
    against the streaming anchor side for a per-tile top-k; a final
    per-anchor window merges the partials. The driver never holds more
    than one tile, so memory is bounded by TILE_ROWS × dim, not corpus
    size (the round-1 single-collect form broke at the reference's 640 MB
    pooled table). Tie-breaks are (rounded score desc, neighbor asc) both
    in-tile and in the merge window, so output is layout-independent.
    """
    import math

    k = K_RECALL
    n_tiles = max(1, math.ceil(n / TILE_ROWS))
    spark = pooled.sparkSession

    partials = []
    for t in range(n_tiles):
        tile = (
            pooled.filter(F.pmod(F.xxhash64("track"), F.lit(n_tiles)) == t)
            if n_tiles > 1
            else pooled
        )
        rows = tile.collect()
        if not rows:
            continue
        ids = np.array([r["track"] for r in rows], dtype=np.int64)
        M = np.array([r["pooled"] for r in rows], dtype=np.float64)
        bc = spark.sparkContext.broadcast((ids, M))

        def score(batches, _bc=bc):
            c_ids, C = _bc.value
            for pdf in batches:
                A = np.array(pdf["pooled"].tolist(), dtype=np.float64)
                a_ids = pdf["track"].to_numpy()
                sims = np.round(A @ C.T, 6)
                for i in range(len(a_ids)):
                    row = sims[i]
                    mask = c_ids != a_ids[i]
                    cand_ids = c_ids[mask]
                    cand_s = row[mask]
                    order = np.lexsort((cand_ids, -cand_s))[:k]
                    yield pd.DataFrame(
                        {
                            "anchor": np.full(len(order), a_ids[i]),
                            "neighbor": cand_ids[order],
                            "recall_score": cand_s[order],
                        }
                    )

        partials.append(
            (
                bc,
                pooled.mapInPandas(
                    score, schema="anchor long, neighbor long, recall_score double"
                ),
            )
        )

    from functools import reduce

    if not partials:
        return spark.createDataFrame([], "anchor long, neighbor long, recall_score double")
    union = reduce(DataFrame.unionByName, [p for _, p in partials])
    w = W.partitionBy("anchor").orderBy(F.col("recall_score").desc(), F.col("neighbor").asc())
    merged = (
        union.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    # ONE materialization of the merged top-k (n_anchors × k rows — small)
    # releases every tile broadcast at once; a per-tile eager checkpoint
    # would instead run one extra job per tile (measured 2x on the
    # two-stage pipeline), while skipping the release entirely would pin
    # every tile's (ids, matrix) copy on driver and disk for the session.
    merged = merged.localCheckpoint(eager=True)
    for bc_t, _ in partials:
        bc_t.destroy()
    return merged


def choose_recall_strategy(n: int) -> str:
    """'exact' while the corpus fits in <= EXACT_TILE_CEILING broadcast
    tiles, else 'ivf'. Pure so the takeover point is contract-testable
    at any n without materializing a corpus that size."""
    import math

    return (
        "exact"
        if max(1, math.ceil(n / TILE_ROWS)) <= EXACT_TILE_CEILING
        else "ivf"
    )


def recall_candidates(pooled: DataFrame, n: int) -> DataFrame:
    """Self-selecting top-K_RECALL recall stage over the pooled table of
    `n` rows: exact tiled cosine while the corpus is small enough that every
    candidate tile fits through a bounded number of driver collects; IVF
    candidate generation beyond. Both arms return a MATERIALIZED table
    (the exact arm's merged top-k checkpoint, the IVF arm's own), so the
    caller may release `pooled` as soon as this returns.

    The IVF arm auto-sizes the coarse quantizer to the corpus —
    n_centroids = ceil(n / IVF_TARGET_CELL) keeps EXPECTED cell
    occupancy ~IVF_TARGET_CELL regardless of n, so per-anchor candidate
    work is IVF_N_PROBE × IVF_TARGET_CELL — bounded, not
    corpus-proportional. Recall against the exact form is property-gated
    (tests/test_similarity_pipeline.py); scores of emitted candidates
    are exact cosine in both arms, so the rerank stage sees identical
    semantics either way.
    """
    import math

    if choose_recall_strategy(n) == "exact":
        return cosine_recall(pooled, n)
    from tlmc_etl_spark.operators.vectors import ivf_topk

    n_centroids = max(16, math.ceil(n / IVF_TARGET_CELL))
    return ivf_topk(
        pooled,
        "track",
        "pooled",
        k=K_RECALL,
        n_centroids=n_centroids,
        n_probe=min(IVF_N_PROBE, n_centroids),
    ).select(
        "anchor",
        "neighbor",
        F.round(F.col("score"), 6).alias("recall_score"),
    ).localCheckpoint(eager=True)


def gather_chunks(chunks: DataFrame, weight_col: str | None = None) -> DataFrame:
    """(track, chunk matrix as array<array<double>>) from a
    (track, vec_id, vec) chunk table, capped at CHUNK_CAP chunks per
    track — the pad/subsample contract.

    The chunks that survive the cap are the first CHUNK_CAP by `vec_id`,
    the chunk table's explicit, stable per-chunk index: layout-independent,
    unlike a monotonically_increasing_id, which depends on partition
    layout and made rerank scores drift across repartitions (the
    engine's determinism rule forbids that).

    With `weight_col` (the chunk-IDF weight, joined onto the chunks by
    the caller) the output also carries `chunk_weights`, aligned with
    `chunk_set`: vector and weight collect through one sorted struct, so
    weight i always belongs to chunk i."""
    w = W.partitionBy("track").orderBy(F.col("vec_id"))
    capped = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= CHUNK_CAP)
    )
    # No cast to array<double> here: the chunk matrix is the similarity
    # pipeline's heaviest payload, and float->double widening is EXACT, so
    # the scorers' chunk_matrix produces bit-identical float64 matrices
    # from the float32 columns while the gather shuffle, the pair rows and
    # the Arrow transfer all ship HALF the bytes (the _with_unit_norm
    # idiom, operators/vectors.py). An already-double input stays double —
    # same values either way.
    by_track = capped.groupBy(F.col("track").alias("track"))
    if weight_col is None:
        return by_track.agg(F.collect_list(F.col("vec")).alias("chunk_set"))
    ovw = F.struct(
        F.col("__rn").alias("o"), F.col("vec").alias("v"), F.col(weight_col).alias("w")
    )
    return by_track.agg(F.array_sort(F.collect_list(ovw)).alias("ovw")).select(
        "track",
        F.expr("transform(ovw, s -> s.v)").alias("chunk_set"),
        F.expr("transform(ovw, s -> s.w)").alias("chunk_weights"),
    )


def chamfer_rerank(recall: DataFrame, chunk_sets: DataFrame) -> DataFrame:
    """Score recall pairs with symmetric chamfer over chunk sets, keep the
    per-anchor top K_FINAL with dense 1-based ranks. When `chunk_sets`
    carries `chunk_weights` (gather_chunks with a weight column), both
    sides are chunk-IDF weighted — the reference's full rerank form
    (rerank.py:60-90).

    Data movement (the §8 rule: shuffles should move lightweight proxies,
    payloads once): only the NEIGHBOR-side chunk matrix is attached to
    pair rows; the anchor-side matrix meets its pairs through a cogroup
    on `anchor`, so each anchor's cap×dim matrix crosses the shuffle and
    the Arrow boundary once per ANCHOR instead of once per pair — a
    K_RECALL× cut of the anchor half of the payload. (The previous shape
    joined BOTH matrices onto every pair and round-robined the doubled
    payload to the scorer; the plan showed pair rows carrying `ca` and
    `cb` through two joins plus the fanout exchange.) Per-pair arithmetic
    is unchanged, so scores are bit-identical.
    """
    weighted = "chunk_weights" in chunk_sets.columns

    def side(key: str, c: str, w: str) -> DataFrame:
        cols = [F.col("track").alias(key), F.col("chunk_set").alias(c)]
        if weighted:
            cols.append(F.col("chunk_weights").alias(w))
        return chunk_sets.select(*cols)

    b_side = side("neighbor", "cb", "wb")
    # Only recall anchors get an anchor-side row: a cogroup key whose
    # pairs side is empty while the other side carries the nested chunk
    # matrix crashes the Python worker in the Arrow conversion, before
    # score_group runs. Recall is n_anchors × K_RECALL rows, so a
    # broadcast semi-join filters without adding an exchange. (An anchor
    # none of whose neighbors has a chunk set would still crash; recall
    # and chunk_sets built from the same chunks never produce one.)
    a_side = side("anchor", "ca", "wa").join(
        F.broadcast(recall.select("anchor")), "anchor", "left_semi"
    )
    # fanout pins the scorer's parallelism (AQE's byte-based coalescing
    # would fold the small-in-bytes pair table into too few tasks for
    # CPU-heavy work); keyed on anchor so the cogroup below reuses this
    # exchange instead of adding one.
    pairs = fanout(recall.join(b_side, "neighbor"), "anchor")

    def score_group(pairs_pdf, a_pdf):
        # a pair whose anchor has no chunk set drops (inner-join
        # semantics); a_side holds recall anchors only (see above).
        if len(pairs_pdf) == 0 or len(a_pdf) == 0:
            return pd.DataFrame({"anchor": pd.Series(dtype="int64"),
                                 "neighbor": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        # unique-track contract: chunk_sets is a per-track aggregate, so
        # each cogroup key carries exactly one anchor row — duplicates
        # would have been scored per-row by the pre-cogroup join form,
        # so fail loudly instead of silently scoring only the first.
        if len(a_pdf) != 1:
            raise ValueError(
                f"chunk_sets has {len(a_pdf)} rows for anchor "
                f"{a_pdf['anchor'].iloc[0]}; expected one per track"
            )
        A = chunk_matrix(a_pdf["ca"].iloc[0])
        wa = a_pdf["wa"].iloc[0] if weighted else None
        wbs = pairs_pdf["wb"] if weighted else [None] * len(pairs_pdf)
        out = [
            (a, n, round(chamfer_numpy(A, chunk_matrix(cb), wa, wb), 6))
            for a, n, cb, wb in zip(pairs_pdf["anchor"], pairs_pdf["neighbor"], pairs_pdf["cb"], wbs)
        ]
        return pd.DataFrame(out, columns=["anchor", "neighbor", "score"])

    scored = (
        pairs.groupBy("anchor")
        .cogroup(a_side.groupBy("anchor"))
        .applyInPandas(score_group, schema="anchor long, neighbor long, score double")
    )
    w = W.partitionBy("anchor").orderBy(F.col("score").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_FINAL)
        .select("anchor", "neighbor", "rank", "score")
    )


def two_stage_similar_tracks(chunks: DataFrame) -> DataFrame:
    """recall→rerank composition over a (track, vec_id, vec) chunk table:
    top-K_RECALL pooled recall, chamfer rerank over the first CHUNK_CAP
    chunks by vec_id, top-K_FINAL (anchor, neighbor, rank, score) per
    track. Output feeds sinks/shards.write_similar_track_shards
    unchanged."""
    # The pooled table feeds the recall stage several times: each
    # candidate tile collect and the distributed anchor input. Persist it
    # (n_tracks rows — tiny at any corpus scale) so the explode+aggregate
    # pooling subtree runs once. The count below is that persisted
    # table's materialization, not a separate probe: it fills the cache,
    # and the recall stage reuses its result as the corpus size.
    pooled = pooled_unit_mean(chunks).persist()
    n = pooled.count()
    # Self-selecting: exact tiled cosine under the tile ceiling, IVF
    # candidates beyond it (recall floor property-gated). Either arm
    # returns a materialized table, so the cache can go.
    recall = recall_candidates(pooled, n)
    pooled.unpersist()
    return chamfer_rerank(recall, gather_chunks(chunks))
