"""Three-score group similarity: raw chamfer, dup-masked style chamfer,
and KDE (RBF kernel-mean) similarity — plus chunk-IDF query weighting.

Re-derivation of the reference's group-similarity semantics
(Experimental/vector_search/precompute_similar_groups.py:195-235 and
rerank.py:169-197) on Spark:

  score_raw    symmetric chamfer (mean-of-max cosine both ways). Shared
               recordings dominate it — an album and its re-release score
               near 1.
  score_style  the same chamfer with member pairs at/above DUP_THRESH
               (pooled cosine ≥0.9985, the measured duplicate band) masked
               out of BOTH maxes; a member whose every counterpart is a
               duplicate contributes 0, which demotes pure re-releases.
  score_kde    cosine of RBF kernel mean embeddings — the closed form of
               two Gaussian KDEs' overlap integral: mean kernel over all
               cross member pairs, normalized by both groups' self-kernel
               mass so self-similarity is exactly 1. Bandwidth γ comes from
               the median heuristic over scored-pair member distances
               (kernel = e^-1 at the median), not a global sample that
               would over-smooth.

Spark shapes: member sets gather per group with the reference's uniform
linspace subsample above PAD (deterministic, keyed on an explicit member
order column); pairs form on the tiny per-group rows; all three scores
compute in one Arrow batch per pair — a single matmul feeds all three.
γ calibration is a one-scalar aggregate (median over a deterministic,
hash-capped pair sample), never a data collect.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tlmc_etl_spark.operators.vectors import chunk_matrix
from tlmc_etl_spark.tuning import fanout

# The operators' fixed configuration: one value per setting, the one
# every caller uses.
# pooled-cosine duplicate band masked out of the style score
DUP_THRESH = 0.9985
# members kept per group (uniform linspace subsample above it)
PAD = 64
# hash-ordered pair sample the γ median runs over
GAMMA_SAMPLE_PAIRS = 1024
# chunk-IDF: background sample cap, sigmoid strength
IDF_BACKGROUND_CAP = 100_000
IDF_STRENGTH = 1.0


# ---------------------------------------------------------------- numpy core


def _unit(M: np.ndarray) -> np.ndarray:
    return M / np.linalg.norm(M, axis=1, keepdims=True)


def three_scores_numpy(
    A: np.ndarray, B: np.ndarray, dup_thresh: float, gamma: float
) -> tuple[float, float, float]:
    """(raw, style, kde) for two member matrices — the reference kernel
    (precompute_similar_groups.py:195-235) without padding: member sets
    here are ragged, so the mask bookkeeping disappears.
    """
    An, Bn = _unit(np.asarray(A, dtype=np.float64)), _unit(np.asarray(B, dtype=np.float64))
    sims = An @ Bn.T

    raw = (sims.max(axis=1).mean() + sims.max(axis=0).mean()) / 2.0

    style_s = np.where(sims >= dup_thresh, -np.inf, sims)
    q_max = style_s.max(axis=1)
    d_max = style_s.max(axis=0)
    q_max = np.where(np.isneginf(q_max), 0.0, q_max)
    d_max = np.where(np.isneginf(d_max), 0.0, d_max)
    style = (q_max.mean() + d_max.mean()) / 2.0

    cross = np.exp(gamma * (sims - 1.0)).mean()
    kaa = np.exp(gamma * (An @ An.T - 1.0)).mean()
    kbb = np.exp(gamma * (Bn @ Bn.T - 1.0)).mean()
    kde = cross / np.sqrt(kaa * kbb)

    return float(raw), float(style), float(kde)


def estimate_chunk_weights_numpy(query: np.ndarray, background: np.ndarray) -> np.ndarray:
    """Chunk-IDF: down-weight generic query chunks (rerank.py:169-197).

    A chunk's mean cosine against a random background sample estimates how
    generic it is (silence/fades/drum loops sit near the centre of the
    space and match everything); weight = sigmoid of the negative z-score
    of that generic-ness WITHIN the query's own chunks, in (0, 1]. A
    degenerate spread (<1e-6) returns uniform weights.
    """
    Q = np.asarray(query, dtype=np.float64)
    if Q.ndim == 1:
        Q = Q[None, :]
    generic = (Q @ np.asarray(background, dtype=np.float64).T).mean(axis=1)
    spread = generic.std()
    if spread < 1e-6:
        return np.ones(Q.shape[0])
    z = (generic - generic.mean()) / spread
    return 1.0 / (1.0 + np.exp(IDF_STRENGTH * z))


# ------------------------------------------------------------- spark plans


def gather_group_members(
    members: DataFrame, group_col: str, vec_col: str, order_col: str
) -> DataFrame:
    """(group, member matrix) with the reference's uniform subsample
    policy above PAD (build_groups, precompute_similar_groups.py:120-146):
    members order by `order_col`, groups larger than PAD keep the rows at
    round(linspace(0, n-1, PAD)) — deterministic, layout-independent.

    The pick-set membership test runs JVM-side (a pad-length array per
    row, built only for over-cap groups), so the gathered matrix is
    bounded at PAD rows per group no matter the group size.
    """
    pad = PAD
    w = W.partitionBy(group_col).orderBy(order_col)
    cnt_w = W.partitionBy(group_col)
    picks = F.transform(
        F.sequence(F.lit(0), F.lit(pad - 1)),
        lambda i: F.round(
            i.cast("double") * (F.col("__cnt") - 1) / F.lit(max(pad - 1, 1))
        ).cast("int"),
    )
    capped = (
        members.withColumn("__rn", F.row_number().over(w) - 1)
        .withColumn("__cnt", F.count(F.lit(1)).over(cnt_w))
        .filter((F.col("__cnt") <= pad) | F.array_contains(picks, F.col("__rn")))
    )
    # Vectors keep their source width through the gather shuffle and the
    # all-pairs join (float32 inputs ship half the bytes); the consumers
    # pin np.float64 at the numpy boundary, and float->double widening is
    # exact, so scores are bit-identical either way.
    return (
        capped.groupBy(F.col(group_col).alias("group"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__rn").alias("o"), F.col(vec_col).alias("v")))
            ).alias("ov")
        )
        .select("group", F.expr("transform(ov, s -> s.v)").alias("vecs"))
    )


def calibrate_pair_gamma(pairs: DataFrame) -> float:
    """Median-heuristic γ = 1 / median cross-pair member cosine distance
    (calibrate_gamma, precompute_similar_groups.py:156-178), measured over
    the pairs the kernel has to discriminate. The pair sample is a
    deterministic hash-ordered take; the median is an exact distributed
    aggregate; only the single scalar reaches the driver.

    The population must fit inside the sample (pairs.count() <=
    GAMMA_SAMPLE_PAIRS). The oracle replays γ as the median over ALL
    pairs, so it is only pinned to this operator while the non-portable
    xxhash64 sample order never actually selects — the guard turns that
    silent divergence (label cardinality outgrowing the sample) into a
    loud error at the operator."""
    n_pairs = pairs.count()
    if n_pairs > GAMMA_SAMPLE_PAIRS:
        raise ValueError(
            f"calibrate_pair_gamma: {n_pairs} pairs exceed the "
            f"{GAMMA_SAMPLE_PAIRS}-pair sample — the exhaustive-median oracle "
            "contract no longer holds (the xxhash64 sample order would "
            "now select, which DuckDB cannot replay)"
        )
    sampled = pairs.orderBy(F.xxhash64("group_a", "group_b")).limit(GAMMA_SAMPLE_PAIRS)

    def dists(batches):
        # zip over columns, not iterrows (per-row Series construction cost)
        for pdf in batches:
            out = [
                pd.DataFrame({
                    "d": (1.0 - _unit(chunk_matrix(va)) @ _unit(chunk_matrix(vb)).T).ravel()
                })
                for va, vb in zip(pdf["vecs_a"], pdf["vecs_b"])
            ]
            yield pd.concat(out) if out else pd.DataFrame({"d": []})

    med_row = (
        sampled.mapInPandas(dists, schema="d double").agg(F.median("d").alias("m")).first()
    )
    med = float(med_row["m"]) if med_row["m"] is not None else 1.0
    return 1.0 / max(med, 1e-4)


def three_score_group_similarity(
    members: DataFrame, group_col: str, vec_col: str, order_col: str
) -> DataFrame:
    """All-pairs (a<b) three-score similarity between member-vector groups.

    Output: (group_a, group_b, score_raw, score_style, score_kde,
    kde_gamma). Symmetric by construction (every formula is); raw and kde
    self-scores are exactly 1 (verified by the differential suite, the
    reference's own exit-on-violation invariants,
    precompute_similar_groups.py:238-256). The kernel bandwidth γ is
    calibrated from the scored pairs via the median heuristic.
    """
    # persist the gathered matrices: both join sides read this table, and
    # unpersisted the whole gather subtree (member scan + window exchange
    # + padded collect) compiled into the plan TWICE (the r15 plan audit
    # showed two independent hashpartitioning(label) exchanges carrying
    # raw embeddings — ReuseExchange does not reliably dedupe the copies
    # under AQE, the same failure mode as the CC symmetrization fix).
    # Bounded by the K-groups × pad × dim contract; LRU-evictable.
    # Cache ownership: this plan builder cannot unpersist (the returned
    # DataFrame is lazy; the blocks must outlive the caller's action) —
    # the session owns the blocks. bench.py's clearCache() between
    # queries releases them; long-lived sessions rely on LRU eviction,
    # or call spark.catalog.clearCache() at pipeline boundaries.
    gathered = gather_group_members(members, group_col, vec_col, order_col).persist()
    a = gathered.select(F.col("group").alias("group_a"), F.col("vecs").alias("vecs_a"))
    b = gathered.select(F.col("group").alias("group_b"), F.col("vecs").alias("vecs_b"))
    # persist, not checkpoint: pairs feeds gamma calibration AND the
    # returned scorer — the calibration's own action materializes the
    # cache in the same job (a checkpoint would run the gather+join as an
    # extra job first); blocks are LRU-evictable. fanout so the cached
    # layout keeps full width for the Python scorer that consumes it.
    pairs = fanout(a.join(b, F.col("group_a") < F.col("group_b"))).persist()

    g = float(calibrate_pair_gamma(pairs))

    def score(batches):
        # zip over columns, not iterrows (per-row Series construction cost)
        for pdf in batches:
            out = [
                (ga, gb, *three_scores_numpy(chunk_matrix(va), chunk_matrix(vb), DUP_THRESH, g))
                for ga, gb, va, vb in zip(
                    pdf["group_a"], pdf["group_b"], pdf["vecs_a"], pdf["vecs_b"]
                )
            ]
            yield pd.DataFrame(
                out, columns=["group_a", "group_b", "score_raw", "score_style", "score_kde"]
            )

    # The persisted pairs table already carries the fanout'd full-width
    # layout (above) — re-fanning here would re-shuffle the cached table
    # on every scorer evaluation for nothing. Rounding happens JVM-side
    # AFTER the scorer: the scores are oracle-compared, and Python/numpy
    # round is half-even where F.round and DuckDB round are HALF_UP — a
    # .5-boundary 6th decimal must round the same way in both engines.
    scored = pairs.mapInPandas(
        score,
        schema="group_a int, group_b int, score_raw double, score_style double, score_kde double",
    )
    return scored.select(
        "group_a",
        "group_b",
        F.round("score_raw", 6).alias("score_raw"),
        F.round("score_style", 6).alias("score_style"),
        F.round("score_kde", 6).alias("score_kde"),
        F.round(F.lit(g), 4).alias("kde_gamma"),
    )


def chunk_idf_weights(
    chunks: DataFrame,
    id_col: str,
    group_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-chunk IDF-style weight in (0, 1] (rerank.py:169-197).

    Background = a bounded deterministic sample of corpus chunk vectors
    (hash-ordered take, ≤IDF_BACKGROUND_CAP rows — the reference says "100k
    rows is plenty"). Generic-ness is the mean cosine vs the background,
    and mean-of-dots EQUALS the dot with the background's MEAN unit
    vector (the identity the SQL oracle replays) — so the sample
    collapses IN THE CLUSTER (posexplode + per-component avg) to ONE
    d-vector that rides the task closure, and
    per-chunk work is O(d) instead of an n×cap matmul (which measured
    QUADRATIC below the cap: at 32k corpus the old form did 32k×32k×d
    flops for what one 32k×d pass computes). The z-score normalizes
    WITHIN each group's chunks via a window, and the sigmoid stays in
    whole-stage codegen. Output: (id, group, weight).
    """
    # Background mean computed DISTRIBUTED: unit-normalize in JVM
    # expressions, component-wise avg, and collect ONE d-vector — the
    # round-15 form collected the whole ≤cap sample to the driver
    # (~800 MB at reference dims/cap) to compute what is just its mean
    # (guide §5: the driver should do almost no data work). groupBy(idx)
    # has only d distinct keys, so map-side partial aggregation shrinks
    # the shuffle to d rows per task. Equivalence: the final weight is
    # rounded to 6dp after a sigmoid, so summation-order float noise
    # (numpy pairwise vs Spark partial-agg order) is far below the
    # comparison tolerance — the DuckDB oracle already sums in a third
    # order and hash-matches.
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = F.transform(v, lambda x: x / nrm)
    sample = (
        chunks.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)))
        .limit(IDF_BACKGROUND_CAP)
    )
    bg_mean_rows = (
        # the sorted limit lands on ONE partition — without re-spreading,
        # the cap×d explode+agg below would run serially (measured at
        # sf1: 0.64 s -> 2.37 s for the whole weight table). fanout
        # round-robins the ≤cap sample rows (bounded bytes) back across
        # the session's partitions so the per-component partial
        # aggregation parallelizes; the final shuffle is d×parts rows.
        fanout(sample)
        .select(F.posexplode(unit).alias("idx", "val"))
        .groupBy("idx")
        .agg(F.avg("val").alias("m"))
        .collect()
    )
    bg_mean = np.zeros(len(bg_mean_rows), dtype=np.float64)
    for r in bg_mean_rows:
        bg_mean[r["idx"]] = r["m"]

    def generic_of(batches):
        for pdf in batches:
            Q = _unit(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            out = pdf[[id_col, group_col]].copy()
            out["generic"] = Q @ bg_mean
            yield out

    # Materialized eagerly (one double per chunk): the scores feed both
    # sides of the weighted rerank, and a single deterministic
    # evaluation keeps the weight table identical everywhere it joins.
    scored = (
        chunks.select(id_col, group_col, vec_col)
        .mapInPandas(generic_of, schema=f"{id_col} long, {group_col} long, generic double")
        .localCheckpoint(eager=True)
    )
    gw = W.partitionBy(group_col)
    mu = F.mean("generic").over(gw)
    sd = F.stddev_pop("generic").over(gw)
    z = (F.col("generic") - mu) / sd
    weight = F.when(sd < 1e-6, F.lit(1.0)).otherwise(
        F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(IDF_STRENGTH) * z))
    )
    return scored.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("group"),
        F.round(weight, 6).alias("weight"),
    )
