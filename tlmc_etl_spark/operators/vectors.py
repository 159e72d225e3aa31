"""Vector ext operators: chamfer (late-interaction) group scoring and
random-hyperplane LSH approximate top-k.

These are the engine's counterparts of the reference's GPU similarity
stages; here they are Arrow-batched pandas UDFs (the container has no GPU),
with the same numerics so the differential gates from the reference apply
(max-abs-error / symmetry / top-k-overlap, precompute_similar_tracks.py:
158-193).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tlmc_etl_spark.tuning import fanout

# The operators' fixed configuration: one value per setting, the one
# every caller uses.
SEED = 42
# neighbors per anchor, and the portable IVF's cells / cells probed
ANN_K = 10
IVF_N_CENTROIDS = 16
IVF_N_PROBE = 4
# k-means quantizer: Lloyd iterations, training sample cap
KMEANS_ITERS = 8
TRAIN_CAP = 100_000
# candidate pairs kept per group by the centroid recall stage
CENTROID_TOPK = 16
# sign-LSH top-k key width
LSH_TOPK_PLANES = 4
# auto-sized sign-LSH: expected bucket occupancy, worst-pair recall
LSH_TARGET_BUCKET = 8
LSH_RECALL_TARGET = 0.95
# cluster-scoped dedup: cosine threshold, expected cell occupancy
SEMDEDUP_THRESHOLD = 0.9
SEMDEDUP_TARGET_CELL = 128
# per-group cosine top-k tile bounds (anchor rows × candidate rows)
A_TILE = 2048
B_TILE = 16384


def chunk_matrix(cells) -> np.ndarray:
    """Stack an Arrow list-of-vectors cell into a float64 row matrix.
    float->double widening is exact, so float32 payloads score
    bit-identically to double ones."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in cells])


def chamfer_numpy(
    A: np.ndarray, B: np.ndarray, wa: np.ndarray | None = None, wb: np.ndarray | None = None
) -> float:
    """Symmetric chamfer (mean-of-max cosine) between two chunk sets.

    Reference formula: mean over A-chunks of max cosine against B, averaged
    with the transpose direction (rerank.py:47-116). Inputs are row-wise
    vectors; normalization is applied here so callers can pass raw chunks.
    Optional chunk-IDF weights `wa`/`wb` turn a side's mean into a
    weighted mean (rerank.py:60-90); an unweighted side stays a plain
    `.mean()`, and all-ones weights give the plain score bit for bit.
    """
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
    sim = An @ Bn.T
    return float((_side_mean(sim.max(axis=1), wa) + _side_mean(sim.max(axis=0), wb)) / 2.0)


def _side_mean(best: np.ndarray, w: np.ndarray | None) -> float:
    if w is None:
        return best.mean()
    w = np.asarray(w, dtype=np.float64)
    return (best * w).sum() / w.sum()


def centroid_topk_pairs(emb: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """Recall stage for group-level scoring: candidate (group_a < group_b)
    pairs whose CENTROID cosine ranks top-CENTROID_TOPK from either side.

    This is the pruning contract the expensive pair scorers require at
    scale (precompute_similar_groups.py:195-235 reranks candidates, never
    all pairs): centroids collapse each group to one row, the pair cosine
    is an equi-join on vector position over that tiny rollup, and each
    group keeps its CENTROID_TOPK best neighbors — so downstream pair
    work is n_groups·k, not n_groups². No gathered matrices, no cross
    join.
    """
    expanded = emb.select(
        F.col(group_col).alias("g"), F.posexplode(vec_col).alias("pos", "x")
    ).select("g", "pos", F.col("x").cast("double").alias("x"))
    cent = expanded.groupBy("g", "pos").agg(F.avg("x").alias("m"))
    a = cent.select(F.col("g").alias("ga"), "pos", F.col("m").alias("ma"))
    b = cent.select(F.col("g").alias("gb"), F.col("pos").alias("pos_b"), F.col("m").alias("mb"))
    cos = (
        a.join(F.broadcast(b), (F.col("pos") == F.col("pos_b")) & (F.col("ga") != F.col("gb")))
        .groupBy("ga", "gb")
        .agg(
            (
                F.sum(F.col("ma") * F.col("mb"))
                / (
                    F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                    * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
                )
            ).alias("c")
        )
    )
    w = W.partitionBy("ga").orderBy(F.col("c").desc(), F.col("gb").asc())
    kept = cos.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= CENTROID_TOPK
    )
    return (
        kept.select(
            F.least("ga", "gb").alias("group_a"), F.greatest("ga", "gb").alias("group_b")
        )
        .distinct()
    )


def chamfer_group_scores(
    emb: DataFrame, group_col: str, vec_col: str, candidates: DataFrame
) -> DataFrame:
    """Symmetric chamfer between groups of vectors, over a candidate pair
    list.

    Plan shape: groups are first gathered to (group, matrix) rows via
    collect_list — acceptable because each group's chunk set is bounded
    (the reference caps/pads at 96 chunks per track,
    precompute_similar_tracks.py:84-92; the cap is the scale contract).
    `candidates` (group_a, group_b) selects which pairs are scored — a
    recall stage's output (centroid_topk_pairs), so pair work is
    n_groups·k; the matrices attach by two equi-joins, never a cross
    join.
    """
    gathered = emb.groupBy(group_col).agg(F.collect_list(vec_col).alias("vecs"))
    a = gathered.select(F.col(group_col).alias("group_a"), F.col("vecs").alias("vecs_a"))
    b = gathered.select(F.col(group_col).alias("group_b"), F.col("vecs").alias("vecs_b"))
    pairs = candidates.join(a, "group_a").join(b, "group_b")

    def score(batches):
        # zip over columns, not iterrows: iterrows materializes a Series
        # per row; the per-row work is already one bounded matmul
        for pdf in batches:
            out = [
                (ga, gb, round(chamfer_numpy(chunk_matrix(va), chunk_matrix(vb)), 6))
                for ga, gb, va, vb in zip(
                    pdf["group_a"], pdf["group_b"], pdf["vecs_a"], pdf["vecs_b"]
                )
            ]
            yield pd.DataFrame(out, columns=["group_a", "group_b", "chamfer"])

    # Per-pair cap²·dim matmuls in Python over byte-tiny rows: AQE-exempt
    # fan-out so the scorer keeps every core.
    return fanout(pairs).mapInPandas(
        score, schema="group_a int, group_b int, chamfer double"
    )


def make_hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH (seeded, so every
    executor and every run derives identical buckets)."""
    rng = np.random.default_rng(SEED)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_ids(emb: DataFrame, vec_col: str, planes: np.ndarray) -> DataFrame:
    """Append a `bucket` column = sign-bit key under the hyperplanes.

    Computed in an Arrow batch with one matmul; the planes matrix rides the
    task closure (tiny). Equivalent to BucketedRandomProjectionLSH's single
    hash table but with a deterministic seed and an explicit key column the
    rest of the plan can shuffle on.
    """
    cols = emb.columns

    def bucketize(batches):
        for pdf in batches:
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (M @ planes.T) > 0
            keys = np.zeros(len(pdf), dtype=np.int64)
            for i in range(planes.shape[0]):
                keys |= bits[:, i].astype(np.int64) << i
            pdf = pdf.copy()
            pdf["bucket"] = keys
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in emb.schema.fields)
    return emb.mapInPandas(bucketize, schema=f"{schema}, bucket long")


# Corpus ceiling for the fixed-plane LSH top-k form: with b planes and
# radius-1 probing, candidates are n·(1+b)·(n/2^b) — QUADRATIC in n for
# fixed b, and raising b to hold bucket occupancy collapses radius-1
# recall (catch prob p^b + b(1-p)p^(b-1) with p = 1 - arccos(c)/π). Past
# this ceiling the operator auto-routes to the IVF quantizer — the same
# takeover pattern pipelines/similarity.recall_candidates uses past
# EXACT_TILE_CEILING, and the shape the reference itself serves at scale
# (faiss IVF, faiss_index_builder.py:10-23). Found by the round-15 sf10
# scaling point: 8k vectors measured 71 s through the fixed-plane form
# (pre-cogroup-scorer; the scorer rewrite cut the constant ~17x but the
# Σ bucket² candidate count is still quadratic in n at fixed planes —
# the ceiling is about the asymptote, not that constant).
LSH_TOPK_CORPUS_CEILING = 4096


def lsh_topk(emb: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """Approximate cosine top-ANN_K over the `n`-row corpus `emb` (the caller
    supplies the size, e.g. a parquet footer count; the operator never
    counts): candidates restricted to the same LSH
    bucket (plus one-bit-flip probe buckets), then exact cosine + a
    per-anchor window rank.

    The bucket equi-join replaces the |n|² cross join with Σ bucket²;
    multi-probe explodes each anchor into 1+LSH_TOPK_PLANES probe keys —
    a union of equi-joins, never a cross join, so cost stays
    Σ bucket² × (1+p).
    Recall against exact brute force is property-tested
    (tests/test_ext_operators.py); only the candidate set is approximate —
    scores of returned pairs are exact cosine.

    Above LSH_TOPK_CORPUS_CEILING rows the fixed-plane form is the wrong
    tool (see there) and the call routes to ivf_topk with an
    occupancy-sized quantizer (cells ≈ n/256, so candidate work stays
    ~n·probe·256) — same output contract (anchor, neighbor, score, rank;
    exact cosine scores, approximate candidate set), IVF recall gates in
    tests/test_pq.py and the takeover-regime gate in
    tests/test_ext_operators.py.

    ORACLE REGIME NOTE: the declared output is an approximate candidate
    set. The SQL replay oracle (plans/ext.py `_lsh_ann_oracle`) encodes
    the fixed-plane LSH candidate rule, i.e. the sub-ceiling regime
    only; above the ceiling the candidate set is the IVF quantizer's
    (recall property-gated, not SQL-replayed). The driver's oracle sfs
    all sit below the ceiling, so the SQL check pins the regime it
    replays.
    """
    if n > LSH_TOPK_CORPUS_CEILING:
        n_centroids = min(max(16, n // 256), SEMDEDUP_CENTROID_CEILING)
        return ivf_topk(emb, id_col, vec_col, k=ANN_K, n_centroids=n_centroids, n_probe=4)
    planes = make_hyperplanes(_dim_of(emb, vec_col), LSH_TOPK_PLANES)
    bucketed = _with_unit_norm(
        lsh_bucket_ids(emb.select(id_col, vec_col), vec_col, planes), vec_col
    )
    flips = F.array(*([F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(LSH_TOPK_PLANES)
    ]))
    a = bucketed.select(
        F.col(id_col).alias("anchor"), F.col(vec_col).alias("va"), F.col("nrm").alias("na"), "bucket"
    ).select("anchor", "va", "na", F.explode(flips).alias("bucket"))
    b = bucketed.select(F.col(id_col).alias("neighbor"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb"), "bucket")
    # No pair dedup needed: each neighbor lives in exactly ONE bucket and
    # the probe keys per anchor are distinct values, so a pair can match at
    # most once. Scoring is a cogrouped per-bucket matmul — each vector
    # crosses the Arrow boundary once per side, never once per pair.
    return _grouped_cosine_topk(a, b, "bucket", ANN_K)


def table_catch_probability(n_planes: int, cos_threshold: float) -> float:
    """P(one sign-LSH table with radius-1 probing catches a pair at
    exactly `cos_threshold` cosine) — the worst pair the operator
    promises to emit. Per-plane agreement for sign-LSH is
    p = 1 - arccos(cos)/pi (Charikar 2002, public); radius-1 probing
    tolerates at most one disagreeing plane, so
    P = p^b + b*(1-p)*p^(b-1)."""
    import math as _math

    p = 1.0 - _math.acos(min(max(cos_threshold, -1.0), 1.0)) / _math.pi
    return p**n_planes + n_planes * (1.0 - p) * p ** (n_planes - 1)


def auto_n_tables(n_planes: int, cos_threshold: float) -> int:
    """OR-amplification depth L holding worst-pair recall at
    LSH_RECALL_TARGET for a given key width: miss = (1 - P_table)^L <=
    1 - LSH_RECALL_TARGET. Auto-sized key widths grow with log2(n) to keep
    bucket occupancy constant, which decays P_table — so L must grow
    with the corpus too (the classic n^rho LSH cost), else recall decays
    silently (~40% worst-pair at n~1e9 under a pinned L=6)."""
    import math as _math

    P = table_catch_probability(n_planes, cos_threshold)
    if P >= 1.0:
        return 1
    if P <= 1e-12:
        raise ValueError(
            f"sign-LSH cannot hold recall {LSH_RECALL_TARGET} at "
            f"{n_planes} planes / cos {cos_threshold}: per-table catch "
            "probability is ~0 — raise LSH_TARGET_BUCKET or the threshold"
        )
    return max(1, _math.ceil(_math.log(1.0 - LSH_RECALL_TARGET) / _math.log(1.0 - P)))


def lsh_near_dup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int | None,
    n_tables: int | None,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: multi-table sign-LSH
    candidate generation → exact cosine scoring → threshold filter.

    The production form of the near-dup primitive. A single 4-plane table
    with radius-1 probing catches a threshold-boundary pair (cos=0.35,
    per-plane agreement p≈0.614) with probability ≈0.50 — not enough. OR-
    amplification over `n_tables` independent tables drives the worst-pair
    miss rate to (1-0.50)^L ≈ 1.6% at L=6, so recall vs the exact all-pairs
    form is property-gated ≥0.95 (tests/test_ext_operators.py). Scores of
    emitted pairs are exact cosine — only the candidate set is approximate.
    The exact all-pairs query (plans/vectors.embedding_near_dup) is the
    small-sf differential oracle.

    Plan shape — never a cross join, never a driver collect:
     - one Arrow matmul computes all L keys per vector (array<bigint>);
     - probe side explodes to L×(1+planes) (table, key) rows, candidate
       side to L (table, key) rows; candidates meet via an equi-join on
       (table, key). Only (id, keys) ride the explosion — vectors join
       back AFTER pair dedup, so the 30× blowup ships ~60 bytes/row, not
       the embedding payload;
     - cross-table dedup costs NO extra shuffle: both key arrays ride the
       join, and a pair is emitted only from the FIRST table where their
       keys are within Hamming distance 1 (the radius-1 ball is symmetric
       under XOR, each vector has one key per table, and an anchor's probe
       keys within a table are distinct — so "first matching table" is
       well-defined and unique per pair).

    Threshold regime note: at loose thresholds (≲0.5 cosine — barely above
    the random-pair band for 64-dim data) no LSH family separates well and
    the candidate set approaches all pairs; the exact blocked form is then
    cheaper at small n. The operator's asymptotic win is at genuine
    near-dup thresholds (≥0.8), where finer buckets (n_planes 8+) make the
    candidate fraction tiny while OR-amplification holds recall.

    `n_planes=None` auto-sizes the key width to the corpus:
    ceil(log2(n / LSH_TARGET_BUCKET)) planes keeps EXPECTED bucket
    occupancy ≈ LSH_TARGET_BUCKET regardless of n, so in-bucket candidate pairs — the
    join's cost — stay ~linear in corpus size instead of quadratic
    (fixed planes ⇒ buckets fill ∝ n ⇒ pairs ∝ n²; the round-5 sf1 run
    measured 16× wall for 4× rows at pinned 8 planes).

    `n_tables=None` then auto-sizes the OR-amplification depth to HOLD
    LSH_RECALL_TARGET for the worst promised pair (cosine == threshold) at
    that key width: each extra plane costs one bit of per-table recall,
    so a PINNED table count decays with the corpus (L=6 holds ≥98.7%
    worst-pair recall at 11 planes but only ~40% at the 27 planes a
    n≈1e9 corpus auto-sizes to). auto_n_tables() inverts the closed
    form miss = (1 - P_table)^L — at 1e9 rows / threshold 0.9 that is
    L=34, the standard n^ρ LSH cost paid openly instead of a silent
    recall cliff. The one extra count() job is O(ids).
    """
    dim = _dim_of(emb, vec_col)
    if n_planes is None:
        import math as _math

        n = emb.count()
        n_planes = max(8, _math.ceil(_math.log2(max(n, 1) / LSH_TARGET_BUCKET)))
    if n_tables is None:
        n_tables = auto_n_tables(n_planes, threshold)
    all_planes = make_hyperplanes(dim, n_planes * n_tables)

    def keys_of(batches):
        for pdf in batches:
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (M @ all_planes.T) > 0  # (n, L*b)
            keys = np.zeros((len(pdf), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for i in range(n_planes):
                    keys[:, t] |= bits[:, t * n_planes + i].astype(np.int64) << i
            out = pdf[[id_col, vec_col]].copy()
            out["keys"] = [k.tolist() for k in keys]
            yield out

    vt = emb.schema[vec_col].dataType.simpleString()
    # Round-robin repartition before the candidate expansion: a small
    # parquet input is one scan partition, and a broadcast join would
    # otherwise run the whole probe explosion + join in that ONE task.
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    keyed = _with_unit_norm(
        emb.select(id_col, vec_col).repartition(n_part).mapInPandas(
            keys_of, schema=f"{id_col} long, {vec_col} {vt}, keys array<bigint>"
        ),
        vec_col,
    )

    # probe side: (table, probe_key) for every table × (own + 1-bit flips)
    probe_entries = F.flatten(
        F.transform(
            F.col("keys"),
            lambda key, t: F.transform(
                F.array(*([F.lit(0)] + [F.lit(1 << i) for i in range(n_planes)])),
                lambda flip: F.struct(t.alias("t"), key.bitwiseXOR(flip).alias("key")),
            ),
        )
    )
    # localCheckpoint rather than persist: keyed feeds four scans of the
    # returned lazy plan, and checkpoint blocks are GC-freed with the
    # result instead of pinning the cache for the session's lifetime.
    keyed = keyed.localCheckpoint(eager=True)
    a = keyed.select(
        F.col(id_col).alias("anchor"),
        F.col("keys").alias("keys_a"),
        F.explode(probe_entries).alias("tk"),
    ).select("anchor", "keys_a", F.col("tk.t").alias("t"), F.col("tk.key").alias("key"))
    own_entries = F.transform(
        F.col("keys"), lambda key, t: F.struct(t.alias("t"), key.alias("key"))
    )
    b = keyed.select(
        F.col(id_col).alias("neighbor"),
        F.col("keys").alias("keys_b"),
        F.explode(own_entries).alias("tk"),
    ).select("neighbor", "keys_b", F.col("tk.t").alias("t"), F.col("tk.key").alias("key"))

    # first-matching-table filter: no earlier table already paired these two
    earlier_match = F.exists(
        F.zip_with(
            F.slice(F.col("keys_a"), F.lit(1), F.col("t")),
            F.slice(F.col("keys_b"), F.lit(1), F.col("t")),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)) <= F.lit(1),
        ),
        lambda m: m,
    )
    id_pairs = (
        a.join(b, ["t", "key"])
        .filter(F.col("anchor") < F.col("neighbor"))
        .filter(~earlier_match)
        .select("anchor", "neighbor")
    )

    va = keyed.select(
        F.col(id_col).alias("anchor"), F.col(vec_col).alias("va"), F.col("nrm").alias("na")
    )
    vb = keyed.select(
        F.col(id_col).alias("neighbor"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = id_pairs.join(va, "anchor").join(vb, "neighbor")

    def score(batches):
        for pdf in batches:
            A = np.array(pdf["va"].tolist(), dtype=np.float64)
            B = np.array(pdf["vb"].tolist(), dtype=np.float64)
            cos = (A * B).sum(axis=1) / (pdf["na"].to_numpy() * pdf["nb"].to_numpy())
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "keep_id": pdf["anchor"].to_numpy()[keep],
                    "dup_id": pdf["neighbor"].to_numpy()[keep],
                    "score": np.round(cos[keep], 6),
                }
            )

    return pairs.select("anchor", "va", "na", "neighbor", "vb", "nb").mapInPandas(
        score, schema="keep_id long, dup_id long, score double"
    )


def _ivf_serve(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    centroids: "np.ndarray",
    n_probe: int,
    round_assign: bool,
) -> DataFrame:
    """Shared IVF serving plan: broadcast-matmul cell assignment, probe
    explode, cell equi-join, exact cosine top-k. Both quantizer forms
    (k-means ivf_topk, hash-medoid ivf_topk_portable) feed this — a fix
    to the serving path lands once. `round_assign` selects the
    cross-engine-deterministic ranking (round(cos, 6) + stable index
    tie-break, SQL-replayable) vs the production raw-sims argmax."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def assign_cells(batches):
        cent = bc.value
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = Vn @ cent.T
            pdf = pdf[[id_col, vec_col]].copy()
            if round_assign:
                # round BEFORE ranking: the rank must depend only on the
                # 6dp value both engines agree on, tie-broken by index
                order = np.argsort(-np.round(sims, 6), axis=1, kind="stable")
                pdf["cell"] = order[:, 0]
                pdf["probe_cells"] = [p.tolist() for p in order[:, :n_probe]]
            else:
                pdf["cell"] = np.argmax(sims, axis=1)
                probes = np.argsort(-sims, axis=1)[:, :n_probe]
                pdf["probe_cells"] = [p.tolist() for p in probes]
            yield pdf

    assigned = _with_unit_norm(
        emb.select(id_col, vec_col).mapInPandas(
            assign_cells,
            # element type follows the input (float embeddings stay
            # float; double pooled vectors from the similarity pipeline
            # must not silently narrow)
            schema=(
                f"{id_col} long, "
                f"{vec_col} {emb.schema[vec_col].dataType.simpleString()}, "
                "cell int, probe_cells array<int>"
            ),
        ),
        vec_col,
    )
    cands = assigned.select(
        F.col(id_col).alias("neighbor"),
        F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"),
        "cell",
    )
    anchors = assigned.select(
        F.col(id_col).alias("anchor"),
        F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"),
        F.explode("probe_cells").alias("cell"),
    )
    # No pair dedup needed: each neighbor lives in exactly ONE cell and an
    # anchor's probe cells are distinct, so a pair can match at most once.
    # Scoring is a cogrouped per-cell matmul — each vector crosses the
    # Arrow boundary once per side, never once per candidate pair.
    return _grouped_cosine_topk(anchors, cands, "cell", k)


def ivf_topk_portable(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """IVF top-ANN_K with a DETERMINISTIC coarse quantizer DuckDB can
    replay: centroids are the IVF_N_CENTROIDS corpus vectors with the
    smallest portable 60-bit hash of their id (hash-sampled medoids —
    zero k-means iterations), unit-normalized, indexed in hash order.
    Cell assignment ranks round(cosine, 6) with centroid-index
    tie-break, so every step is value-checkable by SQL replay — the
    xengine pattern applied to the quantizer. Serving is _ivf_serve,
    the same plan ivf_topk runs; only quantizer training differs."""
    C = hash_medoid_centroids(emb, id_col, vec_col, IVF_N_CENTROIDS)
    return _ivf_serve(emb, id_col, vec_col, ANN_K, C, IVF_N_PROBE, round_assign=True)


def _dim_of(emb: DataFrame, vec_col: str) -> int:
    first = emb.select(F.size(vec_col).alias("d")).first()
    return int(first["d"])


def _with_unit_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """Append `nrm` (L2 norm, double), computed once per ROW before
    candidate expansion — norms never recompute per candidate, and the
    vector stays float32 so candidate rows ship half the Arrow bytes."""
    vd = F.col(vec_col).cast("array<double>")
    return df.withColumn(
        "nrm", F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global per-anchor rank over (anchor, neighbor, score) rows —
    score desc, neighbor asc: the one deterministic total order every
    ANN form (and its SQL oracle) ranks by."""
    w = W.partitionBy("anchor").orderBy(F.col("score").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor", "neighbor", "score", "rank")
    )


def _topk_with_ties(scores: np.ndarray, ids: np.ndarray, k: int):
    """Per-row top-k by score KEEPING boundary ties (every column whose
    score equals the k-th largest survives) — the invariant that makes a
    per-group partial top-k exact: the global rank's tie-break (neighbor
    asc) is applied later by `_rank_topk`, so a partial cut may only
    drop columns strictly below the k-th score. Returns matrices padded
    with -inf (dropped at emit)."""
    rows, w = scores.shape
    if w <= k:
        return scores, ids
    kth = -np.partition(-scores, k - 1, axis=1)[:, k - 1]
    keep = scores >= kth[:, None]
    masked = np.where(keep, scores, -np.inf)
    width = int(keep.sum(axis=1).max())
    order = np.argsort(-masked, axis=1, kind="stable")[:, :width]
    rix = np.arange(rows)[:, None]
    return masked[rix, order], ids[rix, order]


def _grouped_cosine_topk(anchors: DataFrame, cands: DataFrame, key: str, k: int) -> DataFrame:
    """Per-group exact-cosine top-k via ONE cogrouped Arrow matmul per
    group (LSH bucket / IVF cell), replacing the per-pair row explosion.

    The naive plan joins anchors×candidates into pair rows each carrying
    BOTH full vectors — at 8k vectors / 4 probes that is ~8M Arrow rows
    × ~1 KB of duplicated vector payload (~9 GB serialized to Python)
    just to compute a dot product per row. Here each vector crosses the
    Arrow boundary once per side per group: anchors ship n×probe rows,
    candidates n rows, the group's scores come from a tiled numpy
    matmul, and only per-anchor partial top-k (ties kept, so the global
    `_rank_topk` result is IDENTICAL to full enumeration) leaves Python
    — n×probe×~k skinny rows into the final window instead of the full
    candidate blowup.

    Scores round to 6dp BEFORE the partial cut, matching the ranking
    contract of every SQL-replayed ANN oracle. Tiles bound the sims
    matrix at A_TILE×B_TILE doubles regardless of group skew.

    anchors: (anchor, va, na, `key`) — one row per anchor×probe;
    cands:   (neighbor, vb, nb, `key`) — one row per vector."""

    def cell_topk(adf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"anchor": pd.Series([], dtype="int64"),
                              "neighbor": pd.Series([], dtype="int64"),
                              "score": pd.Series([], dtype="float64")})
        if len(adf) == 0 or len(bdf) == 0:
            return empty
        aid = adf["anchor"].to_numpy(dtype=np.int64)
        A = np.asarray(adf["va"].tolist(), dtype=np.float64)
        na = adf["na"].to_numpy(dtype=np.float64)
        bid = bdf["neighbor"].to_numpy(dtype=np.int64)
        B = np.asarray(bdf["vb"].tolist(), dtype=np.float64)
        nb = bdf["nb"].to_numpy(dtype=np.float64)
        out_a, out_n, out_s = [], [], []
        for i0 in range(0, len(A), A_TILE):
            At, at_ids = A[i0:i0 + A_TILE], aid[i0:i0 + A_TILE]
            nat = na[i0:i0 + A_TILE]
            run_s = run_i = None
            for j0 in range(0, len(B), B_TILE):
                Bt, bt_ids = B[j0:j0 + B_TILE], bid[j0:j0 + B_TILE]
                nbt = nb[j0:j0 + B_TILE]
                # raw dot / norm-product, the exact formula every SQL
                # oracle replays (division AFTER the dot, not row
                # pre-normalization — keeps 6dp boundary behavior)
                sims = np.round((At @ Bt.T) / (nat[:, None] * nbt[None, :]), 6)
                sims[at_ids[:, None] == bt_ids[None, :]] = -np.inf
                tile_i = np.broadcast_to(bt_ids, sims.shape)
                if run_s is None:
                    run_s, run_i = sims, tile_i
                else:
                    run_s = np.concatenate([run_s, sims], axis=1)
                    run_i = np.concatenate([run_i, tile_i], axis=1)
                run_s, run_i = _topk_with_ties(run_s, run_i, k)
            fin = np.isfinite(run_s)
            n_per_row = fin.sum(axis=1)
            out_a.append(np.repeat(at_ids, n_per_row))
            out_n.append(run_i[fin])
            out_s.append(run_s[fin])
        return pd.DataFrame({
            "anchor": np.concatenate(out_a),
            "neighbor": np.concatenate(out_n),
            "score": np.concatenate(out_s),
        })

    scored = (
        anchors.groupBy(key)
        .cogroup(cands.groupBy(key))
        .applyInPandas(
            lambda left, right: cell_topk(left, right),
            schema="anchor long, neighbor long, score double",
        )
    )
    return _rank_topk(scored, k)


# Absolute ceiling on the auto-sized hash-medoid centroid count: the
# centroid matrix is collect()ed + broadcast and the assignment matmul is
# O(n·k·d), so k must not keep growing with the corpus (the DF_CAP_CEILING
# rule: every relative cap needs an absolute one). 4096×768 float64 ≈ 25 MB
# broadcast — comfortably executor-resident at 100 TB.
SEMDEDUP_CENTROID_CEILING = 4096


def hash_medoid_centroids(
    emb: DataFrame, id_col: str, vec_col: str, n: int
) -> np.ndarray:
    """The oracle-pinned hash-medoid quantizer recipe, in ONE place: the
    `n` corpus vectors with smallest portable 60-bit hash of their id
    (id tie-break), unit-normalized, indexed in hash order. Every
    xengine oracle that replays a quantizer replays exactly this —
    keep the recipe here so a change lands in every consumer or none."""
    from tlmc_etl_spark.operators.dedup import portable_hash60

    seed_rows = (
        emb.select(id_col, vec_col)
        .orderBy(portable_hash60(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n)
        .collect()
    )
    C = np.array([r[vec_col] for r in seed_rows], dtype=np.float64)
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def semantic_dedup_portable(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """SemDeDup-style cluster-scoped dedup with a DETERMINISTIC,
    SQL-replayable quantizer: coarse centroids are hash-medoids
    (portable md5 order, zero k-means iterations), each vector joins its
    argmax-cosine cell (round(·,6) with index tie-break), and within a
    cell a vector is dropped when an EARLIER-id member's rounded cosine
    reaches SEMDEDUP_THRESHOLD — dup_of is the smallest such id, NULL for
    kept rows.

    Plan shape: assignment is one broadcast matmul per Arrow batch; the
    pairwise stage is a self equi-join on the cell id, so work is
    sum(cell^2) — the quantizer bounds it the way IVF bounds serving —
    and nothing ever cross-joins the corpus. The keep/drop comparison
    uses the ROUNDED cosine so both engines decide from the same 6dp
    value (the xengine convention).

    The centroid count auto-sizes to ceil(n / SEMDEDUP_TARGET_CELL)
    (floor 16, ceiling SEMDEDUP_CENTROID_CEILING): EXPECTED cell
    occupancy stays ~SEMDEDUP_TARGET_CELL as the corpus grows, so the in-cell pair join — the
    operator's cost — stays ~linear in n instead of quadratic (the same
    scale rule the LSH key width follows; a pinned centroid count means
    cells fill ∝ n and pairs ∝ n²). The ABSOLUTE ceiling bounds the
    other axis (the DF_CAP_CEILING rule): hash_medoid_centroids
    collect()s + broadcasts k full vectors and the assignment matmul is
    O(n·k·d), so an uncapped k ∝ n makes assignment quadratic and grows
    the driver/broadcast footprint with the corpus. Beyond the ceiling
    cell occupancy grows ∝ n/k — at that scale swap the hash-medoid
    quantizer for the sampled-kmeans IVF one (kmeans_centroids) and
    shard the matmul, which is a serving-index decision, not a dedup
    semantics change. The sizing rule is itself SQL-replayable (a count,
    a ceil, a least/greatest), so the oracle stays pinned to the
    operator at every sf."""
    import math as _math

    n_centroids = min(
        SEMDEDUP_CENTROID_CEILING,
        max(16, _math.ceil(emb.count() / SEMDEDUP_TARGET_CELL)),
    )
    C = hash_medoid_centroids(emb, id_col, vec_col, n_centroids)
    bc = emb.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        cent = bc.value
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            # argmax of the ROUNDED sims: first max = smallest index on
            # ties, the same rank the oracle's (sim DESC, ci ASC) window
            # produces — and O(k) per row where an argsort would pay
            # O(k log k) for a column we'd throw away (k grows ~n/128)
            sims = np.round(Vn @ cent.T, 6)
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = np.argmax(sims, axis=1)
            yield out

    vt = emb.schema[vec_col].dataType.simpleString()
    assigned = _with_unit_norm(
        emb.select(id_col, vec_col).mapInPandas(
            assign, schema=f"{id_col} long, {vec_col} {vt}, cell int"
        ),
        vec_col,
    ).localCheckpoint(eager=True)
    # assignment is fully materialized by the eager checkpoint — free the
    # centroid matrix now (it auto-sizes ~n/128 x dim, corpus-proportional)
    # instead of pinning it for the returned lazy plan's lifetime
    bc.destroy()

    a = assigned.select(
        F.col(id_col).alias("__ida"), F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"), "cell",
    )
    b = assigned.select(
        F.col(id_col).alias("__idb"), F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"), "cell",
    )
    pairs = a.join(b, "cell").filter(F.col("__idb") < F.col("__ida"))

    def score(batches):
        for pdf in batches:
            A = np.array(pdf["va"].tolist(), dtype=np.float64)
            B = np.array(pdf["vb"].tolist(), dtype=np.float64)
            cos = np.round(
                (A * B).sum(axis=1) / (pdf["na"].to_numpy() * pdf["nb"].to_numpy()), 6
            )
            keep = cos >= SEMDEDUP_THRESHOLD
            yield pd.DataFrame(
                {
                    "__ida": pdf["__ida"].to_numpy()[keep],
                    "__idb": pdf["__idb"].to_numpy()[keep],
                }
            )

    dups = (
        pairs.select("__ida", "va", "na", "__idb", "vb", "nb")
        .mapInPandas(score, schema="__ida long, __idb long")
        .groupBy("__ida")
        .agg(F.min("__idb").alias("dup_of"))
    )
    return (
        assigned.select(F.col(id_col), "cell")
        .join(dups.withColumnRenamed("__ida", id_col), id_col, "left")
        .select(
            id_col, "cell", "dup_of", F.col("dup_of").isNull().alias("is_kept")
        )
    )


def training_sample(emb: DataFrame, id_col: str, vec_col: str) -> np.ndarray:
    """Unit-normalized quantizer training rows: take-ordered by
    xxhash64(id) (a deterministic, layout-independent pseudo-shuffle) and
    capped at TRAIN_CAP — a distributed take-ordered, so the driver never
    holds more than the cap no matter the corpus size. Every k-means
    quantizer (IVF cells, PQ codebooks, the OPQ rotation) trains on it."""
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(TRAIN_CAP)
        .collect()
    )
    M = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return M / np.linalg.norm(M, axis=1, keepdims=True)


def kmeans_centroids(M: np.ndarray, n_centroids: int) -> np.ndarray:
    """Plain k-means on a (driver-side) sample — deterministic seed, used
    to build the IVF coarse quantizer. At 100 TB the sample is a
    `df.sample(fraction).collect()` of ~100k vectors; the clustering cost
    is independent of corpus size."""
    rng = np.random.default_rng(SEED)
    idx = rng.choice(len(M), size=min(n_centroids, len(M)), replace=False)
    C = M[np.sort(idx)].copy()
    for _ in range(KMEANS_ITERS):
        assign = np.argmax(M @ C.T, axis=1)  # cosine assignment (unit-norm'd below)
        for c in range(len(C)):
            members = M[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[c] = m / n
    return C


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_centroids: int,
    n_probe: int,
) -> DataFrame:
    """IVF approximate cosine top-k: coarse k-means quantizer, candidates
    restricted to the anchor's n_probe nearest cells.

    The faiss-IVF shape (the reference builds OPQ+IVF16384+PQ over 9.7M
    chunks, faiss_index_builder.py:10-23) reduced to its Spark-native
    core: cell assignment is a broadcast matmul, the candidate join is an
    equi-join on cell id — Σ cell² × probe work instead of |n|². Scores on
    candidates are exact cosine; only the candidate set is approximate.

    The quantizer trains on the bounded driver-side training_sample, so
    clustering cost is independent of corpus size; only centroids
    broadcast.
    """
    C = kmeans_centroids(training_sample(emb, id_col, vec_col), n_centroids)
    return _ivf_serve(emb, id_col, vec_col, k, C, n_probe, round_assign=False)
