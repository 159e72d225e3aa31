"""Product quantization: subspace codebooks, compact codes, ADC scoring.

The reference's serving index is OPQ64,IVF16384,PQ64x8 — vectors stored
as per-subspace centroid ids and scored by Asymmetric Distance
Computation (faiss_index_builder.py:10-23). This module is that
compression story as Spark-native pieces (the int8 scalar quantizer in
plans/vectors.py is the simpler sibling):

 - `pq_train_codebooks`: per-subspace k-means on a bounded deterministic
   sample (same take-ordered cap as IVF training — driver cost is
   independent of corpus size; only the (m × k × d/m) codebook tensor,
   a few KB, ever broadcasts).
 - `pq_encode`: vectors → m small ints, one argmin matmul per subspace
   per Arrow batch. A 64-dim float32 vector (256 B) becomes 8 code
   bytes — the 32× compression that lets a 100 TB corpus's index live
   in executor memory.
 - `pq_adc_scores`: queries keep full precision; candidates are scored
   from their codes via per-query lookup tables (ADC) — m table reads
   per pair instead of a d-element dot product, and the decoded corpus
   never materializes.

Quantization is lossy by design; tests gate reconstruction cosine and
ADC-vs-exact ranking agreement differentially (the reference gates its
GPU kernels the same way, precompute_similar_tracks.py:158-193).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tlmc_etl_spark.operators.vectors import (
    SEED,
    hash_medoid_centroids,
    kmeans_centroids,
    training_sample,
)
from tlmc_etl_spark.tuning import fanout

# The operators' fixed configuration: one value per setting, the one
# every caller uses.
SUBSPACE_ITERS = 10
# neighbors per anchor; IVF cells and cells probed per anchor
K_NEIGHBORS = 10
IVF_N_CENTROIDS = 16
IVF_N_PROBE = 4
# k-means PQ: subspaces, codewords per subspace, ADC anchors (id < n)
PQ_M = 8
PQ_N_CODES = 16
ADC_N_ANCHORS = 20
# hash-medoid (SQL-replayable) PQ: subspaces, codewords, anchors of the
# ADC and IVF+PQ forms
PORTABLE_M = 4
PORTABLE_N_CODES = 8
PORTABLE_ADC_N_ANCHORS = 20
PORTABLE_IVF_N_ANCHORS = 200


def _subspace_kmeans(X: np.ndarray, k: int, seed: int) -> np.ndarray:
    """Plain L2 k-means for one subspace (numpy, deterministic seed)."""
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(SUBSPACE_ITERS):
        # ||x-c||^2 = |x|^2 - 2 x.c + |c|^2 ; |x|^2 constant per row
        d = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        assign = np.argmin(d, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def opq_rotation(emb: DataFrame, id_col: str, vec_col: str) -> np.ndarray:
    """Deterministic OPQ-style (d × d) orthogonal rotation: PCA basis with
    eigencomponents dealt round-robin across the PQ_M subspaces.

    The reference's OPQ64 learns a rotation that balances information
    across PQ subspaces so no codebook is starved (faiss's OPQ
    pre-transform). This is the closed-form variant: eigendecompose the
    sample covariance (symmetric → numpy eigh is deterministic), then
    interleave components by descending eigenvalue across subspaces —
    subspace s gets components s, s+m, s+2m, … — so each subspace's
    variance budget is near-equal without the iterative codebook/rotation
    alternation (which needs many passes and buys little below PQ64x8
    scale). Orthogonality and the variance-balance property are gated in
    tests/test_pq.py; rotating by ANY orthogonal matrix preserves
    cosines, so downstream semantics are unchanged by construction.
    """
    m = PQ_M
    M = training_sample(emb, id_col, vec_col)
    d = M.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    C = np.cov(M, rowvar=False)
    eigvals, eigvecs = np.linalg.eigh(C)  # ascending
    order = np.argsort(-eigvals)  # descending variance
    # deal components round-robin: subspace s takes ranks s, s+m, s+2m...
    ds = d // m
    perm = np.empty(d, dtype=np.int64)
    for s in range(m):
        for j in range(ds):
            perm[s * ds + j] = order[j * m + s]
    R = eigvecs[:, perm].T  # rows = chosen basis vectors -> x' = R @ x
    # fix eigenvector sign ambiguity deterministically: first nonzero
    # component of each basis vector is made positive
    for i in range(d):
        row = R[i]
        nz = row[np.abs(row) > 1e-12]
        if len(nz) and nz[0] < 0:
            R[i] = -row
    return R


def rotate_vectors(emb: DataFrame, id_col: str, vec_col: str, R: np.ndarray) -> DataFrame:
    """Apply an orthogonal rotation to a vector column (one matmul per
    Arrow batch); output schema matches the input column name so rotated
    tables drop into any downstream operator."""
    bc = emb.sparkSession.sparkContext.broadcast(R)

    def rot(batches):
        Rm = bc.value
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out = pdf[[id_col]].copy()
            out[vec_col] = (V @ Rm.T).tolist()
            yield out

    return emb.select(id_col, vec_col).mapInPandas(
        rot, schema=f"{id_col} long, {vec_col} array<double>"
    )


def _kmeans_codebooks(M: np.ndarray) -> np.ndarray:
    """(PQ_M, PQ_N_CODES, d/PQ_M) tensor: one seeded L2 k-means per
    subspace of M."""
    m, k = PQ_M, PQ_N_CODES
    d = M.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    return np.stack(
        [_subspace_kmeans(M[:, i * ds : (i + 1) * ds], k, SEED + i) for i in range(m)]
    )


def pq_train_codebooks(emb: DataFrame, id_col: str, vec_col: str) -> np.ndarray:
    """(PQ_M, PQ_N_CODES, d/PQ_M) codebook tensor from a deterministic
    bounded sample.

    Vectors are unit-normalized before training (the corpus is scored by
    cosine, so codebooks should tile the unit sphere's subspace
    projections, not raw magnitudes). Sample = vectors.training_sample,
    the same layout-independent bound ivf_topk trains under.
    """
    return _kmeans_codebooks(training_sample(emb, id_col, vec_col))


def _encode_codes(Vn: np.ndarray, cb: np.ndarray, round_d2: bool) -> np.ndarray:
    """(n, m) nearest-codeword ids of unit rows Vn: per subspace, argmin
    of d2 = |c|^2 - 2 x·c (|x|^2 is constant per row); ties go to the
    smallest index (np.argmin == the oracles' (d2 ASC, ci ASC) window).

    `round_d2` ranks round(d2, 6) instead of raw d2 — the SQL-replayable
    convention: the chosen code then depends only on the 6dp value both
    engines agree on. The k-means forms and their literal-codebook
    oracles rank raw d2."""
    m, _, ds = cb.shape
    codes = np.empty((len(Vn), m), dtype=np.int32)
    for s in range(m):
        d2 = (cb[s] * cb[s]).sum(axis=1)[None, :] - 2.0 * (Vn[:, s * ds : (s + 1) * ds] @ cb[s].T)
        codes[:, s] = np.argmin(np.round(d2, 6) if round_d2 else d2, axis=1)
    return codes


def pq_encode(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    round_d2: bool = False,
) -> DataFrame:
    """(id, codes array<int>): nearest centroid id per subspace
    (_encode_codes, raw or 6dp-rounded d2).

    One argmin matmul per subspace per Arrow batch; the codebook tensor
    rides a broadcast. Encoding normalizes like training did.
    """
    bc = emb.sparkSession.sparkContext.broadcast(codebooks)

    def encode(batches):
        cb = bc.value
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            codes = _encode_codes(V, cb, round_d2)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": [c.tolist() for c in codes]}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} long, codes array<int>"
    )


def pq_reconstruction(
    emb: DataFrame, id_col: str, vec_col: str, codebooks: np.ndarray
) -> DataFrame:
    """(id, recon_cosine): cosine between each unit vector and its PQ
    decode — the per-row lossiness audit (the monitored number a lossy
    index ships with, like the int8 quantizer's rmse_steps)."""
    bc = emb.sparkSession.sparkContext.broadcast(codebooks)

    def recon(batches):
        cb = bc.value
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            codes = _encode_codes(V, cb, round_d2=False)
            R = np.concatenate([cb[s][codes[:, s]] for s in range(len(cb))], axis=1)
            Rn = R / np.clip(np.linalg.norm(R, axis=1, keepdims=True), 1e-12, None)
            cos = (V * Rn).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "recon_cosine": np.round(cos, 6)})

    return emb.select(id_col, vec_col).mapInPandas(
        recon, schema=f"{id_col} long, recon_cosine double"
    )


def ivf_pq_topk(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The reference's full index shape — IVF coarse quantizer + PQ codes +
    ADC scoring (OPQ64,IVF16384,PQ64x8 minus the learned rotation,
    faiss_index_builder.py:10-23) — as one composed Spark plan.

    Coarse cells prune candidates (Σ cell² × probe work instead of n²);
    within the probed cells every pair is scored from the candidate's
    m-byte code via table lookups — the full float vector of only the
    ANCHOR side rides the join, so the wide side of the shuffle carries
    codes, not embeddings. This is the memory contract that makes a
    100 TB corpus servable: cells + codes fit executors; raw vectors are
    read once at encode time.

    Output: (anchor, neighbor, adc_score, rank) — scores are approximate
    (PQ-lossy), candidate sets are approximate (IVF); both stages'
    quality floors are gated differentially in tests/test_pq.py.
    """
    spark = emb.sparkSession
    # coarse quantizer + codebooks train on the same bounded sample
    Mn = training_sample(emb, id_col, vec_col)
    coarse = kmeans_centroids(Mn, IVF_N_CENTROIDS)
    codebooks = _kmeans_codebooks(Mn)
    bc = spark.sparkContext.broadcast((coarse, codebooks))

    def cell_and_code(batches):
        C, cb = bc.value
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = Vn @ C.T
            codes = _encode_codes(Vn, cb, round_d2=False)
            probes = np.argsort(-sims, axis=1)[:, :IVF_N_PROBE]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cell": np.argmax(sims, axis=1),
                    "probe_cells": [p.tolist() for p in probes],
                    "codes": [c.tolist() for c in codes],
                }
            )

    vt = emb.schema[vec_col].dataType.simpleString()
    indexed = emb.select(id_col, vec_col).mapInPandas(
        cell_and_code,
        schema=(
            f"{id_col} long, {vec_col} {vt}, cell int, "
            "probe_cells array<int>, codes array<int>"
        ),
    ).localCheckpoint(eager=True)

    return _ivf_pq_serve(indexed, codebooks, id_col, vec_col)


def _ivf_pq_serve(
    indexed: DataFrame,
    codebooks: np.ndarray,
    id_col: str,
    vec_col: str,
    anchor_cap: int | None = None,
) -> DataFrame:
    """Shared IVF+PQ serving tail over an indexed table (id, vec, cell,
    probe_cells, codes): candidate side ships only m-byte codes, anchors
    explode over probe cells, ADC scores per pair, per-anchor rank.
    Both quantizer forms (k-means ivf_pq_topk, hash-medoid
    ivf_pq_topk_portable) feed this — the serving arithmetic exists
    once. `anchor_cap` bounds the anchor set (id < cap) for the
    oracle-replayable form."""
    m = codebooks.shape[0]
    ds = codebooks.shape[2]
    bc = indexed.sparkSession.sparkContext.broadcast(codebooks)

    cands = indexed.select(
        F.col(id_col).alias("neighbor"), "cell", F.col("codes").alias("nb_codes")
    )
    a_src = indexed if anchor_cap is None else indexed.filter(F.col(id_col) < anchor_cap)
    anchors = a_src.select(
        F.col(id_col).alias("anchor"),
        F.col(vec_col).alias("va"),
        F.explode("probe_cells").alias("cell"),
    )
    pairs = anchors.join(cands, "cell").filter(F.col("anchor") != F.col("neighbor"))

    def adc(batches):
        cb = bc.value
        for pdf in batches:
            A = np.array(pdf["va"].tolist(), dtype=np.float64)
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            C = np.array(pdf["nb_codes"].tolist(), dtype=np.int64)
            S = np.zeros(len(pdf))
            for s in range(m):
                # per-row subspace dot against the candidate's chosen centroid
                S += (An[:, s * ds : (s + 1) * ds] * cb[s][C[:, s]]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "anchor": pdf["anchor"],
                    "neighbor": pdf["neighbor"],
                    "adc_score": np.round(S, 6),
                }
            )

    scored = fanout(pairs.select("anchor", "va", "neighbor", "nb_codes")).mapInPandas(
        adc, schema="anchor long, neighbor long, adc_score double"
    )
    w = W.partitionBy("anchor").orderBy(
        F.col("adc_score").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_NEIGHBORS)
        .select("anchor", "neighbor", "adc_score", "rank")
    )


def _subspace_codebooks(S: np.ndarray) -> np.ndarray:
    """(PORTABLE_M, PORTABLE_N_CODES, d/PORTABLE_M) codebook tensor = the
    first PORTABLE_N_CODES unit seed vectors sliced per subspace — the
    oracle-pinned portable codebook recipe, shared by every *_portable PQ
    operator so the rule the SQL twins replay lives in exactly one place."""
    m, n_codes = PORTABLE_M, PORTABLE_N_CODES
    d = S.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    return np.stack([S[:n_codes, s * ds : (s + 1) * ds] for s in range(m)])


def ivf_pq_topk_portable(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The full IVF+PQ index shape with BOTH quantizers deterministic
    and SQL-replayable: coarse centroids are the IVF_N_CENTROIDS
    hash-medoid unit vectors (portable md5 order), PQ codewords the
    first PORTABLE_N_CODES of the same seed list sliced per subspace, and
    every ranking (cell assignment, code assignment) works on
    round(·, 6) values with index tie-breaks — so DuckDB replays
    quantize -> encode -> probe -> ADC -> rank end-to-end. Same plan
    shape as ivf_pq_topk (candidate side ships only m-byte codes, the
    memory contract that serves a 100 TB corpus); only the quantizer
    training differs. Anchors are bounded (id < PORTABLE_IVF_N_ANCHORS)
    to keep the oracle replay's pair count driver-friendly."""
    S = hash_medoid_centroids(
        emb, id_col, vec_col, max(IVF_N_CENTROIDS, PORTABLE_N_CODES)
    )
    coarse = S[:IVF_N_CENTROIDS]
    codebooks = _subspace_codebooks(S)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast((coarse, codebooks))

    def cell_and_code(batches):
        C, cb = bc.value
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            # round BEFORE ranking everywhere: chosen cells/codes must
            # depend only on 6dp values both engines agree on
            sims = np.round(Vn @ C.T, 6)
            order = np.argsort(-sims, axis=1, kind="stable")
            codes = _encode_codes(Vn, cb, round_d2=True)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cell": order[:, 0],
                    "probe_cells": [p.tolist() for p in order[:, :IVF_N_PROBE]],
                    "codes": [c.tolist() for c in codes],
                }
            )

    vt = emb.schema[vec_col].dataType.simpleString()
    indexed = emb.select(id_col, vec_col).mapInPandas(
        cell_and_code,
        schema=(
            f"{id_col} long, {vec_col} {vt}, cell int, "
            "probe_cells array<int>, codes array<int>"
        ),
    ).localCheckpoint(eager=True)

    return _ivf_pq_serve(
        indexed, codebooks, id_col, vec_col, anchor_cap=PORTABLE_IVF_N_ANCHORS
    )


def _adc_serve(
    emb: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    id_col: str,
    vec_col: str,
    n_anchors: int,
) -> DataFrame:
    """Shared ADC serving plan: anchors keep full precision, their
    codebooks collapse to (m x k) lookup tables, every candidate is
    scored from its m-byte code with m table reads, ranked per anchor.
    Both codebook forms (k-means pq_adc_topk, hash-medoid
    pq_adc_topk_portable) feed this — a fix to the serving arithmetic
    lands once."""
    m, _, ds = codebooks.shape
    a_rows = (
        emb.filter(F.col(id_col) < n_anchors).select(id_col, vec_col).collect()
    )
    a_ids = np.array([r[id_col] for r in a_rows], dtype=np.int64)
    A = np.array([r[vec_col] for r in a_rows], dtype=np.float64)
    A = A / np.linalg.norm(A, axis=1, keepdims=True)
    # tables[q, s, c] = dot(anchor_q subspace_s, codebook[s][c])
    tables = np.einsum("qsd,scd->qsc", A.reshape(len(A), m, ds), codebooks)
    bc = emb.sparkSession.sparkContext.broadcast((a_ids, tables))

    def score(batches):
        ids_q, T = bc.value
        for pdf in batches:
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (B, m)
            n_ids = pdf[id_col].to_numpy()
            S = np.zeros((len(pdf), len(ids_q)))
            for s in range(T.shape[1]):
                # T[:, s, :] is (Q, k); C[:, s] selects per-candidate cols
                S += T[:, s, C[:, s]].T
            n_c, n_q = S.shape
            yield pd.DataFrame(
                {
                    "anchor": np.repeat(ids_q[None, :], n_c, axis=0).ravel(),
                    "neighbor": np.repeat(n_ids, n_q),
                    "adc_score": np.round(S.ravel(), 6),
                }
            )

    scored = codes.mapInPandas(
        score, schema="anchor long, neighbor long, adc_score double"
    ).filter(F.col("anchor") != F.col("neighbor"))
    w = W.partitionBy("anchor").orderBy(
        F.col("adc_score").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_NEIGHBORS)
        .select("anchor", "neighbor", "adc_score", "rank")
    )


def pq_adc_topk_portable(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """ADC top-k with a DETERMINISTIC, SQL-replayable codebook: the
    codewords of subspace s are the s-th sub-vectors of the
    PORTABLE_N_CODES unit-normalized corpus vectors with smallest
    portable md5 hash of their id (hash-sampled medoids, zero k-means
    iterations), indexed
    in hash order. Encoding ranks round(|c|^2 - 2 x·c, 6) ascending
    with index tie-break, so DuckDB replays codebook -> encode -> ADC
    lookup -> rank exactly — the xengine pattern applied to PQ. Same
    serving arithmetic as pq_adc_topk (m table reads per pair,
    candidates never decoded); only codebook training differs."""
    S = hash_medoid_centroids(emb, id_col, vec_col, PORTABLE_N_CODES)
    codebooks = _subspace_codebooks(S)
    codes = pq_encode(emb, id_col, vec_col, codebooks, round_d2=True)
    return _adc_serve(emb, codes, codebooks, id_col, vec_col, PORTABLE_ADC_N_ANCHORS)


def pq_recon_portable(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, recon_cosine) lossiness audit with the DETERMINISTIC,
    SQL-replayable codebook of pq_adc_topk_portable: hash-medoid
    codewords (portable md5 order, zero k-means iterations),
    round-before-argmin encoding, and recon_cosine computed as the sum
    of per-subspace dots over the decode norm — the exact association
    order the DuckDB twin replays — rounded once at the end. Production
    k-means form: pq_reconstruction."""
    S = hash_medoid_centroids(emb, id_col, vec_col, PORTABLE_N_CODES)
    codebooks = _subspace_codebooks(S)
    bc = emb.sparkSession.sparkContext.broadcast(codebooks)

    def recon(batches):
        cb = bc.value
        m, _, ds = cb.shape
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            codes = _encode_codes(V, cb, round_d2=True)
            num = np.zeros(len(pdf))
            den2 = np.zeros(len(pdf))
            for s in range(m):
                Xs = V[:, s * ds : (s + 1) * ds]
                cw = cb[s][codes[:, s]]
                num += (Xs * cw).sum(axis=1)
                den2 += (cw * cw).sum(axis=1)
            cos = np.round(num / np.sqrt(den2), 6)
            yield pd.DataFrame({id_col: pdf[id_col], "recon_cosine": cos})

    return emb.select(id_col, vec_col).mapInPandas(
        recon, schema=f"{id_col} long, recon_cosine double"
    )


def pq_adc_topk(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Approximate cosine top-K_NEIGHBORS by ADC: anchors
    (id < ADC_N_ANCHORS) keep full precision, every candidate is scored
    from its PQ_M-byte code.

    Per anchor the codebook collapses to an (m × k) lookup table of
    subspace dot products; a candidate's score is m table reads — the
    serving arithmetic of a PQ index. The scoring pass is map-only over
    the codes table (anchors' tables broadcast); ranking is one window.
    Output: (anchor, neighbor, adc_score, rank).
    """
    codebooks = pq_train_codebooks(emb, id_col, vec_col)
    codes = pq_encode(emb, id_col, vec_col, codebooks)
    return _adc_serve(emb, codes, codebooks, id_col, vec_col, ADC_N_ANCHORS)
