"""Index persistence gates: a reloaded IVF+PQ index must be the SAME
index — bit-exact tensors, identical encodings — not a similar one."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tlmc_etl_spark.operators.pq import pq_encode, pq_train_codebooks
from tlmc_etl_spark.operators.vectors import kmeans_centroids
from tlmc_etl_spark.scratch import scratch_dir
from tlmc_etl_spark.sinks.index_store import load_ivfpq_index, save_ivfpq_index
from tlmc_etl_spark.sources.tables import load_table


def _build(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy(F.xxhash64("vec_id")).limit(500).collect()
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    coarse = kmeans_centroids(Mn, 8)
    codebooks = pq_train_codebooks(emb, "vec_id", "embedding")
    codes = pq_encode(emb, "vec_id", "embedding", codebooks)
    return emb, coarse, codebooks, codes


def test_roundtrip_is_bit_exact_and_scores_identically(spark, sf_dir):
    emb, coarse, codebooks, codes = _build(spark, sf_dir)
    path = scratch_dir(spark, "ivfpq_index", sf_dir)
    save_ivfpq_index(spark, path, coarse, codebooks, codes)

    coarse2, codebooks2, codes2 = load_ivfpq_index(spark, path)
    assert np.array_equal(coarse, coarse2), "coarse centroids drifted in storage"
    assert np.array_equal(codebooks, codebooks2), "codebooks drifted in storage"

    stored = {r["vec_id"]: r["codes"] for r in codes2.collect()}
    fresh = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert stored == fresh, "encoded corpus changed through the store"

    # the real contract: ENCODING with the reloaded codebooks reproduces
    # the stored codes exactly — a new vector encoded tomorrow against the
    # loaded index lands in the same cells/codes as today
    re_encoded = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb, "vec_id", "embedding", codebooks2).collect()
    }
    assert re_encoded == fresh
