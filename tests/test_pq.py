"""Differential gates for product quantization — lossy by design, so the
gates check internal consistency exactly (ADC table arithmetic must equal
decode-then-dot), and quality statistically against honest floors for the
synthetic corpus (random-ish 64-dim data is PQ's worst case: no cluster
structure to exploit; recall floors are ~100x the random baseline, not
the 0.9s a clustered real corpus would show).
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

import tlmc_etl_spark.operators.pq as pq
from tlmc_etl_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    pq_reconstruction,
    pq_train_codebooks,
)
from tlmc_etl_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def np_corpus(spark, sf_dir):
    rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, M / np.linalg.norm(M, axis=1, keepdims=True)


def test_encode_is_deterministic_and_in_range(spark, emb):
    cb = pq_train_codebooks(emb, "vec_id", "embedding")
    a = {r["vec_id"]: r["codes"] for r in pq_encode(emb, "vec_id", "embedding", cb).collect()}
    b = {r["vec_id"]: r["codes"] for r in pq_encode(emb, "vec_id", "embedding", cb).collect()}
    assert a == b, "same codebooks must encode identically across runs"
    for codes in a.values():
        assert len(codes) == 8
        assert all(0 <= c < 16 for c in codes)


def test_adc_score_equals_decode_then_dot(spark, emb, np_corpus, monkeypatch):
    # the ADC lookup-table path is an EXACT rewrite of dot(anchor,
    # decode(codes)) — any drift is a real bug, not quantization loss
    ids, Mn = np_corpus
    cb = pq_train_codebooks(emb, "vec_id", "embedding")
    codes = {r["vec_id"]: np.array(r["codes"]) for r in pq_encode(emb, "vec_id", "embedding", cb).collect()}
    monkeypatch.setattr(pq, "K_NEIGHBORS", 5)
    monkeypatch.setattr(pq, "ADC_N_ANCHORS", 5)
    got = pq_adc_topk(emb, "vec_id", "embedding").collect()
    assert got, "no ADC rows produced"
    m, k, ds = cb.shape
    for r in got:
        q = Mn[np.where(ids == r["anchor"])[0][0]]
        decoded = np.concatenate([cb[s][codes[r["neighbor"]][s]] for s in range(m)])
        assert abs(r["adc_score"] - float(q @ decoded)) < 1e-5, (
            f"ADC table path diverged from decode-then-dot on {r}"
        )


def test_reconstruction_quality_floor_and_improves_with_k(spark, emb, monkeypatch):
    cb16 = pq_train_codebooks(emb, "vec_id", "embedding")
    monkeypatch.setattr(pq, "PQ_N_CODES", 64)
    cb64 = pq_train_codebooks(emb, "vec_id", "embedding")
    r16 = pq_reconstruction(emb, "vec_id", "embedding", cb16).agg(
        F.mean("recon_cosine").alias("m")
    ).first()["m"]
    r64 = pq_reconstruction(emb, "vec_id", "embedding", cb64).agg(
        F.mean("recon_cosine").alias("m")
    ).first()["m"]
    assert r16 > 0.5, f"mean reconstruction cosine {r16:.3f} below floor"
    assert r64 > r16, "larger codebooks must reconstruct better"


def test_adc_recall_beats_random_by_two_orders(spark, emb, np_corpus):
    ids, Mn = np_corpus
    S = Mn @ Mn.T
    np.fill_diagonal(S, -np.inf)
    topk = pq_adc_topk(emb, "vec_id", "embedding").collect()
    by_anchor: dict[int, set[int]] = {}
    for r in topk:
        by_anchor.setdefault(r["anchor"], set()).add(r["neighbor"])
    recalls = []
    for a, got in by_anchor.items():
        ai = np.where(ids == a)[0][0]
        exact = set(ids[np.argsort(-S[ai])[:10]].tolist())
        recalls.append(len(exact & got) / 10.0)
    mean_recall = float(np.mean(recalls))
    random_baseline = 10.0 / len(ids)
    assert mean_recall > 0.15, f"ADC recall {mean_recall:.3f} below floor"
    assert mean_recall > 5 * random_baseline, (
        f"ADC recall {mean_recall:.3f} not clearly above random "
        f"({random_baseline:.3f} at n={len(ids)})"
    )


def test_ivf_pq_composition_recall_and_shape(spark, emb, np_corpus):
    from tlmc_etl_spark.operators.pq import ivf_pq_topk

    ids, Mn = np_corpus
    S = Mn @ Mn.T
    np.fill_diagonal(S, -np.inf)
    got = ivf_pq_topk(emb, "vec_id", "embedding").collect()
    by_anchor: dict[int, list] = {}
    for r in got:
        by_anchor.setdefault(r["anchor"], []).append(r)
    # every vector is an anchor; ranks are dense 1..k'
    assert len(by_anchor) == len(ids)
    for a, rows in by_anchor.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(ranks) + 1))
    # two approximations stack (IVF candidate cut x PQ ranking); the gate
    # is the honest compound floor on random-ish data, still far above
    # the random baseline
    recalls = []
    for a, rows in by_anchor.items():
        ai = np.where(ids == a)[0][0]
        exact = set(ids[np.argsort(-S[ai])[:10]].tolist())
        got_ids = {r["neighbor"] for r in rows}
        recalls.append(len(exact & got_ids) / 10.0)
    mean_recall = float(np.mean(recalls))
    random_baseline = 10.0 / len(ids)
    assert mean_recall > 0.10, f"IVF+PQ recall {mean_recall:.3f} below floor"
    assert mean_recall > 3 * random_baseline


class TestOPQRotation:
    def test_rotation_is_orthogonal_and_deterministic(self, spark, emb):
        from tlmc_etl_spark.operators.pq import opq_rotation

        R1 = opq_rotation(emb, "vec_id", "embedding")
        R2 = opq_rotation(emb, "vec_id", "embedding")
        assert np.allclose(R1, R2), "rotation must be deterministic"
        d = R1.shape[0]
        assert np.allclose(R1 @ R1.T, np.eye(d), atol=1e-9)

    def test_rotation_preserves_cosine(self, spark, emb, np_corpus):
        from tlmc_etl_spark.operators.pq import opq_rotation, rotate_vectors

        ids, Mn = np_corpus
        R = opq_rotation(emb, "vec_id", "embedding")
        rot = {
            r["vec_id"]: np.array(r["embedding"])
            for r in rotate_vectors(emb, "vec_id", "embedding", R).collect()
        }
        for i in range(0, 20, 2):
            a, b = ids[i], ids[i + 1]
            orig = float(Mn[i] @ Mn[i + 1])
            ra, rb = rot[a], rot[b]
            after = float(ra @ rb / (np.linalg.norm(ra) * np.linalg.norm(rb)))
            assert abs(orig - after) < 1e-9

    def test_round_robin_beats_blocked_eigen_assignment(self, spark, emb, np_corpus):
        # the property the dealing guarantees: variance is spread across
        # subspaces far more evenly than the naive blocked PCA split
        # (subspace 0 = top-8 components), which starves the tail
        # codebooks — THAT is what OPQ's rotation exists to prevent
        from tlmc_etl_spark.operators.pq import opq_rotation

        ids, Mn = np_corpus
        d = Mn.shape[1]
        ds = d // 8

        def spread(X):
            v = np.array([X[:, s * ds : (s + 1) * ds].var(axis=0).sum() for s in range(8)])
            return v.max() / max(v.min(), 1e-12)

        C = np.cov(Mn, rowvar=False)
        eigvals, eigvecs = np.linalg.eigh(C)
        blocked = Mn @ eigvecs[:, np.argsort(-eigvals)]  # top-8 together
        R = opq_rotation(emb, "vec_id", "embedding")
        dealt = Mn @ R.T
        assert spread(dealt) < spread(blocked), (
            f"dealt spread {spread(dealt):.3f} must beat blocked {spread(blocked):.3f}"
        )

    def test_opq_recon_not_worse_than_plain_pq(self, spark, emb):
        from pyspark.sql import functions as SF

        from tlmc_etl_spark.operators.pq import (
            opq_rotation,
            pq_reconstruction,
            pq_train_codebooks,
            rotate_vectors,
        )

        cb = pq_train_codebooks(emb, "vec_id", "embedding")
        plain = pq_reconstruction(emb, "vec_id", "embedding", cb).agg(
            SF.mean("recon_cosine")
        ).first()[0]
        R = opq_rotation(emb, "vec_id", "embedding")
        rotated = rotate_vectors(emb, "vec_id", "embedding", R)
        cb_r = pq_train_codebooks(rotated, "vec_id", "embedding")
        opq = pq_reconstruction(rotated, "vec_id", "embedding", cb_r).agg(
            SF.mean("recon_cosine")
        ).first()[0]
        # isotropic synthetic data leaves little to gain; the gate is
        # "the rotation must not hurt" (real correlated corpora gain)
        assert opq >= plain - 0.02, f"OPQ recon {opq:.4f} vs plain {plain:.4f}"
